"""Differential test: every queries() entry with an oracle must match
DuckDB on the same parquet tables — the same check the driver runs."""

import importlib.util
import os

import pytest

from .oracle import compare, run_oracle

_spec = importlib.util.spec_from_file_location(
    "spark_entry", os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "__spark_entry__.py")
)
spark_entry = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(spark_entry)

QUERIES = spark_entry.queries()
ORACLES = spark_entry.oracle_sql()


@pytest.mark.parametrize("name", sorted(ORACLES.keys()))
def test_query_matches_oracle(spark, sf_dir, name):
    sdf = QUERIES[name](spark, sf_dir)
    opdf = run_oracle(ORACLES[name], sf_dir)
    ok, msg = compare(sdf, opdf)
    assert ok, f"{name}: {msg}"


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only_queries_run(spark, sf_dir, name):
    df = QUERIES[name](spark, sf_dir)
    assert df.count() >= 0


def test_first_fifty_registry_entries_are_oracle_backed():
    """The external driver hash-checks only the FIRST 50 queries()
    entries; keep that window 100% oracle-backed (rows-only entries
    belong at the tail)."""
    names = list(QUERIES)
    missing = [n for n in names[:50] if n not in ORACLES]
    assert not missing, f"first-50 entries without an oracle twin: {missing}"


def test_entry_smoke(spark):
    df = spark_entry.entry(spark)
    assert df.count() > 0
    assert len(df.columns) > 5


def test_attest_never_passes_an_unchecked_entry(spark, sf_dir):
    """attest.py's loop reports PASS only after an oracle compare; an entry
    without an oracle runs and reads ROWS-ONLY."""
    import attest

    rows = attest.attest(spark, sf_dir, ["top_k", "approx_profile"])
    got = {name: status for name, status, _, _ in rows}
    assert got == {"top_k": "PASS", "approx_profile": "ROWS-ONLY"}


def test_canon_hash_hashes_array_columns_order_independently():
    """Array cells (ndarray from Spark's toPandas, list from DuckDB) hash by
    value: row order and container type do not matter, contents do."""
    import numpy as np
    import pandas as pd

    import attest

    arrays = pd.DataFrame(
        {
            "k": [1, 2, 3],
            "v": [np.array([0.5, 2.0]), None, np.array([], dtype="float64")],
            "nested": [[[1, 2], [3]], [[4]], []],
        }
    )
    lists = pd.DataFrame(
        {
            "k": [3, 2, 1],
            "v": [[], None, [0.5, 2.0]],
            "nested": [[], [np.array([4])], [np.array([1, 2]), np.array([3])]],
        }
    )
    assert attest._canon_hash(arrays) == attest._canon_hash(lists)
    changed = arrays.copy()
    changed.at[0, "v"] = np.array([0.5, 2.5])
    assert attest._canon_hash(changed) != attest._canon_hash(arrays)


def test_canon_hash_of_scalar_columns_is_pinned():
    """Frames without array columns hash exactly as before array support,
    so every digest recorded earlier keeps its meaning."""
    import pandas as pd

    import attest

    df = pd.DataFrame(
        {
            "user_id": [3, 1, 2],
            "amount": [10.5, -0.25, 1e6],
            "label": ["b", None, "a"],
            "ts": pd.to_datetime(
                ["2024-01-02 03:04:05", "2024-01-01 00:00:00", "2023-12-31 23:59:59"]
            ).tz_localize("UTC"),
        }
    )
    assert attest._canon_hash(df) == attest._canon_hash(df.iloc[::-1]) == 5405075148283534411


@pytest.mark.parametrize("name", ["approx_profile", "multimodal_features"])
def test_canon_hash_accepts_array_valued_entries(spark, sf_dir, name):
    import attest

    pdf = QUERIES[name](spark, sf_dir).toPandas()
    assert attest._canon_hash(pdf) == attest._canon_hash(pdf.iloc[::-1])
