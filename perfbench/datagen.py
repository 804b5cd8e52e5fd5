"""Seeded generator for the benchmark's input tables.

Writes the ten parquet tables the registry reads (the TPC-H-style star
schema plus `events`, `documents` and `embeddings`) with the column
names, types and value ranges of the engine's test tables, and the key
counts and skew, amount distribution and text shape measured on them
(README.md, "Inputs"; `datastats.py` prints the figures). Row counts
follow the scale factor `sf` the way the test schema does (lineitem
6M·sf, events 1M·sf, ...). The same (sf, seed) always gives the same
files, so a committed oracle digest stays valid.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20240101
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["small", "large", "red", "blue", "hot", "old", "new", "green"]
_PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.42, 0.145, 0.145, 0.145, 0.145]
_WORDS = (
    "a the agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "value vector window"
).split()


def _days(start: dt.date, n_days: int, size: int, rng) -> np.ndarray:
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, n_days + 1, size)).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, size: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size), 2)


def _pick(rng, values, size, p=None) -> np.ndarray:
    return np.asarray(values, dtype=object)[rng.choice(len(values), size, p=p)]


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _documents(rng, n: int) -> pa.Table:
    texts = [" ".join(_pick(rng, _WORDS, int(rng.integers(10, 100)))) for _ in range(n)]
    # one doc in 20 becomes a near-duplicate of another (its text plus
    # " dup"), drawn from anywhere in the table, as in the test tables
    for i in rng.choice(n, n // 20, replace=False):
        j = int(rng.integers(0, n - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(_pick(rng, _LANGS, n, _LANG_P), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng, n: int, dim: int = 64, n_labels: int = 10) -> pa.Table:
    centers = rng.normal(size=(n_labels, dim))
    labels = rng.integers(0, n_labels, n)
    vecs = centers[labels] * 0.3 + rng.normal(size=(n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def tables(sf: float) -> dict[str, pa.Table]:
    """All ten tables at scale factor `sf`, as Arrow tables."""
    rng = np.random.default_rng(DATA_SEED)
    n_cust = max(int(150_000 * sf), 10)
    n_supp = max(int(10_000 * sf), 5)
    n_part = max(int(200_000 * sf), 20)
    n_ord = max(int(1_500_000 * sf), 100)
    n_line = max(int(6_000_000 * sf), 400)
    n_ev = max(int(1_000_000 * sf), 100)
    n_users = max(int(15_000 * sf), 5)
    n_docs = max(int(50_000 * sf), 500)
    n_emb = max(int(20_000 * sf), 500)

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(_REGIONS, pa.string()),
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": pa.array(_names("Customer", n_cust), pa.string()),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust), pa.float64()),
            "c_mktsegment": pa.array(_pick(rng, _SEGMENTS, n_cust), pa.string()),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": pa.array(_names("Supplier", n_supp), pa.string()),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp), pa.float64()),
        }
    )
    pk = np.arange(n_part)
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(pk, pa.int64()),
            "p_name": pa.array(
                [f"{a} {b}" for a, b in zip(_pick(rng, _PART_ADJ, n_part), _pick(rng, _PART_NOUN, n_part))],
                pa.string(),
            ),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], pa.string()),
            "p_type": pa.array(_pick(rng, _PART_TYPES, n_part), pa.string()),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) / 10.0, 1), pa.float64()),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pa.array(_pick(rng, ["F", "O", "P"], n_ord), pa.string()),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord), pa.float64()),
            "o_orderdate": pa.array(_days(dt.date(1995, 1, 1), 2404, n_ord, rng), pa.timestamp("us")),
            "o_orderpriority": pa.array(_pick(rng, _PRIORITIES, n_ord), pa.string()),
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64), pa.float64()),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_line), pa.float64()),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0, pa.float64()),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0, pa.float64()),
            "l_returnflag": pa.array(_pick(rng, ["A", "N", "R"], n_line), pa.string()),
            "l_linestatus": pa.array(_pick(rng, ["F", "O"], n_line), pa.string()),
            "l_shipdate": pa.array(_days(dt.date(1995, 1, 2), 2498, n_line, rng), pa.timestamp("us")),
        }
    )
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n_ev)) + np.datetime64("2024-01-01", "us").astype(np.int64)
    value = np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01)
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
            "event_type": pa.array(_pick(rng, _EVENT_TYPES, n_ev), pa.string()),
            "value": pa.array(value, pa.float64()),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], pa.string()),
        }
    )
    out["documents"] = _documents(rng, n_docs)
    out["embeddings"] = _embeddings(rng, n_emb)
    return out


def write(out_dir: str, sf: float) -> None:
    """Write every table as `<out_dir>/<name>.parquet`."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
