"""Sketch family (sketches.py) + round-6 event operators: HLL rollups,
heavy hitters, SCD2, sweep-line concurrency, triangle census."""

import datetime as dt

import pandas as pd
import pytest
from pyspark.sql import functions as F

from financial_fraud_detection_using_time_series_data_spark.operators import (
    events as events_ops,
)
from financial_fraud_detection_using_time_series_data_spark.operators import sketches
from financial_fraud_detection_using_time_series_data_spark.sources import load_table


# ---------------------------------------------------------------- HLL


def test_hll_rollup_close_to_exact(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    fine = ev.select(
        F.date_trunc("week", "ts").alias("week"),
        F.date_trunc("day", "ts").alias("day"),
        "user_id",
    )
    parts = sketches.hll_partial(fine, ("week", "day"), "user_id", lgk=12)
    est = {
        r["week"]: r["approx_distinct"]
        for r in sketches.hll_merge_estimate(parts, ("week",)).collect()
    }
    exact = {
        r["week"]: r["n"]
        for r in fine.groupBy("week")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert est.keys() == exact.keys()
    for w, n in exact.items():
        # lgk=12 -> ~1.6% relative standard error; allow 5%
        assert abs(est[w] - n) <= max(1, 0.05 * n)


def test_hll_merge_matches_direct_sketch(spark):
    """Merging per-part sketches must estimate like sketching the union:
    the mergeability contract that makes the persisted index valid."""
    df = spark.range(0, 20000).select(
        (F.col("id") % 2).alias("part"), (F.col("id") % 5000).alias("v")
    )
    parts = sketches.hll_partial(df, ("part",), "v", lgk=12)
    merged = sketches.hll_merge_estimate(
        parts.withColumn("g", F.lit(1)), ("g",)
    ).collect()[0]["approx_distinct"]
    direct = sketches.hll_partial(
        df.withColumn("g", F.lit(1)), ("g",), "v", lgk=12
    )
    direct_est = sketches.hll_merge_estimate(direct, ("g",)).collect()[0][
        "approx_distinct"
    ]
    assert abs(merged - 5000) <= 0.05 * 5000
    assert abs(merged - direct_est) <= 0.02 * 5000


def test_hll_partial_sketch_is_compact_binary(spark):
    df = spark.range(0, 10000).select(
        F.lit(1).alias("g"), F.col("id").alias("v")
    )
    row = sketches.hll_partial(df, ("g",), "v", lgk=12).collect()[0]
    assert isinstance(row["hll_sketch"], (bytes, bytearray))
    # lgk=12 -> at most ~2^12 bytes + header; the shuffle payload is tiny
    assert len(row["hll_sketch"]) < 8192


# ------------------------------------------------------ heavy hitters


def test_heavy_hitters_exact_brute_force(spark):
    vals = ["a"] * 50 + ["b"] * 30 + ["c"] * 15 + ["d"] * 4 + ["e"] * 1
    df = spark.createDataFrame([(v,) for v in vals], ["x"])
    out = sketches.heavy_hitters(df, "x", min_frac=0.05, k=10).collect()
    assert [(r["rank"], r["value"], r["n"]) for r in out] == [
        (1, "a", 50),
        (2, "b", 30),
        (3, "c", 15),
    ]
    assert out[0]["frac"] == 0.5


def test_heavy_hitters_tie_break_deterministic(spark):
    df = spark.createDataFrame([("b",), ("a",), ("b",), ("a",)], ["x"])
    out = sketches.heavy_hitters(df, "x", min_frac=0.1, k=10).collect()
    assert [(r["rank"], r["value"]) for r in out] == [(1, "a"), (2, "b")]


def test_heavy_hitters_approx_superset(spark):
    vals = ["hot"] * 400 + [f"cold{i}" for i in range(100)]
    df = spark.createDataFrame([(v,) for v in vals], ["x"])
    got = {
        r["value"]
        for r in sketches.heavy_hitters_approx(df, "x", support=0.5).collect()
    }
    # every value above support must appear (false positives allowed)
    assert "hot" in got


# ---------------------------------------------------------------- SCD2


def _ts(s):
    return dt.datetime.fromisoformat(s)


def test_scd2_collapses_consecutive_and_versions(spark):
    rows = [
        (1, _ts("2024-01-01T00:00:00"), 1, "A"),
        (1, _ts("2024-01-01T01:00:00"), 2, "A"),
        (1, _ts("2024-01-01T02:00:00"), 3, "B"),
        (1, _ts("2024-01-01T03:00:00"), 4, "B"),
        (1, _ts("2024-01-01T04:00:00"), 5, "A"),
        (2, _ts("2024-01-01T00:30:00"), 6, "X"),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_id", "event_type"])
    out = events_ops.scd2_history(df).orderBy("user_id", "version").collect()
    u1 = [r for r in out if r["user_id"] == 1]
    assert [(r["version"], r["attr_value"]) for r in u1] == [
        (1, "A"),
        (2, "B"),
        (3, "A"),
    ]
    assert u1[0]["valid_from"] == _ts("2024-01-01T00:00:00")
    assert u1[0]["valid_to"] == _ts("2024-01-01T02:00:00")
    assert not u1[0]["is_current"] and u1[2]["is_current"]
    assert u1[2]["valid_to"] is None
    u2 = [r for r in out if r["user_id"] == 2]
    assert len(u2) == 1 and u2[0]["is_current"] and u2[0]["version"] == 1


def test_scd2_null_attr_null_safe(spark):
    rows = [
        (1, _ts("2024-01-01T00:00:00"), 1, None),
        (1, _ts("2024-01-01T01:00:00"), 2, None),
        (1, _ts("2024-01-01T02:00:00"), 3, "A"),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_id", "event_type"])
    out = events_ops.scd2_history(df).orderBy("version").collect()
    # two consecutive NULLs collapse into one version
    assert [(r["version"], r["attr_value"]) for r in out] == [(1, None), (2, "A")]


def test_scd2_single_exchange(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    plan = events_ops.scd2_history(ev)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1


# --------------------------------------------------- peak concurrency


def test_peak_concurrency_brute_force(spark):
    # three overlapping intervals inside one hour + one lone later
    iv = [
        (_ts("2024-01-01T10:00:00"), _ts("2024-01-01T10:30:00")),
        (_ts("2024-01-01T10:10:00"), _ts("2024-01-01T10:20:00")),
        (_ts("2024-01-01T10:15:00"), _ts("2024-01-01T10:45:00")),
        (_ts("2024-01-01T12:00:00"), _ts("2024-01-01T12:05:00")),
    ]
    df = spark.createDataFrame(iv, ["start_ts", "end_ts"])
    out = {
        r["bucket"]: r["peak_concurrency"]
        for r in events_ops.peak_concurrency(df).collect()
    }
    assert out[_ts("2024-01-01T10:00:00")] == 3
    assert out[_ts("2024-01-01T12:00:00")] == 1


def test_peak_concurrency_carry_across_buckets(spark):
    """An interval that spans hours must carry +1 into later buckets'
    baselines (the two-level prefix sum, not a per-bucket reset)."""
    iv = [
        (_ts("2024-01-01T09:50:00"), _ts("2024-01-01T11:10:00")),  # spans 3 buckets
        (_ts("2024-01-01T11:00:30"), _ts("2024-01-01T11:01:00")),
    ]
    df = spark.createDataFrame(iv, ["start_ts", "end_ts"])
    out = {
        r["bucket"]: r["peak_concurrency"]
        for r in events_ops.peak_concurrency(df).collect()
    }
    # 11:00 bucket: long interval still open (+1 carried) + short one = 2
    assert out[_ts("2024-01-01T11:00:00")] == 2
    assert out[_ts("2024-01-01T09:00:00")] == 1


def test_peak_concurrency_inclusive_end_zero_length(spark):
    # zero-length interval counts as momentarily active (end-inclusive)
    iv = [(_ts("2024-01-01T10:00:00"), _ts("2024-01-01T10:00:00"))]
    df = spark.createDataFrame(iv, ["start_ts", "end_ts"])
    out = events_ops.peak_concurrency(df).collect()
    assert out[0]["peak_concurrency"] == 1


# ------------------------------------------------------ triangle count


def test_triangle_count_planted_clique_and_star(spark):
    """Value 1.0 shared by users {1,2,3} -> one triangle; value 2.0 shared
    by {10,11} -> an edge, no triangle; value 3.0 shared by 12 users ->
    degree-capped out entirely."""
    rows = []
    eid = 0
    for u in (1, 2, 3):
        rows.append((eid, u, 1.0)); eid += 1
    for u in (10, 11):
        rows.append((eid, u, 2.0)); eid += 1
    for u in range(20, 32):  # 12 sharers > max_degree=10
        rows.append((eid, u, 3.0)); eid += 1
    df = spark.createDataFrame(rows, ["event_id", "user_id", "value"])
    out = events_ops.triangle_count(
        df, F.col("value"), min_degree=2, max_degree=10
    ).collect()[0]
    assert out["n_nodes"] == 5
    assert out["n_edges"] == 4  # C(3,2) + 1
    assert out["n_triangles"] == 1


def test_triangle_count_two_overlapping_cliques(spark):
    """K4 via two attr values: {1,2,3,4} share v=1 -> C(4,3)=4 triangles."""
    rows = [(i, u, 1.0) for i, u in enumerate((1, 2, 3, 4))]
    df = spark.createDataFrame(rows, ["event_id", "user_id", "value"])
    out = events_ops.triangle_count(df, F.col("value")).collect()[0]
    assert out["n_triangles"] == 4
    assert out["n_edges"] == 6


# ----------------------------------------- time-decay / interpolation


def test_time_decay_sum_matches_numpy(spark):
    import math

    rows = [
        (1, 1, _ts("2024-01-01T00:00:00"), 10.0),
        (2, 1, _ts("2024-01-01T00:30:00"), 5.0),
        (3, 1, _ts("2024-01-01T02:00:00"), 2.0),
        (4, 2, _ts("2024-01-01T00:00:00"), 7.0),
    ]
    df = spark.createDataFrame(rows, ["event_id", "user_id", "ts", "value"])
    from financial_fraud_detection_using_time_series_data_spark.operators import windows

    out = {
        r["event_id"]: r["decay_sum"]
        for r in windows.time_decay_sum(df, half_life_s=3600.0).collect()
    }
    k = math.log(2.0) / 3600.0
    s1 = 10.0
    s2 = 5.0 + math.exp(-1800 * k) * s1       # 30-min gap: half-weight^0.5
    s3 = 2.0 + math.exp(-5400 * k) * s2       # 90-min gap
    assert abs(out[1] - s1) < 1e-9
    assert abs(out[2] - s2) < 1e-9
    assert abs(out[3] - s3) < 1e-9
    assert abs(out[4] - 7.0) < 1e-12          # other user independent


def test_time_decay_sum_single_exchange(spark, sf_dir):
    from financial_fraud_detection_using_time_series_data_spark.operators import windows
    from financial_fraud_detection_using_time_series_data_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events")
    plan = (
        windows.time_decay_sum(ev)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1
    assert "BatchEvalPython" not in plan


def test_resample_interp_linear_midpoints(spark):
    rows = [
        (1, 1, _ts("2024-01-01T00:10:00"), 10.0),
        (2, 1, _ts("2024-01-01T03:20:00"), 40.0),
    ]
    df = spark.createDataFrame(rows, ["event_id", "user_id", "ts", "value"])
    from financial_fraud_detection_using_time_series_data_spark.operators import windows

    out = {
        r["bucket"]: (r["value_interp"], r["has_data"])
        for r in windows.resample_interp(df).collect()
    }
    # known endpoints: hours 0 and 3; gaps at 1, 2 interpolate linearly
    assert out[_ts("2024-01-01T00:00:00")] == (10.0, 1)
    assert out[_ts("2024-01-01T03:00:00")] == (40.0, 1)
    assert out[_ts("2024-01-01T01:00:00")] == (20.0, 0)
    assert out[_ts("2024-01-01T02:00:00")] == (30.0, 0)


def test_resample_interp_in_bucket_last_wins(spark):
    rows = [
        (1, 1, _ts("2024-01-01T00:05:00"), 1.0),
        (2, 1, _ts("2024-01-01T00:55:00"), 9.0),  # later in same bucket
        (3, 1, _ts("2024-01-01T01:30:00"), 5.0),
    ]
    df = spark.createDataFrame(rows, ["event_id", "user_id", "ts", "value"])
    from financial_fraud_detection_using_time_series_data_spark.operators import windows

    out = {r["bucket"]: r["value_interp"] for r in windows.resample_interp(df).collect()}
    assert out[_ts("2024-01-01T00:00:00")] == 9.0


# -------------------------------------- histogram quantiles / sampling


def test_histogram_merge_equals_direct(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    fine = ev.select(
        "event_type", F.date_trunc("day", "ts").alias("day"), "value"
    )
    parts = sketches.histogram_partial(
        fine, ("event_type", "day"), "value", 0.0, 200.0, 50
    )
    merged = {
        (r["event_type"], r["bin"]): r["n"]
        for r in sketches.histogram_merge(parts, ("event_type",)).collect()
    }
    direct = {
        (r["event_type"], r["bin"]): r["n"]
        for r in sketches.histogram_partial(
            fine, ("event_type",), "value", 0.0, 200.0, 50
        ).collect()
    }
    assert merged == direct  # exact-long counts: merge is lossless


def test_histogram_quantiles_within_bin_width(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    hist = sketches.histogram_partial(
        ev, ("event_type",), "value", 0.0, 200.0, 100
    )
    est = {
        (r["event_type"], r["q"]): r["quantile_est"]
        for r in sketches.quantiles_from_histogram(
            hist, ("event_type",), (0.5, 0.9), 0.0, 200.0, 100
        ).collect()
    }
    exact = {
        r["event_type"]: (r["p50"], r["p90"])
        for r in ev.groupBy("event_type")
        .agg(
            F.percentile("value", F.lit(0.5)).alias("p50"),
            F.percentile("value", F.lit(0.9)).alias("p90"),
        )
        .collect()
    }
    width = 200.0 / 100
    for et, (p50, p90) in exact.items():
        assert abs(est[(et, 0.5)] - p50) <= width
        assert abs(est[(et, 0.9)] - p90) <= width


def test_weighted_sample_proportional_and_deterministic(spark):
    from financial_fraud_detection_using_time_series_data_spark.operators import text

    rows = [(i, "heavy" if i < 50 else "light", 1000 if i < 50 else 1)
            for i in range(1050)]
    df = spark.createDataFrame(rows, ["doc_id", "grp", "w"])
    got1 = [r["doc_id"] for r in text.weighted_sample(df, "w", 40, "doc_id").collect()]
    got2 = [r["doc_id"] for r in text.weighted_sample(df, "w", 40, "doc_id").collect()]
    assert got1 == got2  # engine-stable determinism
    heavy = sum(1 for d in got1 if d < 50)
    # heavy weights hold 50000/51000 of total mass; expect domination
    assert heavy >= 30
    assert len(got1) == 40 and len(set(got1)) == 40  # without replacement


def test_sliding_distinct_close_to_exact(spark, sf_dir):
    """24h windowed HLL union vs brute-force windowed distinct."""
    ev = load_table(spark, sf_dir, "events")
    est = {
        r["bucket"]: r["approx_distinct_window"]
        for r in sketches.sliding_distinct(
            ev, "ts", "user_id", window_buckets=24
        ).collect()
    }
    pdf = ev.select(
        F.date_trunc("hour", "ts").alias("bucket"), "user_id"
    ).toPandas()
    buckets = sorted(pdf["bucket"].unique())
    for i, b in enumerate(buckets):
        lo = buckets[max(0, i - 23)]
        exact = pdf[(pdf["bucket"] >= lo) & (pdf["bucket"] <= b)][
            "user_id"
        ].nunique()
        assert abs(est[b] - exact) <= max(1, 0.05 * exact)


def test_seasonal_naive_backtest_fixture(spark):
    """Perfectly weekly-periodic series -> MAE 0; constant offset -> MAE
    equals the offset."""
    rows = []
    eid = 0
    base = dt.datetime(2024, 1, 1)
    for week in range(2):
        for hour in (0, 5):
            t = base + dt.timedelta(days=7 * week, hours=hour)
            rows.append((eid, t, 1, "periodic", 10.0)); eid += 1
            rows.append((eid, t, 2, "drifting", 10.0 + 3.0 * week)); eid += 1
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value"]
    )
    out = {
        r["event_type"]: (r["n_eval"], r["mae"])
        for r in events_ops.seasonal_naive_backtest(df, season_lag=168).collect()
    }
    assert out["periodic"] == (2, 0.0)
    assert out["drifting"] == (2, 3.0)


# ----------------------------------------- cusum / set-overlap probes


def test_cusum_finds_planted_level_shift(spark):
    from financial_fraud_detection_using_time_series_data_spark.operators import drift

    rows = []
    eid = 0
    base = dt.datetime(2024, 1, 1)
    for h in range(48):
        # level shifts from 10 to 50 at hour 24
        v = 10.0 if h < 24 else 50.0
        rows.append((eid, base + dt.timedelta(hours=h), 1, "shifty", v))
        eid += 1
        rows.append((eid, base + dt.timedelta(hours=h), 1, "flat", 7.0))
        eid += 1
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value"]
    )
    out = {r["event_type"]: r for r in drift.cusum_changepoint(df).collect()}
    # |S| peaks at the last pre-shift bucket (hour 23): the mean is 30,
    # so S drifts -20/hour for 24h then +20/hour back
    assert out["shifty"]["changepoint_bucket"] == base + dt.timedelta(hours=23)
    assert out["shifty"]["direction"] == "down"
    assert abs(out["shifty"]["cusum_peak"] - 480.0) < 1e-6
    assert out["flat"]["cusum_peak"] < 1e-9


def test_hll_intersect_estimates(spark):
    a = spark.range(0, 1000).select(F.col("id").alias("v"))
    b = spark.range(500, 1500).select(F.col("id").alias("v"))
    c = spark.range(5000, 6000).select(F.col("id").alias("v"))
    ab = sketches.hll_intersect_estimate(a, b, "v").collect()[0]
    assert abs(ab["n_intersect"] - 500) <= 0.1 * 500
    assert abs(ab["n_union"] - 1500) <= 0.05 * 1500
    ac = sketches.hll_intersect_estimate(a, c, "v").collect()[0]
    assert ac["n_intersect"] <= 0.1 * 1000  # disjoint reads near zero
    aa = sketches.hll_intersect_estimate(a, a, "v").collect()[0]
    # even identical inputs re-estimate through the union gadget, so the
    # self-jaccard carries sketch noise (~1.6% at lgk=12), not exactness
    assert abs(aa["jaccard_est"] - 1.0) < 0.05


def test_peak_concurrency_densifies_covered_buckets(spark):
    """A bucket an interval spans without any start/end in it must still
    get a row; a bucket containing only an END still peaked at the
    carried-in level before the -1 landed."""
    iv = [(_ts("2024-01-01T10:05:00"), _ts("2024-01-01T13:10:00"))]
    df = spark.createDataFrame(iv, ["start_ts", "end_ts"])
    out = {
        r["bucket"]: r["peak_concurrency"]
        for r in events_ops.peak_concurrency(df).collect()
    }
    assert out == {
        _ts("2024-01-01T10:00:00"): 1,
        _ts("2024-01-01T11:00:00"): 1,  # covered, no deltas
        _ts("2024-01-01T12:00:00"): 1,  # covered, no deltas
        _ts("2024-01-01T13:00:00"): 1,  # only a -1, peak is carry-in
    }


def test_funnel_step_names_with_quotes_and_backslashes(spark):
    """Step names are values, not SQL text — hostile names must work."""
    from financial_fraud_detection_using_time_series_data_spark.operators import (
        events as ev_ops,
    )

    rows = [
        (1, _ts("2024-01-01T00:00:00"), "a'b"),
        (1, _ts("2024-01-01T01:00:00"), "c\\d"),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_type"])
    out = {r["step"]: r["entities_reached"] for r in ev_ops.funnel(df, ["a'b", "c\\d"]).collect()}
    assert out == {"a'b": 1, "c\\d": 1}


def test_seasonal_naive_backtest_day_bucket_aligns(spark):
    rows = []
    eid = 0
    base = dt.datetime(2024, 1, 1)
    for day in range(14):
        rows.append((eid, base + dt.timedelta(days=day), 1, "t", 5.0))
        eid += 1
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value"]
    )
    out = events_ops.seasonal_naive_backtest(
        df, bucket="day", season_lag=7
    ).collect()
    assert len(out) == 1 and out[0]["n_eval"] == 7 and out[0]["mae"] == 0.0


def test_seasonal_naive_backtest_month_bucket_aligns(spark):
    """month shares the grain map of forecast_accuracy/pinball_loss:
    a 12-month lag lands on date_trunc('month') buckets exactly."""
    rows = [
        (m, dt.datetime(2023 + m // 12, m % 12 + 1, 15), 1, "t", 5.0)
        for m in range(14)
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value"]
    )
    out = events_ops.seasonal_naive_backtest(
        df, bucket="month", season_lag=12
    ).collect()
    assert len(out) == 1 and out[0]["n_eval"] == 2 and out[0]["mae"] == 0.0
