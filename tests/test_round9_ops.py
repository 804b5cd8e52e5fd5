"""Pinned fixes: grain-derived forecast baselines, retrieval-metrics k
guard, grain-derived seasonal phase, near-singular Markov-attribution
fallback, MMR pool cap, and the scale-refining linkage blocking key."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from financial_fraud_detection_using_time_series_data_spark.operators import (
    drift,
    events,
    forecast,
    similarity,
    text,
)


def _hourly_events(spark, n=72):
    base = dt.datetime(2024, 3, 1)
    rows = [
        (base + dt.timedelta(hours=i), "a", float(10 + (i % 24)))
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "ts timestamp, event_type string, value double")


def test_forecast_accuracy_hour_bucket_naive_is_previous_hour(spark):
    """With bucket='hour' the naive baseline must be the PREVIOUS HOUR
    (not silently yesterday's same hour): on a strictly +1.0/hour ramp
    the naive MAE is exactly 1.0."""
    base = dt.datetime(2024, 3, 1)
    df = spark.createDataFrame(
        [(base + dt.timedelta(hours=i), "a", float(i)) for i in range(48)],
        "ts timestamp, event_type string, value double",
    )
    out = {
        r["method"]: r
        for r in forecast.forecast_accuracy(
            df, "ts", "event_type", "value", bucket="hour", season_lag=24
        ).collect()
    }
    assert out["naive"]["n_evals"] == 47
    assert out["naive"]["mae"] == pytest.approx(1.0)
    # seasonal lag of 24 HOURS: error is exactly 24 on the ramp
    assert out["snaive"]["n_evals"] == 24
    assert out["snaive"]["mae"] == pytest.approx(24.0)
    # MASE of naive is 1 by construction
    assert out["naive"]["mase"] == pytest.approx(1.0)


def test_forecast_accuracy_rejects_unknown_bucket(spark):
    df = _hourly_events(spark)
    with pytest.raises(ValueError, match="unsupported bucket"):
        forecast.forecast_accuracy(df, bucket="fortnight")


def test_retrieval_metrics_rejects_k_beyond_discount_table(spark):
    docs = spark.createDataFrame(
        [(0, "apple banana")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="discount table"):
        text.retrieval_metrics(docs, [(1, ["apple"])], k=len(text.DCG_DISC_U) + 1)


def test_seasonal_decompose_day_bucket_uses_dayofweek_phase(spark):
    """With bucket='day' the phase is day-of-week: a clean weekly cycle
    (+10 every Sunday on a flat base) decomposes to a seasonal component
    that is high exactly on Sundays and a ~zero residual."""
    base = dt.datetime(2024, 3, 3)  # a Sunday
    rows = []
    for d in range(7 * 8):  # 8 full weeks
        val = 100.0 + (10.0 if d % 7 == 0 else 0.0)
        rows.append((base + dt.timedelta(days=d), "a", val))
    df = spark.createDataFrame(rows, "ts timestamp, event_type string, value double")
    out = drift.seasonal_decompose(
        df, "ts", "event_type", "value", bucket="day", half=7
    ).where(F.col("seasonal").isNotNull()).collect()
    assert out, "decomposition produced no seasonal rows"
    sun = [r for r in out if r["bucket"].weekday() == 6]
    other = [r for r in out if r["bucket"].weekday() != 6]
    assert sun and other
    # Sunday seasonal ~ +8.75 (10 * 6/7 of the spike above the weekly
    # mean), every other day ~ -1.25; the split must be clean
    assert min(r["seasonal"] for r in sun) > max(r["seasonal"] for r in other) + 5.0
    for r in out:
        if r["residual"] is not None:
            assert abs(r["residual"]) < 1.5


def test_seasonal_decompose_rejects_unknown_bucket(spark):
    df = _hourly_events(spark)
    with pytest.raises(ValueError, match="unsupported bucket"):
        drift.seasonal_decompose(df, bucket="quarter")


def test_attribution_markov_near_singular_falls_back(spark):
    """A channel that only self-loops (beyond float dust) makes (I - Q)
    near-singular: the conditioning gate must route to the zero-pivot
    elimination and return finite attributions instead of LAPACK
    garbage. Built via a long self-repeating path so the self-loop
    probability is 1 - epsilon."""
    rows = []
    # user 1: START -> loop (many loop->loop transitions) -> CONV
    base = dt.datetime(2024, 1, 1)
    eid = 0
    for i in range(200):
        rows.append((1, base + dt.timedelta(minutes=i), "loop", eid))
        eid += 1
    rows.append((1, base + dt.timedelta(minutes=500), "conv", eid))
    eid += 1
    # user 2: direct conversion through another channel
    rows.append((2, base, "direct", eid))
    rows.append((2, base + dt.timedelta(minutes=1), "conv", eid + 1))
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string, event_id long"
    )
    out = events.attribution_markov(
        df, entity_col="user_id", type_col="event_type", ts_col="ts",
        order_col="event_id", conv_type="conv",
    )
    vals = out.collect()
    assert vals, "no attribution rows"
    for r in vals:
        assert r["removal_effect"] is not None
        assert 0.0 <= r["removal_effect"] <= 1.0 + 1e-9
        assert abs(r["attribution"]) <= 1.0 + 1e-9


def test_mmr_rerank_pool_cap_raises(spark):
    corpus = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(4)], "vec_id long, embedding array<double>"
    )
    queries = spark.createDataFrame(
        [(0, [1.0, 1.0])], "qid long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="max_pool"):
        similarity.mmr_rerank(corpus, queries, k=2, pool=100, max_pool=50)


def test_record_linkage_scaled_matches_fine_semantics(spark, sf_dir):
    """At sf0.001 the count-derived bucket count is 1 (n << 15000), so
    the scaled blocking degenerates to the coarse (nation, segment) key:
    the scaled result must then be a SUPERSET of the fine-blocked result
    (fine requires bucket agreement; scaled with nb=1 does not), and
    agree on every shared pair's fs_weight."""
    import __spark_entry__ as entry

    fine = {
        (r["cust_a"], r["cust_b"]): r["fs_weight"]
        for r in entry.q_record_linkage(spark, sf_dir).collect()
    }
    scaled = {
        (r["cust_a"], r["cust_b"]): r["fs_weight"]
        for r in entry.q_record_linkage_scaled(spark, sf_dir).collect()
    }
    assert set(fine) <= set(scaled)
    for pair, w in fine.items():
        assert scaled[pair] == pytest.approx(w)
