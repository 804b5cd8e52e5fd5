"""Round-11 operator additions: Mann-Kendall/Theil-Sen trend test,
char-entropy quality screen, Qini uplift gains, iterative GESD outliers.
Each is pinned against hand-computed ground truth on planted fixtures;
oracle parity at sf0.01/sf0.1 is covered by the attestation sweep."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from financial_fraud_detection_using_time_series_data_spark.operators import (
    drift,
    evaluation,
    stats,
    text,
)
from financial_fraud_detection_using_time_series_data_spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    return get_spark()


def _hourly_events(spark, values, series="a"):
    """One event per hour with the given value sequence."""
    rows = [
        (i, float(3600 * i), series, float(v)) for i, v in enumerate(values)
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


# ---------------------------------------------------------- mann_kendall


def test_mann_kendall_monotone_series(spark):
    """A strictly increasing series: S = n(n-1)/2, no ties, Sen slope =
    the constant step, z > 0."""
    n = 12
    ev = _hourly_events(spark, [10.0 + 2.5 * i for i in range(n)])
    row = stats.mann_kendall(ev).collect()[0]
    assert row["n_buckets"] == n
    assert row["s_stat"] == n * (n - 1) // 2
    # var = n(n-1)(2n+5)/18 with zero tie correction
    var = n * (n - 1) * (2 * n + 5) / 18.0
    assert abs(row["var_s"] - var) < 1e-6
    assert abs(row["sen_slope_per_hour"] - 2.5) < 1e-6
    z = (row["s_stat"] - 1.0) / math.sqrt(var)
    assert abs(row["z"] - z) < 1e-6


def test_mann_kendall_tie_correction_and_sign(spark):
    """A decreasing series with a tied pair: S < 0, tie term subtracts
    t(t-1)(2t+5) for the tied group, z uses the +1 correction."""
    vals = [50.0, 40.0, 40.0, 30.0, 20.0]  # one tie group of size 2
    ev = _hourly_events(spark, vals)
    row = stats.mann_kendall(ev).collect()[0]
    # pairs: every later < earlier except the (40,40) pair which is 0
    assert row["s_stat"] == -(10 - 1)
    n = 5
    var = (n * (n - 1) * (2 * n + 5) - 2 * 1 * 9) / 18.0
    assert abs(row["var_s"] - var) < 1e-6
    z = (row["s_stat"] + 1.0) / math.sqrt(var)
    assert abs(row["z"] - z) < 1e-6
    assert row["sen_slope_per_hour"] < 0


# ---------------------------------------------------------- char_entropy


def test_char_entropy_known_distributions(spark):
    docs = spark.createDataFrame(
        [
            (1, "aaaa"),          # one symbol -> H = 0
            (2, "abab"),          # uniform 2 -> H = ln 2
            (3, "  "),            # whitespace-only -> empty norm
            (4, "a1b2"),          # digit ratio 0.5
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in text.char_entropy(docs).collect()}
    assert out[1]["entropy_nats"] == 0.0
    assert abs(out[2]["entropy_nats"] - math.log(2)) < 1e-6
    assert out[2]["n_distinct_chars"] == 2
    assert out[3]["n_chars"] == 0
    assert out[3]["entropy_nats"] == 0.0 and out[3]["digit_ratio"] == 0.0
    assert abs(out[4]["digit_ratio"] - 0.5) < 1e-6
    assert out[4]["n_distinct_chars"] == 4


def test_char_entropy_matches_direct_histogram(spark):
    """Run-length form == direct collections.Counter entropy."""
    import collections

    s = "the quick brown fox jumps over the lazy dog"
    docs = spark.createDataFrame([(1, s)], "doc_id long, text string")
    row = text.char_entropy(docs).collect()[0]
    cnt = collections.Counter(s)  # already normalized (lowercase, single spaces)
    L = len(s)
    micro = sum(math.floor(n * math.log(n) * 1e9 + 0.5) for n in cnt.values())
    h = math.log(L) - micro / 1e9 / L
    assert abs(row["entropy_nats"] - math.floor(h * 1e6 + 0.5) / 1e6) < 1e-12
    assert row["n_distinct_chars"] == len(cnt)


# ------------------------------------------------------------- qini_curve


def test_qini_curve_hand_computed(spark):
    """Two score bins, known counts: verify the cumulative uplift and
    the random diagonal against hand arithmetic."""
    # bin 9 (score .95): treated 2/2 convert, control 1/2 convert
    # bin 0 (score .05): treated 0/2 convert, control 1/2 convert
    rows = []
    rows += [(1, 1, 0.95), (1, 1, 0.95), (1, 0, 0.05), (1, 0, 0.05)]
    rows += [(0, 1, 0.95), (0, 0, 0.95), (0, 1, 0.05), (0, 0, 0.05)]
    df = spark.createDataFrame(rows, "treated int, converted int, score double")
    out = {r["bin"]: r for r in
           evaluation.qini_curve(df, "treated", "converted", "score").collect()}
    top = out[9]
    assert (top["n_treat"], top["n_ctrl"]) == (2, 2)
    assert (top["conv_treat"], top["conv_ctrl"]) == (2, 1)
    assert abs(top["cum_uplift"] - (2 - 1 * (2 / 2))) < 1e-6      # = 1.0
    # full depth: conv_t 2, conv_c 2, T=C=4 -> total uplift 0
    assert abs(out[0]["cum_uplift"] - 0.0) < 1e-6
    assert abs(out[0]["random_uplift"] - 0.0) < 1e-6
    # random line at half depth = total_uplift * 0.5 = 0
    assert abs(top["random_uplift"] - 0.0) < 1e-6


def test_qini_curve_validates_bins(spark):
    df = spark.createDataFrame([(1, 1, 0.5)], "t int, y int, s double")
    with pytest.raises(ValueError):
        evaluation.qini_curve(df, "t", "y", "s", n_bins=1)


# --------------------------------------------------------- gesd_outliers


def test_gesd_finds_masked_spikes(spark):
    """Two adjacent huge spikes mask each other for a one-shot z-screen;
    the iterative screen removes them in rounds 1 and 2."""
    vals = [10.0] * 40
    vals[5] = 500.0
    vals[6] = 480.0
    # mild noise so sd > 0 after the spikes are gone
    for i in range(0, 40, 7):
        vals[i] += 1.0
    ev = _hourly_events(spark, vals)
    out = drift.gesd_outliers(ev, k=3)
    rows = {r["round"]: r for r in out.collect()}
    assert rows[1]["x"] == 500.0 and rows[1]["flagged"]
    assert {rows[1]["x"], rows[2]["x"]} == {500.0, 480.0}
    # the bucket timestamps point at the planted hours
    hrs = {rows[1]["bucket"].hour + 24 * (rows[1]["bucket"].day - 1),
           rows[2]["bucket"].hour + 24 * (rows[2]["bucket"].day - 1)}
    assert hrs == {5, 6}
    assert rows[1]["n_remaining"] == 39 and rows[2]["n_remaining"] == 38
    # round 3 removes a normal point -> not flagged at z=3
    assert not rows[3]["flagged"]


def test_gesd_tie_break_earliest_bucket(spark):
    """Two buckets tied at the extreme value: the earliest is removed
    first (the documented tie-break)."""
    vals = [10.0] * 20
    vals[4] = 300.0
    vals[9] = 300.0
    for i in (1, 7, 13, 19):  # noise off the planted indices
        vals[i] += 1.0
    ev = _hourly_events(spark, vals)
    rows = sorted(
        drift.gesd_outliers(ev, k=2).collect(), key=lambda r: r["round"]
    )
    assert rows[0]["bucket"].hour == 4
    assert rows[1]["bucket"].hour == 9


# -------------------------------------------------------- best_changepoint


def test_best_changepoint_planted_level_shift(spark):
    """20 hours at 10 then 20 hours at 50: split after bucket 20,
    means exact, SSE reduction matches the prefix-sum closed form."""
    vals = [10.0] * 20 + [50.0] * 20
    ev = _hourly_events(spark, vals)
    row = drift.best_changepoint(ev).collect()[0]
    assert row["n_buckets"] == 40
    assert row["n_left"] == 20
    assert abs(row["mean_left"] - 10.0) < 1e-9
    assert abs(row["mean_right"] - 50.0) < 1e-9
    # gain = S_i^2/i + (S_B-S_i)^2/(B-i) - S_B^2/B
    gain = 200.0**2 / 20 + 1000.0**2 / 20 - 1200.0**2 / 40
    assert abs(row["sse_reduction"] - gain) < 1e-6
    assert row["split_last_bucket"].hour == 19  # last bucket of the left side


def test_best_changepoint_tie_break_earliest(spark):
    """A flat series gains 0 everywhere: the earliest split wins."""
    ev = _hourly_events(spark, [7.0] * 10)
    row = drift.best_changepoint(ev).collect()[0]
    assert row["n_left"] == 1 and row["sse_reduction"] == 0.0


# ------------------------------------------- attribution_position_based


def test_attribution_position_u_shape(spark):
    """Journey A,B,C -> purchase(100): 40/20/40. Journey D ->
    purchase(50): single touch takes 100%."""
    from financial_fraud_detection_using_time_series_data_spark.operators import (
        events as events_ops,
    )

    rows = [
        (1, 0.0, 1, "A", 0.0),
        (2, 10.0, 1, "B", 0.0),
        (3, 20.0, 1, "C", 0.0),
        (4, 30.0, 1, "purchase", 100.0),
        (5, 0.0, 2, "D", 0.0),
        (6, 10.0, 2, "purchase", 50.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, tsd double, user_id long, event_type string, value double"
    ).select(
        "event_id",
        F.col("tsd").cast("timestamp").alias("ts"),
        "user_id",
        "event_type",
        "value",
    )
    out = {r["channel"]: r for r in
           events_ops.attribution_position_based(df).collect()}
    assert abs(out["A"]["credited_revenue"] - 40.0) < 1e-6
    assert abs(out["B"]["credited_revenue"] - 20.0) < 1e-6
    assert abs(out["C"]["credited_revenue"] - 40.0) < 1e-6
    assert abs(out["D"]["credited_revenue"] - 50.0) < 1e-6
    assert abs(sum(r["credit_share"] for r in out.values()) - 1.0) < 1e-5
    # two-touch journey splits 50/50
    rows2 = rows[:2] + [(4, 30.0, 1, "purchase", 100.0)]
    df2 = spark.createDataFrame(
        rows2, "event_id long, tsd double, user_id long, event_type string, value double"
    ).select(
        "event_id", F.col("tsd").cast("timestamp").alias("ts"),
        "user_id", "event_type", "value",
    )
    out2 = {r["channel"]: r for r in
            events_ops.attribution_position_based(df2).collect()}
    assert abs(out2["A"]["credited_revenue"] - 50.0) < 1e-6
    assert abs(out2["B"]["credited_revenue"] - 50.0) < 1e-6


# ------------------------------------------------------------- mde_power


def test_mde_power_closed_form(spark):
    """Equal arms, known rates: MDE and required-n match the
    two-proportion normal-approximation closed form."""
    rows = (
        [(1, 1)] * 100 + [(1, 0)] * 900 + [(0, 1)] * 80 + [(0, 0)] * 920
    )
    df = spark.createDataFrame(rows, "treated int, converted int")
    row = evaluation.mde_power(df, "treated", "converted").collect()[0]
    assert (row["n_treat"], row["n_ctrl"]) == (1000, 1000)
    assert abs(row["rate_treat"] - 0.1) < 1e-9
    assert abs(row["rate_ctrl"] - 0.08) < 1e-9
    pbar = 180 / 2000
    zsum = evaluation.Z_ALPHA_05 + evaluation.Z_POWER_80
    mde = zsum * math.sqrt(2 * pbar * (1 - pbar) / 1000.0)
    assert abs(row["mde_at_n"] - math.floor(mde * 1e6 + 0.5) / 1e6) < 1e-12
    n_req = 2 * pbar * (1 - pbar) * (zsum / 0.02) ** 2
    assert row["n_per_arm_for_observed"] == math.ceil(n_req)
    # observed 2pp effect is BELOW the ~2.5pp MDE -> underpowered
    assert row["abs_effect"] < row["mde_at_n"]


# ------------------------------------------------------------ seasonal_esd


def test_seasonal_esd_finds_spike_hidden_under_daily_peak(spark):
    """A spike at 3am that stays BELOW the daily 6pm peak level: a raw
    screen (gesd_outliers) flags peak hours first; the seasonal screen
    flags the planted hour in round 1 because it is abnormal FOR its
    slot."""
    vals = []
    for day in range(7):
        for h in range(24):
            base = 10.0 + (100.0 if h == 18 else 0.0)  # strong daily peak
            vals.append(base)
    # plant: day 3, 3am -> 60 (well below the 110 peaks, 6x its slot norm)
    vals[3 * 24 + 3] = 60.0
    ev = _hourly_events(spark, vals)
    srows = sorted(
        drift.seasonal_esd(ev, k=2).collect(), key=lambda r: r["round"]
    )
    assert srows[0]["bucket"].day - 1 == 3 and srows[0]["bucket"].hour == 3
    assert srows[0]["flagged"]
    # residual = 60 - floor(mean of that slot) where slot mean includes
    # the spike: (6*10 + 60)/7 = 17.142... -> floor at nano grid
    import math as _m

    slot_mean_nano = (6 * 10 + 60) * 10**9 // 7
    assert abs(srows[0]["residual"] - (60 * 10**9 - slot_mean_nano) / 1e9) < 1e-9
    # the raw screen's round-1 pick is one of the 110-valued peak hours
    graw = drift.gesd_outliers(ev, k=1).collect()[0]
    assert graw["x"] == 110.0 and graw["bucket"].hour == 18


# ----------------------------------------- review-fix regression pins


def test_mde_power_empty_arm_degrades_to_nulls(spark):
    """One empty arm must yield NULL rates/MDE, not an ANSI
    DIVIDE_BY_ZERO job failure."""
    df = spark.createDataFrame([(1, 1), (1, 0)], "treated int, converted int")
    row = evaluation.mde_power(df, "treated", "converted").collect()[0]
    assert row["n_ctrl"] == 0
    assert row["rate_ctrl"] is None and row["mde_at_n"] is None
    assert row["rate_treat"] == 0.5


def test_attribution_zero_value_conversions(spark):
    """All-zero conversion values: credited revenue 0, share NULL —
    not a divide-by-zero failure."""
    from financial_fraud_detection_using_time_series_data_spark.operators import (
        events as events_ops,
    )

    rows = [(1, 0.0, 1, "A", 0.0), (2, 10.0, 1, "purchase", 0.0)]
    df = spark.createDataFrame(
        rows, "event_id long, tsd double, user_id long, event_type string, value double"
    ).select(
        "event_id", F.col("tsd").cast("timestamp").alias("ts"),
        "user_id", "event_type", "value",
    )
    row = events_ops.attribution_position_based(df).collect()[0]
    assert row["credited_revenue"] == 0.0 and row["credit_share"] is None


def test_qini_curve_clamps_out_of_range_scores(spark):
    """Scores outside [0,1) clamp to the edge bins instead of emitting
    out-of-grid rows that pollute the cumulative sums."""
    rows = [(1, 1, -0.3), (0, 0, -0.3), (1, 0, 1.7), (0, 1, 1.7)]
    df = spark.createDataFrame(rows, "t int, y int, s double")
    out = evaluation.qini_curve(df, "t", "y", "s").collect()
    assert {r["bin"] for r in out} == {0, 9}


def test_gesd_accepts_integer_series_column(spark):
    """A bigint series id must not crash the driver-side schema (the
    key-dtype bug class `forecast.per_series` pins)."""
    rows = [(i, float(3600 * i), 7, float(v)) for i, v in enumerate(
        [10.0] * 20 + [400.0] + [10.0] * 5 + [11.0] * 4
    )]
    df = spark.createDataFrame(
        rows, "event_id long, tsd double, event_type long, value double"
    ).select(
        "event_id", F.col("tsd").cast("timestamp").alias("ts"),
        "event_type", "value",
    )
    out = drift.gesd_outliers(df, k=1).collect()
    assert out[0]["event_type"] == 7 and out[0]["x"] == 400.0
