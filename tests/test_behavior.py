"""Behavioral profiles, association, autocorrelation, rolling
correlation, PageRank: semantic edge cases the SQL twins can't pin as
sharply, plus scale-contract checks (oracle parity for the six
oracle-backed entries lives in the attestation sweep).
"""

import math
from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from financial_fraud_detection_using_time_series_data_spark.operators import (
    behavior,
    drift,
    events,
    windows,
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _ev(spark, rows):
    """rows: (user, second_offset, event_type, value)"""
    t0 = datetime(2024, 1, 1)
    return spark.createDataFrame(
        [
            (i, t0 + timedelta(seconds=s), u, t, v)
            for i, (u, s, t, v) in enumerate(rows)
        ],
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )


# --- category_entropy ------------------------------------------------------


def test_entropy_uniform_and_degenerate(spark):
    df = _ev(
        spark,
        [(1, 0, "a", 1.0), (1, 1, "b", 1.0), (1, 2, "c", 1.0), (1, 3, "d", 1.0)]
        + [(2, 0, "a", 1.0), (2, 1, "a", 1.0)],
    )
    out = {r.user_id: r for r in behavior.category_entropy(df).collect()}
    # uniform over 4 cats: H = ln 4, HHI = 1/4, top share = 1/4
    assert abs(out[1].entropy - math.log(4)) < 1e-12
    assert abs(out[1].hhi - 0.25) < 1e-12
    assert abs(out[1].top_share - 0.25) < 1e-12
    assert out[1].n_categories == 4
    # single category: H = 0, HHI = 1, top share = 1
    assert abs(out[2].entropy - 0.0) < 1e-12
    assert abs(out[2].hhi - 1.0) < 1e-12
    assert out[2].top_share == 1.0


def test_entropy_no_window_single_agg_chain(spark, sf_dir):
    from financial_fraud_detection_using_time_series_data_spark.sources import load_table

    plan = _plan(behavior.category_entropy(load_table(spark, sf_dir, "events")))
    assert "Window" not in plan  # log-sum identity, not a per-entity window


# --- rfm_segment -----------------------------------------------------------


def test_rfm_axes(spark):
    # user 1: recent + frequent + big spender; user 2: stale singleton
    rows = [(1, 86400 * i, "a", 100.0) for i in range(10)] + [(2, 0, "a", 1.0)]
    out = {r.user_id: r for r in behavior.rfm_segment(_ev(spark, rows), n_tiles=2).collect()}
    assert out[1].recency_days == 0.0
    assert out[2].recency_days == 9.0
    assert out[1].frequency == 10 and out[2].frequency == 1
    assert out[1].monetary == 1000.0 and out[2].monetary == 1.0
    assert out[1].rfm_score == 222 and out[2].rfm_score == 111


# --- interarrival_stats ----------------------------------------------------


def test_burstiness_periodic_vs_single_gap(spark):
    # user 1: perfectly periodic (std 0) -> cv 0, burstiness -1
    # user 2: one gap -> std coalesced to 0; user 3: one event -> excluded
    rows = (
        [(1, 10 * i, "a", 1.0) for i in range(5)]
        + [(2, 0, "a", 1.0), (2, 7, "a", 1.0)]
        + [(3, 0, "a", 1.0)]
    )
    out = {r.user_id: r for r in behavior.interarrival_stats(_ev(spark, rows)).collect()}
    assert set(out) == {1, 2}
    assert out[1].n_gaps == 4 and out[1].mean_gap_s == 10.0
    assert out[1].std_gap_s == 0.0 and out[1].cv == 0.0
    assert out[1].burstiness == -1.0
    assert out[2].mean_gap_s == 7.0 and out[2].std_gap_s == 0.0


def test_interarrival_single_exchange(spark, sf_dir):
    from financial_fraud_detection_using_time_series_data_spark.sources import load_table

    plan = _plan(behavior.interarrival_stats(load_table(spark, sf_dir, "events")))
    # lag window and the same-key groupBy must share one exchange
    assert plan.count("Exchange hashpartitioning") == 1


# --- cramers_v -------------------------------------------------------------


def test_cramers_v_bounds(spark):
    # perfect association: b == a  -> V = 1
    perfect = spark.createDataFrame(
        [("x", "x"), ("y", "y"), ("z", "z")] * 4, "a string, b string"
    )
    r = drift.cramers_v(perfect, "a", "b").collect()[0]
    assert abs(r.v - 1.0) < 1e-9
    assert r.n == 12 and r.dof == 4
    # independence: every (a, b) cell equally filled -> chi2 = 0, V = 0
    indep = spark.createDataFrame(
        [(a, b) for a in "xy" for b in "uv" for _ in range(3)],
        "a string, b string",
    )
    r2 = drift.cramers_v(indep, "a", "b").collect()[0]
    assert abs(r2.v) < 1e-9 and abs(r2.chi2) < 1e-9


# --- acf -------------------------------------------------------------------


def test_acf_alternating_series(spark):
    # one event per hour, value alternating 0/10 -> acf(1) ~ -1, acf(2) ~ +1
    rows = [(1, 3600 * i, "a", float(10 * (i % 2))) for i in range(48)]
    out = {r.lag: r.acf for r in drift.acf(_ev(spark, rows), max_lag=3).collect()}
    # every product is ±25, mean exactly 5: r_k = (-1)^k (48-k)/48 exactly
    assert out[1] == pytest.approx(-47 / 48, abs=1e-6)
    assert out[2] == pytest.approx(46 / 48, abs=1e-6)
    assert out[3] == pytest.approx(-45 / 48, abs=1e-6)


def test_acf_r0_normalization_bound(spark):
    # |r_k| <= 1 for the full-series-mean estimator on any series
    rows = [(1, 3600 * i, "a", float((i * 37) % 11)) for i in range(100)]
    for r in drift.acf(_ev(spark, rows), max_lag=6).collect():
        assert abs(r.acf) <= 1.0 + 1e-9
        assert r.n_pairs == 100 - r.lag


# --- rolling_corr ----------------------------------------------------------


def test_rolling_corr_perfect_linear(spark):
    # gap grows linearly and value = 2*gap -> corr exactly 1 once 3 pairs
    rows, t = [], 0
    for i in range(8):
        t += 10 * (i + 1)
        rows.append((1, t, "a", float(20 * (i + 1))))
    out = sorted(
        windows.rolling_corr(_ev(spark, rows), min_periods=3).collect(),
        key=lambda r: r.event_id,
    )
    assert out[0].roll_corr is None and out[1].roll_corr is None
    assert out[2].roll_corr is None  # only 2 pairs (first row has no gap)
    for r in out[3:]:
        assert r.roll_corr == pytest.approx(1.0, abs=1e-9)


def test_rolling_corr_null_on_zero_variance(spark):
    # constant value -> zero x-variance -> NULL, never NaN/div-by-zero
    rows = [(1, 10 * i, "a", 5.0) for i in range(6)]
    for r in windows.rolling_corr(_ev(spark, rows), min_periods=2).collect():
        assert r.roll_corr is None


def test_rolling_corr_single_exchange(spark, sf_dir):
    from financial_fraud_detection_using_time_series_data_spark.sources import load_table

    plan = _plan(windows.rolling_corr(load_table(spark, sf_dir, "events")))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "BatchEvalPython" not in plan


# --- pagerank --------------------------------------------------------------


def test_pagerank_star_center_dominates(spark):
    # attr v shared by center-and-leaf pairs: build a star via distinct
    # shared values (center, leaf_i) so center degree = 4, leaves 1
    rows = []
    for i, leaf in enumerate([2, 3, 4, 5]):
        rows.append((1, i, f"v{i}", float(i)))      # center holds attr i
        rows.append((leaf, 100 + i, f"v{i}", float(i)))  # leaf shares it
    df = _ev(spark, rows)
    out = {
        r.user_id: r
        for r in events.pagerank(
            df, F.col("event_type"), min_degree=2, max_degree=10, n_iter=10
        ).collect()
    }
    assert out[1].out_degree == 4
    # center outranks every leaf; ranks normalize to 1
    for leaf in [2, 3, 4, 5]:
        assert out[1].rank > out[leaf].rank
    assert sum(r.rank_norm for r in out.values()) == pytest.approx(1.0, abs=1e-9)


def test_pagerank_symmetric_pair_equal_ranks(spark):
    df = _ev(spark, [(1, 0, "v", 1.0), (2, 1, "v", 2.0)])
    out = events.pagerank(df, F.col("event_type"), n_iter=5).collect()
    assert len(out) == 2
    assert out[0].rank == pytest.approx(out[1].rank, rel=1e-12)
    assert out[0].rank == pytest.approx(1.0, rel=1e-9)  # regular graph fixpoint


# --- gini ------------------------------------------------------------------


def test_gini_equal_and_concentrated(spark):
    # equal shares -> (n-1)/(2n)... no: rank formula gives exactly 0 for
    # equal values? G = 2*sum(r*x)/(n*sum x) - (n+1)/n with x=c:
    # 2*c*n(n+1)/2/(n*c*n) - (n+1)/n = (n+1)/n - (n+1)/n = 0.
    eq = _ev(spark, [(1, i, "a", 10.0) for i in range(5)])
    r = behavior.gini(eq).collect()[0]
    assert r.gini == pytest.approx(0.0, abs=1e-12)
    # one member holds everything: G = (n-1)/n
    conc = _ev(spark, [(1, 0, "a", 100.0)] + [(1, i + 1, "a", 0.0) for i in range(4)])
    r2 = behavior.gini(conc).collect()[0]
    assert r2.gini == pytest.approx(4 / 5, abs=1e-12)


def test_gini_matches_numpy(spark):
    import numpy as np

    vals = [float((i * 17) % 23 + 1) for i in range(40)]
    df = _ev(spark, [(1, i, "a", v) for i, v in enumerate(vals)])
    got = behavior.gini(df).collect()[0].gini
    x = np.sort(np.array(vals))
    n = len(x)
    expected = 2 * np.sum(np.arange(1, n + 1) * x) / (n * x.sum()) - (n + 1) / n
    assert got == pytest.approx(float(expected), abs=1e-9)


# --- numpy cross-checks ----------------------------------------------------


def test_acf_matches_numpy(spark):
    import numpy as np

    vals = [float(((i * 31) % 17) - 8) + 20.0 for i in range(60)]
    rows = [(1, 3600 * i, "a", v) for i, v in enumerate(vals)]
    got = {r.lag: r.acf for r in drift.acf(_ev(spark, rows), max_lag=5).collect()}
    x = np.array(vals)
    d = x - x.mean()
    den = float((d * d).sum())
    for k in range(1, 6):
        expected = float((d[k:] * d[:-k]).sum()) / den
        assert got[k] == pytest.approx(expected, abs=1e-6)


def test_entropy_matches_numpy(spark):
    import numpy as np

    cats = [chr(ord("a") + ((i * 7) % 5)) for i in range(50)]
    df = _ev(spark, [(1, i, c, 1.0) for i, c in enumerate(cats)])
    got = behavior.category_entropy(df).collect()[0]
    _, counts = np.unique(np.array(cats), return_counts=True)
    p = counts / counts.sum()
    assert got.entropy == pytest.approx(float(-(p * np.log(p)).sum()), abs=1e-12)
    assert got.hhi == pytest.approx(float((p * p).sum()), abs=1e-12)


# --- survival_curve --------------------------------------------------------


def test_survival_km_known_values(spark):
    # dataset end = day 30 (one long-lived anchor user). Users:
    #   u1: day-0 lifetime, last event day 0  -> churned (gap 30 > 7)
    #   u2: day-0 lifetime, last event day 25 -> censored (gap 5 <= 7)
    #   u3: 10-day lifetime ending day 10     -> churned (gap 20 > 7)
    #   u4 (anchor): 30-day lifetime          -> censored (gap 0)
    day = 86400
    rows = [
        (1, 0, "a", 1.0),
        (2, 25 * day, "a", 1.0),
        (3, 0, "a", 1.0), (3, 10 * day, "a", 1.0),
        (4, 0, "a", 1.0), (4, 30 * day, "a", 1.0),
    ]
    out = {r.day: r for r in behavior.survival_curve(_ev(spark, rows)).collect()}
    # day 0: 4 at risk, 1 churn (u1), 1 censored (u2) -> S = 3/4
    assert out[0].n_at_risk == 4 and out[0].n_events == 1 and out[0].n_censored == 1
    assert out[0].survival == pytest.approx(0.75, abs=1e-12)
    # day 10: u3 + u4 still at risk, u3 churns -> S = 3/4 * 1/2
    assert out[10].n_at_risk == 2 and out[10].n_events == 1
    assert out[10].survival == pytest.approx(0.375, abs=1e-12)
    # day 30: only u4, censored -> hazard 0, S unchanged
    assert out[30].n_at_risk == 1 and out[30].n_events == 0 and out[30].n_censored == 1
    assert out[30].survival == pytest.approx(0.375, abs=1e-12)


def test_survival_monotone_nonincreasing(spark, sf_dir):
    from financial_fraud_detection_using_time_series_data_spark.sources import load_table

    rows = sorted(
        behavior.survival_curve(load_table(spark, sf_dir, "events")).collect(),
        key=lambda r: r.day,
    )
    assert rows, "curve must be non-empty"
    prev = 1.0 + 1e-12
    for r in rows:
        assert 0.0 <= r.survival <= prev
        prev = r.survival
    # at-risk counts strictly decrease and end with everyone accounted for
    assert rows[0].n_at_risk == sum(r.n_events + r.n_censored for r in rows)


def test_survival_all_churn_hits_zero(spark):
    # anchor user active to day 100 makes every day-0 user churned
    day = 86400
    rows = [(9, 0, "a", 1.0), (9, 100 * day, "a", 1.0)] + [
        (u, 0, "a", 1.0) for u in range(1, 4)
    ]
    out = {r.day: r for r in behavior.survival_curve(_ev(spark, rows)).collect()}
    assert out[0].n_events == 3 and out[0].n_censored == 0
    assert out[0].survival == pytest.approx(0.25, abs=1e-12)
    # final day: the lone anchor is censored at the boundary -> d < n guard
    assert out[100].survival == pytest.approx(0.25, abs=1e-12)


def test_gini_chunked_equals_single_window(spark):
    # the parallel-rank decomposition must be bit-identical to the
    # single-chunk (plain per-group window) form, ties included
    vals = [float((i * 13) % 7) for i in range(200)]  # heavy ties
    df = _ev(spark, [(1, i, "a" if i % 2 else "b", v) for i, v in enumerate(vals)])
    many = {r.event_type: r for r in behavior.gini(df, n_chunks=16).collect()}
    one = {r.event_type: r for r in behavior.gini(df, n_chunks=1).collect()}
    assert many.keys() == one.keys()
    for k in many:
        assert many[k].n == one[k].n
        assert many[k].total == one[k].total
        assert many[k].gini == one[k].gini  # exact, not approx


def test_rolling_corr_matches_pandas(spark):
    # explicit y_col (no derived gap, no NaNs): must equal pandas
    # rolling(20, min_periods=3).corr to 1e-9 on a mixed random walk
    import pandas as pd

    xs = [float(((i * 29) % 13) - 6 + 0.25 * i) for i in range(60)]
    ys = [float(((i * 11) % 7) * 2 - (0.1 * i) ** 2) for i in range(60)]
    t0 = datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [
            (i, t0 + timedelta(seconds=10 * i), 1, "a", xs[i], ys[i])
            for i in range(60)
        ],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, other double",
    )
    got = {
        r.event_id: r.roll_corr
        for r in windows.rolling_corr(
            df, y_col="other", lookback=20, min_periods=3
        ).collect()
    }
    exp = (
        pd.Series(xs).rolling(20, min_periods=3).corr(pd.Series(ys)).tolist()
    )
    for i in range(60):
        if i < 2:
            assert got[i] is None  # fewer than 3 pairs
        else:
            assert got[i] == pytest.approx(exp[i], abs=1e-9)


# --- lorenz_deciles --------------------------------------------------------


def test_lorenz_monotone_and_ends_at_one(spark):
    vals = [float((i * 31) % 97 + 1) for i in range(200)]
    df = _ev(spark, [(1, i, "a", v) for i, v in enumerate(vals)])
    rows = sorted(behavior.lorenz_deciles(df).collect(), key=lambda r: r.decile)
    assert [r.decile for r in rows] == list(range(1, 11))
    assert sum(r.n_members for r in rows) == 200
    shares = [r.cum_share for r in rows]
    assert all(b >= a - 1e-12 for a, b in zip(shares, shares[1:]))  # monotone
    assert shares[-1] == pytest.approx(1.0, abs=1e-12)
    # ascending-value deciles: bottom decile holds < 10% for a non-flat dist
    assert shares[0] < 0.1


def test_lorenz_uniform_is_diagonal(spark):
    # equal values: cumulative share at decile d is exactly d/10
    df = _ev(spark, [(1, i, "a", 5.0) for i in range(100)])
    rows = sorted(behavior.lorenz_deciles(df).collect(), key=lambda r: r.decile)
    for r in rows:
        assert r.cum_share == pytest.approx(r.decile / 10, abs=1e-12)
        assert r.n_members == 10


def test_lorenz_consistent_with_gini(spark):
    # trapezoid-rule area under the decile Lorenz curve ~ (1 - G)/2;
    # with only decile resolution allow a coarse tolerance
    vals = [float((i * 17) % 50 + 1) ** 2 for i in range(300)]
    df = _ev(spark, [(1, i, "a", v) for i, v in enumerate(vals)])
    rows = sorted(behavior.lorenz_deciles(df).collect(), key=lambda r: r.decile)
    g = behavior.gini(df).collect()[0].gini
    xs = [0.0] + [r.decile / 10 for r in rows]
    ys = [0.0] + [r.cum_share for r in rows]
    area = sum((x1 - x0) * (y0 + y1) / 2 for x0, x1, y0, y1 in zip(xs, xs[1:], ys, ys[1:]))
    assert abs((1 - 2 * area) - g) < 0.02


# --- linear_trend ----------------------------------------------------------


def test_linear_trend_exact_line(spark):
    # value rises exactly 2 per day: slope_per_day = 2, intercept = first
    # value, r2 = 1
    day = 86400
    rows = [(1, i * day, "a", 10.0 + 2.0 * i) for i in range(6)]
    r = behavior.linear_trend(_ev(spark, rows)).collect()[0]
    assert r.slope_per_day == pytest.approx(2.0, abs=1e-9)
    assert r.intercept == pytest.approx(10.0, abs=1e-9)
    assert r.r2 == pytest.approx(1.0, abs=1e-12)


def test_linear_trend_guards(spark):
    # single event and zero time-variance -> NULL slope
    rows = [(1, 0, "a", 5.0), (2, 0, "a", 1.0), (2, 0, "a", 2.0)]
    out = {r.user_id: r for r in behavior.linear_trend(_ev(spark, rows)).collect()}
    assert out[1].slope_per_day is None
    assert out[2].slope_per_day is None  # both events at the same instant


def test_linear_trend_matches_numpy(spark):
    import numpy as np

    xs = [int(3600 * ((i * 13) % 29)) for i in range(40)]
    ys = [float((i * 7) % 11) + 0.01 * i for i in range(40)]
    df = _ev(spark, [(1, xs[i], "a", ys[i]) for i in range(40)])
    r = behavior.linear_trend(df).collect()[0]
    x = np.array(xs, dtype=float) - min(xs)
    y = np.array(ys)
    slope, intercept = np.polyfit(x, y, 1)
    cc = np.corrcoef(x, y)[0, 1]
    assert r.slope_per_day == pytest.approx(slope * 86400, rel=1e-9)
    assert r.intercept == pytest.approx(intercept, rel=1e-9)
    assert r.r2 == pytest.approx(cc * cc, rel=1e-9)


# --- dormancy_reactivation ---------------------------------------------------


def test_dormancy_reactivation_semantics(spark):
    day = 86400
    # u1: 3 events, then 40 days silent, wakes with a 10x amount
    rows = [
        (1, 0, "a", 10.0), (1, 3600, "a", 20.0), (1, 7200, "a", 30.0),
        (1, 7200 + 40 * day, "a", 200.0),
        # u2: steady daily activity, never dormant at 30d threshold
        (2, 0, "a", 5.0), (2, day, "a", 5.0), (2, 2 * day, "a", 5.0),
    ]
    out = behavior.dormancy_reactivation(
        _ev(spark, rows), dormant_days=30.0
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert r.user_id == 1 and r.n_prior_events == 3
    assert r.dormant_days == pytest.approx(40.0, abs=1e-9)
    assert r.prior_avg_amount == pytest.approx(20.0, abs=1e-12)
    assert r.amount_vs_prior == pytest.approx(10.0, abs=1e-12)


def test_dormancy_first_event_never_flags(spark):
    # a user's first event has no gap -> excluded even with threshold 0
    rows = [(1, 0, "a", 5.0)]
    assert behavior.dormancy_reactivation(_ev(spark, rows), dormant_days=0.0).count() == 0


# --- activity_streaks --------------------------------------------------------


def test_activity_streaks_islands(spark):
    day = 86400
    rows = [
        # u1: days 0,1,2 then 5,6 then 10 -> streaks 3,2,1
        (1, 0, "a", 1.0), (1, 10, "a", 1.0),  # same day counted once
        (1, day, "a", 1.0), (1, 2 * day, "a", 1.0),
        (1, 5 * day, "a", 1.0), (1, 6 * day, "a", 1.0),
        (1, 10 * day, "a", 1.0),
        # u2: one day only
        (2, 0, "a", 1.0),
    ]
    out = {r.user_id: r for r in behavior.activity_streaks(_ev(spark, rows)).collect()}
    assert out[1].longest_streak_days == 3
    assert out[1].n_streaks == 3
    assert out[1].total_active_days == 6
    assert out[2].longest_streak_days == 1 and out[2].n_streaks == 1


def test_activity_streaks_month_boundary(spark):
    # Jan 31 -> Feb 1 is consecutive (epoch-day arithmetic, not day-of-month)
    day = 86400
    rows = [(1, 30 * day, "a", 1.0), (1, 31 * day, "a", 1.0)]
    r = behavior.activity_streaks(_ev(spark, rows)).collect()[0]
    assert r.longest_streak_days == 2 and r.n_streaks == 1


# --- period_over_period ------------------------------------------------------


def test_period_over_period_deltas(spark):
    day = 86400
    rows = [
        (1, 0, "a", 10.0), (1, 10, "a", 10.0),       # day1 a: 20
        (1, day, "a", 30.0),                          # day2 a: 30 (+50%)
        (1, 2 * day, "a", 15.0),                      # day3 a: 15 (-50%)
        (2, 0, "b", 5.0),                             # day1 b: 5
        (2, 2 * day, "b", 5.0),                       # day3 b: 5 (gap day2)
    ]
    from financial_fraud_detection_using_time_series_data_spark.operators.relational import (
        period_over_period,
    )

    out = {(r.grp, r.bucket_ts.day): r
           for r in period_over_period(_ev(spark, rows)).collect()}
    assert out[("a", 1)].prev_total is None and out[("a", 1)].pct_change is None
    assert out[("a", 2)].delta == pytest.approx(10.0)
    assert out[("a", 2)].pct_change == pytest.approx(0.5)
    assert out[("a", 3)].pct_change == pytest.approx(-0.5)
    # gap: day-3 'b' compares to day-1 'b' (previous OBSERVED period)
    assert out[("b", 3)].prev_total == pytest.approx(5.0)
    assert out[("b", 3)].delta == pytest.approx(0.0)


# --- theil_sen_trend ---------------------------------------------------------


def test_theil_sen_matches_bruteforce(spark):
    import numpy as np
    from datetime import datetime, timedelta

    from financial_fraud_detection_using_time_series_data_spark.operators import behavior

    base = datetime(2024, 1, 1)
    rows = []
    rng = np.random.default_rng(3)
    series = {}
    for uid in range(4):
        n = int(rng.integers(2, 12))
        ts = sorted(rng.choice(86400 * 30, size=n, replace=False).tolist())
        vals = [round(float(v), 2) for v in rng.normal(50, 20, size=n)]
        series[uid] = list(zip(ts, vals))
        rows += [(uid, base + timedelta(seconds=int(t)), v) for t, v in series[uid]]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    got = {
        r.user_id: (r.n_pairs, r.slope_per_day)
        for r in behavior.theil_sen_trend(df, max_points=200).collect()
    }
    for uid, pts in series.items():
        slopes = [
            (vb - va) * 86400.0 / (tb - ta)
            for i, (ta, va) in enumerate(pts)
            for tb, vb in pts[i + 1 :]
            if tb != ta
        ]
        assert got[uid][0] == len(slopes), uid
        assert got[uid][1] == pytest.approx(float(np.median(slopes)), rel=1e-9), uid


def test_theil_sen_robust_to_single_outlier(spark):
    from datetime import datetime, timedelta

    from financial_fraud_detection_using_time_series_data_spark.operators import behavior

    base = datetime(2024, 1, 1)
    # clean +1/day trend with one wild spike; OLS slope is dragged hard,
    # the pairwise-slope median barely moves
    rows = [(1, base + timedelta(days=i), float(i)) for i in range(10)]
    rows[5] = (1, rows[5][1], 1000.0)
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    r = behavior.theil_sen_trend(df).collect()[0]
    assert abs(r.slope_per_day - 1.0) < 0.5
    ols = behavior.linear_trend(df).collect()[0]
    assert abs(ols.slope_per_day - 1.0) > 5.0


def test_theil_sen_max_points_cap(spark):
    from datetime import datetime, timedelta

    from financial_fraud_detection_using_time_series_data_spark.operators import behavior

    base = datetime(2024, 1, 1)
    rows = [(1, base + timedelta(hours=i), float(i % 7)) for i in range(50)]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    r = behavior.theil_sen_trend(df, max_points=10).collect()[0]
    assert r.n_pairs == 45  # C(10,2) over the 10 most recent points


# --- rake_keywords -----------------------------------------------------------


def test_rake_matches_bruteforce(spark):
    import math
    import re
    from collections import defaultdict

    from financial_fraud_detection_using_time_series_data_spark.operators import text as T

    docs = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "quick brown foxes and lazy dogs in the yard"),
        (2, "The  QUICK   brown fox is quick"),
        (3, "of the and to"),          # all stopwords -> no phrases
        (4, ""),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = T.rake_keywords(df, top_n=50).collect()

    # brute force
    phrases = []
    for _, txt in docs:
        toks = re.sub(r"\s+", " ", txt.lower()).strip().split(" ")
        run = []
        for t in toks + ["the"]:
            if t in T.STOPWORDS or t == "":
                if run:
                    phrases.append(run)
                run = []
            else:
                run.append(t)
    freq = defaultdict(int)
    deg = defaultdict(int)
    for p in phrases:
        for t in p:
            freq[t] += 1
            deg[t] += len(p)
    def micro(t):
        return math.floor(deg[t] / freq[t] * 1e6 + 0.5)
    scores = {}
    occs = defaultdict(int)
    for p in phrases:
        key = " ".join(p)
        scores[key] = (len(p), sum(micro(t) for t in p))
        occs[key] += 1
    expect = sorted(
        ((v[1], k) for k, v in scores.items()), key=lambda x: (-x[0], x[1])
    )
    got = [(r.phrase, r.n_words, r.n_occurrences, r.rake_score) for r in out]
    assert [g[0] for g in got] == [k for _, k in expect]
    for phrase, n_words, n_occ, score in got:
        assert n_words == scores[phrase][0]
        assert n_occ == occs[phrase]
        assert score == pytest.approx(scores[phrase][1] / 1e6, abs=1e-12)


# --- cohort_ltv --------------------------------------------------------------


def test_cohort_ltv_matches_bruteforce(spark):
    from collections import defaultdict
    from datetime import datetime, timedelta

    from financial_fraud_detection_using_time_series_data_spark.operators import behavior

    base = datetime(2024, 1, 1)  # a Monday
    rows = [
        # cohort week 0: users 1, 2
        (1, base, 10.0), (2, base + timedelta(days=2), 20.0),
        (1, base + timedelta(days=8), 30.0),            # age 1
        (2, base + timedelta(days=15), 40.0),           # age 2
        # cohort week 1: user 3
        (3, base + timedelta(days=7), 5.0),
        (3, base + timedelta(days=21), 15.0),           # age 2
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    out = {
        (str(r.cohort), r.age_weeks): (r.n_users, r.cum_revenue, r.ltv)
        for r in behavior.cohort_ltv(df).collect()
    }
    assert out[("2024-01-01", 0)] == (2, 30.0, 15.0)
    assert out[("2024-01-01", 1)] == (2, 60.0, 30.0)
    assert out[("2024-01-01", 2)] == (2, 100.0, 50.0)
    assert out[("2024-01-08", 0)] == (1, 5.0, 5.0)
    assert out[("2024-01-08", 2)] == (1, 20.0, 20.0)
    # ages with no activity produce no row (sparse cells)
    assert ("2024-01-08", 1) not in out


def test_cohort_ltv_monotone_cumulative(spark, sf_dir):
    from financial_fraud_detection_using_time_series_data_spark.operators import behavior
    from financial_fraud_detection_using_time_series_data_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events")
    rows = behavior.cohort_ltv(ev).collect()
    assert rows
    by_cohort = {}
    for r in rows:
        by_cohort.setdefault(str(r.cohort), []).append((r.age_weeks, r.cum_revenue))
    for series in by_cohort.values():
        series.sort()
        vals = [v for _, v in series]
        assert vals == sorted(vals)  # cumulative never decreases


# --- walk_forward_splits -----------------------------------------------------


def test_walk_forward_no_leakage_and_coverage(spark):
    from datetime import datetime, timedelta

    from financial_fraud_detection_using_time_series_data_spark.operators import relational

    base = datetime(2024, 1, 1)
    rows = [(i, base + timedelta(hours=i)) for i in range(100)]
    df = spark.createDataFrame(rows, "id long, ts timestamp")
    out = relational.walk_forward_splits(df, "ts", n_folds=4).collect()
    by_fold = {}
    for r in out:
        by_fold.setdefault(r.fold, {"train": [], "test": []})[r.role].append(r.id)
    assert sorted(by_fold) == [1, 2, 3, 4]
    for fold, parts in by_fold.items():
        assert parts["train"] and parts["test"]
        # strict temporal ordering: every train row precedes every test row
        assert max(parts["train"]) < min(parts["test"]), fold
    # expanding trains: fold i+1's train is a superset of fold i's
    for i in (1, 2, 3):
        assert set(by_fold[i]["train"]) < set(by_fold[i + 1]["train"])
    # each fold's test bucket equals the next fold's train increment
    assert set(by_fold[2]["train"]) - set(by_fold[1]["train"]) == set(by_fold[1]["test"])
    # 5 equal buckets over 100 hourly rows -> 20 per bucket
    assert len(by_fold[1]["train"]) == 20 and len(by_fold[4]["test"]) == 20
    assert len(by_fold[4]["train"]) == 80


# --- point_in_time_join ------------------------------------------------------


def test_pit_join_matches_bruteforce(spark):
    from datetime import datetime, timedelta

    from financial_fraud_detection_using_time_series_data_spark.operators import relational

    base = datetime(2024, 1, 1)
    dim_rows = [
        # (user, valid_from, version, attr)
        (1, base + timedelta(hours=0), 1, "bronze"),
        (1, base + timedelta(hours=10), 2, "silver"),
        (1, base + timedelta(hours=20), 3, None),      # NULL attr version
        (2, base + timedelta(hours=5), 1, "gold"),
    ]
    fact_rows = [
        (100, 1, base - timedelta(hours=1)),   # before any version -> NULL
        (101, 1, base + timedelta(hours=0)),   # exactly at v1 -> bronze
        (102, 1, base + timedelta(hours=15)),  # -> silver
        (103, 1, base + timedelta(hours=25)),  # -> v3, attr legitimately NULL
        (104, 2, base + timedelta(hours=6)),   # -> gold
        (105, 3, base + timedelta(hours=6)),   # entity with no dim -> NULL
    ]
    dim = spark.createDataFrame(
        dim_rows, "user_id long, valid_from timestamp, version int, attr string"
    )
    facts = spark.createDataFrame(fact_rows, "event_id long, user_id long, ts timestamp")
    out = {
        r.event_id: r.attr
        for r in relational.point_in_time_join(
            facts, dim, "user_id", "ts",
            fact_cols=["event_id", "user_id"],
            attr_cols=["attr"],
            dim_order_cols=("version",),
        ).collect()
    }
    assert out == {100: None, 101: "bronze", 102: "silver", 103: None,
                   104: "gold", 105: None}


def test_pit_join_same_instant_version_tie(spark):
    from datetime import datetime

    from financial_fraud_detection_using_time_series_data_spark.operators import relational

    t0 = datetime(2024, 1, 1)
    dim = spark.createDataFrame(
        [(1, t0, 1, "old"), (1, t0, 2, "new")],
        "user_id long, valid_from timestamp, version int, attr string",
    )
    facts = spark.createDataFrame([(9, 1, t0)], "event_id long, user_id long, ts timestamp")
    r = relational.point_in_time_join(
        facts, dim, "user_id", "ts",
        fact_cols=["event_id"], attr_cols=["attr"], dim_order_cols=("version",),
    ).collect()[0]
    assert r.attr == "new"   # the higher version wins the shared instant


# --- bigram_logprob ----------------------------------------------------------


def test_bigram_logprob_matches_bruteforce(spark):
    import math
    import re
    from collections import Counter

    from financial_fraud_detection_using_time_series_data_spark.operators import text as T

    docs = [
        (0, "the cat sat on the mat"),
        (1, "the cat sat"),
        (2, "mat the on sat cat the"),   # same words, scrambled order
        (3, "single"),                    # no bigram -> dropped
        (4, ""),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r.doc_id: (r.n_bigrams, r.mean_logprob)
           for r in T.bigram_logprob(df).collect()}

    tok = {i: re.sub(r"\s+", " ", t.lower()).strip().split(" ") if t.strip() else []
           for i, t in docs}
    bigs, ctx, vocab = Counter(), Counter(), set()
    for ts in tok.values():
        vocab.update(ts)
        for a, b in zip(ts, ts[1:]):
            bigs[(a, b)] += 1
            ctx[a] += 1
    V = len(vocab)
    for i, ts in tok.items():
        pairs = list(zip(ts, ts[1:]))
        if not pairs:
            assert i not in out
            continue
        micro = sum(
            math.floor(math.log((bigs[p] + 1.0) / (ctx[p[0]] + V)) * 1e6 + 0.5)
            for p in pairs
        )
        assert out[i][0] == len(pairs)
        assert out[i][1] == pytest.approx(micro / (len(pairs) * 1e6), abs=1e-12)
    # the scrambled doc scores strictly worse than the fluent one
    assert out[2][1] < out[0][1]


# --- quantile_normalize ------------------------------------------------------


def test_quantile_normalize_aligns_group_shapes(spark):
    import numpy as np

    from financial_fraud_detection_using_time_series_data_spark.operators import relational

    rng = np.random.default_rng(8)
    # group A ~ N(0,1); group B ~ N(100, 25): wildly different scales
    rows = [(i, "A", float(v)) for i, v in enumerate(rng.normal(0, 1, 400))]
    rows += [(i + 400, "B", float(v)) for i, v in enumerate(rng.normal(100, 25, 400))]
    df = spark.createDataFrame(rows, "id long, grp string, v double")
    out = relational.quantile_normalize(df, "grp", "v", grid_size=101).toPandas()
    a = np.sort(out[out.grp == "A"].normalized.to_numpy())
    b = np.sort(out[out.grp == "B"].normalized.to_numpy())
    # after normalization the two groups' distributions coincide
    assert float(np.abs(a - b).max()) < 1.0
    # order within a group is preserved (monotone transform)
    ga = out[out.grp == "A"].sort_values("v").normalized.to_numpy()
    assert (np.diff(ga) >= -1e-12).all()
    # the normalized support spans the POOLED range
    assert out.normalized.min() == pytest.approx(out.v.min())
    assert out.normalized.max() == pytest.approx(out.v.max())


def test_quantile_normalize_singleton_group_maps_to_min(spark):
    from financial_fraud_detection_using_time_series_data_spark.operators import relational

    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 20.0), (3, "b", 999.0)], "id long, grp string, v double"
    )
    out = {r.id: (r.pct_rank, r.normalized) for r in
           relational.quantile_normalize(df, "grp", "v", grid_size=11).collect()}
    assert out[3][0] == 0.0                      # singleton group rank 0
    assert out[3][1] == pytest.approx(10.0)      # -> pooled minimum
    assert out[2][0] == 1.0 and out[2][1] == pytest.approx(999.0)


# --- audience_overlap --------------------------------------------------------


def test_audience_overlap_matches_bruteforce(spark):
    from datetime import datetime, timedelta

    from financial_fraud_detection_using_time_series_data_spark.operators import behavior

    base = datetime(2024, 1, 1)  # Monday
    weeks = {
        0: {1, 2, 3},
        1: {2, 3, 4, 5},      # retained {2,3}, new {4,5}, churned {1}
        2: {5},               # retained {5}, churned {2,3,4}
        # week 3 empty -> no pair rows for week 3 or 4
        4: {7, 8},
    }
    rows = [
        (u * 100 + w, u, base + timedelta(days=7 * w, hours=u))
        for w, us in weeks.items() for u in us
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
    out = {str(r.bucket): r for r in behavior.audience_overlap(df).collect()}
    r1 = out["2024-01-08"]
    assert (r1.n_prev, r1.n_cur, r1.n_retained, r1.n_new, r1.n_churned) == (3, 4, 2, 2, 1)
    assert r1.jaccard == pytest.approx(2 / 5)
    r2 = out["2024-01-15"]
    assert (r2.n_prev, r2.n_cur, r2.n_retained) == (4, 1, 1)
    assert r2.jaccard == pytest.approx(1 / 4)
    # gap weeks produce no adjacent-pair rows
    assert set(out) == {"2024-01-08", "2024-01-15"}
