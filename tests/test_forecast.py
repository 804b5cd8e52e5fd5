"""Holt forecast (operators/forecast.py) vs a pure-python reference,
and reconcile_totals (operators/finance.py) semantics."""

from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from financial_fraud_detection_using_time_series_data_spark.operators import finance, forecast


def _holt_ref(y, alpha, beta):
    lev, tr, sse = float(y[0]), float(y[1]) - float(y[0]), 0.0
    for t in range(1, len(y)):
        err = float(y[t]) - (lev + tr)
        sse += err * err
        new_lev = alpha * float(y[t]) + (1 - alpha) * (lev + tr)
        tr = beta * (new_lev - lev) + (1 - beta) * tr
        lev = new_lev
    return lev, tr, sse


def _daily(spark, series):
    """series: {user: [day0_total, day1_total, ...]} as one event/day."""
    t0 = datetime(2024, 1, 1)
    rows = [
        (u * 1000 + d, t0 + timedelta(days=d), u, "a", v)
        for u, vals in series.items()
        for d, v in enumerate(vals)
        if v is not None
    ]
    return spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )


def test_holt_matches_reference(spark):
    vals = [10.0, 12.0, 13.0, 15.0, 14.0, 18.0, 20.0]
    df = _daily(spark, {1: vals})
    out = {
        r.step: r
        for r in forecast.holt_forecast(
            df, alpha=0.3, beta=0.1, horizon=3
        ).collect()
    }
    lev, tr, sse = _holt_ref(vals, 0.3, 0.1)
    assert len(out) == 3
    for h in (1, 2, 3):
        assert out[h].forecast == pytest.approx(lev + h * tr, rel=1e-12)
    assert out[1].level == pytest.approx(lev, rel=1e-12)
    assert out[1].trend == pytest.approx(tr, rel=1e-12)
    assert out[1].sse == pytest.approx(sse, rel=1e-12)
    assert out[1].n_obs == 7


def test_holt_linear_series_is_exact(spark):
    # a perfectly linear series has zero one-step error once initialized
    vals = [5.0 + 2.0 * d for d in range(10)]
    df = _daily(spark, {1: vals})
    r = forecast.holt_forecast(df, alpha=0.5, beta=0.5, horizon=1).collect()[0]
    assert r.sse == pytest.approx(0.0, abs=1e-18)
    assert r.forecast == pytest.approx(vals[-1] + 2.0, rel=1e-12)


def test_holt_drops_short_entities_and_buckets_intraday(spark):
    # u2 has a single day -> dropped; u1's two same-day events roll up
    t0 = datetime(2024, 1, 1)
    rows = [
        (1, t0, 1, "a", 3.0),
        (2, t0 + timedelta(hours=5), 1, "a", 4.0),  # same bucket as above
        (3, t0 + timedelta(days=1), 1, "a", 10.0),
        (4, t0, 2, "a", 1.0),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    out = forecast.holt_forecast(df, horizon=2).collect()
    assert {r.user_id for r in out} == {1}
    assert out[0].n_obs == 2  # [7.0, 10.0] after the day rollup


# --- reconcile_totals --------------------------------------------------------


def test_reconcile_flags_mismatch_and_missing(spark):
    detail = spark.createDataFrame(
        [(1, 50.0), (1, 50.0), (2, 30.0), (4, 9.0)],
        "k long, amt double",
    )
    header = spark.createDataFrame(
        [(1, 100.0), (2, 40.0), (3, 7.0)], "k long, total double"
    )
    out = {
        r.key: r
        for r in finance.reconcile_totals(
            detail, header, "k", "k", F.col("amt"), "total"
        ).collect()
    }
    assert set(out) == {2, 3, 4}  # key 1 reconciles exactly -> absent
    assert out[2].status == "mismatch"
    assert out[2].delta == pytest.approx(10.0)
    assert out[2].rel_delta == pytest.approx(0.25)
    assert out[3].status == "missing_detail" and out[3].n_detail_rows is None
    assert out[4].status == "missing_header" and out[4].header_total is None


def test_reconcile_tolerance(spark):
    detail = spark.createDataFrame([(1, 99.0)], "k long, amt double")
    header = spark.createDataFrame([(1, 100.0)], "k long, total double")
    args = (detail, header, "k", "k", F.col("amt"), "total")
    assert finance.reconcile_totals(*args, rel_tolerance=0.02).count() == 0
    assert finance.reconcile_totals(*args, rel_tolerance=0.005).count() == 1


# --- holt_winters_forecast ---------------------------------------------------


def _hw_reference(y, m, a, b, g, h):
    import numpy as np

    s1 = float(np.mean(y[:m])); s2 = float(np.mean(y[m:2*m]))
    lev, tr = s1, (s2 - s1) / m
    seas = (np.asarray(y[:m], dtype=float) - s1)
    sse = 0.0
    for t in range(m, len(y)):
        si = t % m
        err = y[t] - (lev + tr + seas[si])
        sse += err * err
        new_lev = a * (y[t] - seas[si]) + (1 - a) * (lev + tr)
        tr = b * (new_lev - lev) + (1 - b) * tr
        seas[si] = g * (y[t] - new_lev) + (1 - g) * seas[si]
        lev = new_lev
    n = len(y)
    fc = [lev + k * tr + seas[(n + k - 1) % m] for k in range(1, h + 1)]
    return fc, lev, tr, sse


def test_holt_winters_matches_reference(spark):
    import numpy as np
    from datetime import datetime, timedelta

    base = datetime(2024, 1, 1)
    rng = np.random.default_rng(7)
    m = 6
    rows, series = [], {}
    for uid in (1, 2):
        n = 4 * m + uid
        y = [
            50.0 + 2.0 * t + 10.0 * np.sin(2 * np.pi * (t % m) / m) + float(rng.normal(0, 0.5))
            for t in range(n)
        ]
        y = [float(round(v, 2)) for v in y]
        series[uid] = y
        rows += [(uid, base + timedelta(hours=t), v) for t, v in enumerate(y)]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    out = forecast.holt_winters_forecast(
        df, bucket="hour", season_length=m, alpha=0.3, beta=0.05, gamma=0.2, horizon=4
    ).collect()
    got = {}
    for r in out:
        got.setdefault(r.user_id, {})[r.step] = r
    for uid, y in series.items():
        fc, lev, tr, sse = _hw_reference(y, m, 0.3, 0.05, 0.2, 4)
        for k in range(1, 5):
            r = got[uid][k]
            assert r.forecast == pytest.approx(fc[k - 1], rel=1e-9), (uid, k)
            assert r.level == pytest.approx(lev, rel=1e-9)
            assert r.sse == pytest.approx(sse, rel=1e-9)
            assert r.n_obs == len(y)


def test_holt_winters_learns_planted_cycle(spark):
    from datetime import datetime, timedelta

    base = datetime(2024, 1, 1)
    m = 4
    # pure cycle [0, 10, 0, -10] with zero trend and no noise: the
    # forecast must reproduce the cycle almost exactly
    y = [0.0, 10.0, 0.0, -10.0] * 8
    rows = [(1, base + timedelta(hours=t), v) for t, v in enumerate(y)]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    out = {
        r.step: r.forecast
        for r in forecast.holt_winters_forecast(
            df, bucket="hour", season_length=m, horizon=4
        ).collect()
    }
    expect = {1: 0.0, 2: 10.0, 3: 0.0, 4: -10.0}
    for k, v in expect.items():
        assert out[k] == pytest.approx(v, abs=0.3), k


def test_holt_winters_drops_short_series(spark):
    from datetime import datetime, timedelta

    base = datetime(2024, 1, 1)
    rows = [(1, base + timedelta(hours=t), float(t)) for t in range(7)]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    assert (
        forecast.holt_winters_forecast(df, bucket="hour", season_length=4).collect()
        == []
    )


@pytest.mark.parametrize("season_length", [-1, 0])
def test_holt_winters_rejects_season_length_below_one(spark, season_length):
    """A non-positive season is rejected when the frame is built: -1
    used to return rows silently, 0 died in the Python worker."""
    df = _daily(spark, {1: [float(v) for v in range(1, 9)]})
    with pytest.raises(ValueError, match="season_length"):
        forecast.holt_winters_forecast(df, bucket="day", season_length=season_length)


@pytest.mark.parametrize(
    "q, r, p0", [(0.0, 0.0, 0.0), (0.05, -0.5, 1.0), (-0.05, 0.5, 1.0), (0.05, 0.5, -1.0)]
)
def test_kalman_rejects_degenerate_noise(spark, q, r, p0):
    """q = r = p0 = 0 used to die in the Python worker (0/0 gain); the
    filter needs r > 0, q >= 0 and p0 >= 0, checked at build time."""
    df = _daily(spark, {1: [1.0, 2.0, 3.0]})
    with pytest.raises(ValueError, match="kalman_filter"):
        forecast.kalman_filter(df, q=q, r=r, p0=p0)


_KEYS_BY_TYPE = {
    "bigint": [3_000_000_000, -2],
    "int": [2_000_000_000, -5],
    "smallint": [30_000, -7],
    "string": ["a", "b'c"],
}


@pytest.mark.parametrize("key_type", sorted(_KEYS_BY_TYPE))
def test_per_series_operators_keep_key_type(spark, key_type):
    """Every operator on the per-series harness emits its key column in
    the input's Spark type, and the key values round-trip."""
    keys = _KEYS_BY_TYPE[key_type]
    t0 = datetime(2024, 1, 1)
    rows = [
        (k, t0 + timedelta(days=d), 10.0 + 3.0 * j + d * (d % 3))
        for j, k in enumerate(keys)
        for d in range(8)
    ]
    df = spark.createDataFrame(rows, f"k {key_type}, ts timestamp, value double")
    outs = {
        "holt": forecast.holt_forecast(df, "k", "ts", "value"),
        "holt_winters": forecast.holt_winters_forecast(
            df, "k", "ts", "value", bucket="day", season_length=2, horizon=2
        ),
        "kalman": forecast.kalman_filter(df, "k", "ts", "value"),
        "croston": forecast.croston_forecast(df, "k", "ts", "value"),
        "theta": forecast.theta_forecast(df, "k", "ts", "value"),
        "garch": finance.garch_variance(df, "ts", "k", "value"),
    }
    for name, out in outs.items():
        assert out.schema["k"].dataType == df.schema["k"].dataType, name
        assert {r["k"] for r in out.collect()} == set(keys), name
