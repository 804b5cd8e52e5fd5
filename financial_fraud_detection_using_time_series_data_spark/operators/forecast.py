"""Per-entity forecasts and baseline scorecards over bucket rollups
(beyond-reference).

The reference scores the present (``src/models/``); a monitoring stack
also needs a cheap forward view — "what volume/spend do we EXPECT from
this account next week?" — so that tomorrow's anomaly screens have a
baseline. Holt's linear (double-exponential) smoothing is the workhorse:
level + trend state folded once through each entity's bucketed series.

The recursions are genuinely sequential per entity, so they take the
documented Arrow escape hatch (SURVEY §2.12: built-ins first, pandas
UDFs where semantics demand) through ONE harness, `per_series`, whose
per-series state is a few floats running over the BUCKET ROLLUP
(`_rollup`) — never the raw events.

Scale notes (100 TB):
- Stage 1 is a map-side-combined groupBy to |entities|·|buckets| rows
  (decimal-exact sums); the corpus is touched exactly once.
- Stage 2 shuffles only the rollup on the entity key. The recursion runs
  as ``mapInPandas`` over key-repartitioned partitions — ONE Python
  call per partition, with the per-entity split done by pandas groupby
  inside it, not one call per entity (measured 4ms/group of pure
  invocation overhead at |entities|=1500).
- Arrow batches move the rollup, not the corpus; no collect, no
  driver-side loop over entities.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import exprs as E
from ..functions.lineage import reuse


# Spark DDL type -> pandas dtype for the columns `per_series` emits.
# Anything not listed (decimal, date, ...) falls back to "object" so the
# Python values pass through untyped and Arrow casts them to the declared
# DDL type — never assume int64 for a non-long id.
_PD_DTYPE = {
    "string": "object",
    "bigint": "int64",
    "long": "int64",
    "int": "int32",
    "smallint": "int16",
    "tinyint": "int8",
    "double": "float64",
    "timestamp": "datetime64[ns]",
}


def per_series(
    rolled: DataFrame, key: str, order: str, schema: str, fit
) -> DataFrame:
    """Run a sequential recursion once per ``key`` series of ``rolled``.

    ``fit(group_pdf)`` gets one series' rows sorted by ``order`` and
    yields row tuples for the DDL ``schema``; the output is ``key`` (in
    its input type) followed by those columns. One
    ``mapInPandas`` call per partition after ``repartition(key)``; the
    output pandas dtypes derive from the DDL, so an int/smallint/string
    key is emitted as itself. Series whose key is NULL are dropped
    (pandas groupby skips NaN keys).
    """
    ddl = f"{key} {rolled.schema[key].dataType.simpleString()}, {schema}"
    fields = [f.split() for f in ddl.split(",")]
    names = [n for n, _ in fields]
    dtypes = [_PD_DTYPE.get(t, "object") for _, t in fields]

    def _partition(batches):
        import pandas as pd

        chunks = list(batches)
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True)
        rows = []
        for k, g in pdf.sort_values([key, order]).groupby(key, sort=False):
            rows.extend((k, *r) for r in fit(g))
        cols = list(zip(*rows)) if rows else [()] * len(names)
        yield pd.DataFrame(
            {n: pd.Series(list(c), dtype=d) for n, c, d in zip(names, cols, dtypes)}
        )

    return rolled.repartition(key).mapInPandas(_partition, schema=ddl)


def _rollup(
    df: DataFrame, entity_col: str, ts_col: str, value_col: str, bucket: str
) -> DataFrame:
    """(entity_col, __b, __y): per-entity ``bucket`` totals, summed as
    DECIMAL(25,2) so every engine and partitioning folds the same
    double."""
    return df.groupBy(
        F.col(entity_col),
        F.date_trunc(bucket, F.col(ts_col)).alias("__b"),
    ).agg(E.dsum(value_col).cast("double").alias("__y"))


def holt_forecast(
    df: DataFrame,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    bucket: str = "day",
    alpha: float = 0.3,
    beta: float = 0.1,
    horizon: int = 7,
) -> DataFrame:
    """Holt double-exponential smoothing per entity over its per-
    ``bucket`` amount series; returns ``horizon`` forward steps with the
    fitted level/trend state and one-step-ahead SSE (the in-sample error
    a backtester would gate on). Initialization is the standard
    l₀ = y₀, b₀ = y₁ − y₀; entities with fewer than 2 buckets are
    dropped (no trend is estimable).
    """
    a, b_, h = float(alpha), float(beta), int(horizon)

    def _fit(g):
        y = g["__y"].to_numpy()
        if len(y) < 2:
            return
        lev = float(y[0])
        tr = float(y[1]) - float(y[0])
        sse = 0.0
        for t in range(1, len(y)):
            err = float(y[t]) - (lev + tr)
            sse += err * err
            new_lev = a * float(y[t]) + (1.0 - a) * (lev + tr)
            tr = b_ * (new_lev - lev) + (1.0 - b_) * tr
            lev = new_lev
        for k in range(1, h + 1):
            yield k, lev + k * tr, lev, tr, sse, len(y)

    return per_series(
        _rollup(df, entity_col, ts_col, value_col, bucket),
        entity_col,
        "__b",
        "step int, forecast double, level double, trend double, sse double, n_obs long",
        _fit,
    )


def holt_winters_forecast(
    df: DataFrame,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    bucket: str = "hour",
    season_length: int = 24,
    alpha: float = 0.3,
    beta: float = 0.05,
    gamma: float = 0.2,
    horizon: int = 24,
) -> DataFrame:
    """Additive Holt-Winters (triple exponential smoothing) per entity
    over its per-``bucket`` amount series — the seasonal completion of
    `holt_forecast` (daily/weekly cycles dominate transaction volume;
    a trend-only smoother launders the cycle into its error term).
    Output is |entities| × horizon rows.

    Initialization (standard additive HW): level = mean of the first
    season; trend = (mean of season 2 − mean of season 1)/m; seasonals =
    first-season deviations from its mean. The two season means are
    computed on exact integer cent sums (the bucket totals come from
    DECIMAL(25,2), so cents are exact int64) — order-invariant and
    bit-identical to the recursive-CTE SQL twin; a float mean would
    leak numpy's pairwise-summation order into the fit. Entities with
    fewer than 2·``season_length`` buckets are dropped (the seasonal
    profile is not estimable). Missing buckets are treated as gaps in
    the index (no zero-fill) — compose with `resample_ffill` upstream
    when a dense grid is wanted. ``season_length`` must be at least 1.
    """
    if int(season_length) < 1:
        raise ValueError(
            f"holt_winters_forecast: season_length = {season_length} must be >= 1"
        )
    a, b_, g_, m, h = float(alpha), float(beta), float(gamma), int(season_length), int(horizon)

    def _fit(grp):
        y = grp["__y"].to_numpy(dtype=np.float64)
        n = len(y)
        if n < 2 * m:
            return
        # exact cent sums: y is a DECIMAL(25,2) total as double, so
        # round(y*100) recovers the integer cents losslessly
        cents = np.rint(y * 100.0).astype(np.int64)
        s1 = int(cents[:m].sum()) / 100.0 / m
        s2 = int(cents[m : 2 * m].sum()) / 100.0 / m
        lev = s1
        tr = (s2 - s1) / m
        seas = (y[:m] - s1).astype(np.float64)
        sse = 0.0
        for t in range(m, n):
            si = t % m
            pred = lev + tr + seas[si]
            err = float(y[t]) - pred
            sse += err * err
            new_lev = a * (float(y[t]) - seas[si]) + (1.0 - a) * (lev + tr)
            tr = b_ * (new_lev - lev) + (1.0 - b_) * tr
            seas[si] = g_ * (float(y[t]) - new_lev) + (1.0 - g_) * seas[si]
            lev = new_lev
        for k in range(1, h + 1):
            yield k, lev + k * tr + seas[(n + k - 1) % m], lev, tr, sse, n

    return per_series(
        _rollup(df, entity_col, ts_col, value_col, bucket),
        entity_col,
        "__b",
        "step int, forecast double, level double, trend double, sse double, n_obs long",
        _fit,
    )


def kalman_filter(
    df: DataFrame,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    bucket: str = "day",
    q: float = 0.05,
    r: float = 0.5,
    p0: float = 1.0,
) -> DataFrame:
    """Local-level Kalman filter per entity over its per-bucket amount
    series: the adaptive-gain denoiser (EWMA whose smoothing constant
    is learned from the noise ratio) behind online fraud baselines.
    State: level L, variance P; per step Pₚ=P+q, K=Pₚ/(Pₚ+r),
    L←L+K·(y−L), P←(1−K)·Pₚ; initialized L₀=y₀, P₀=p0 (no update on
    the first observation). Requires r > 0, q ≥ 0 and p0 ≥ 0, so the
    gain's denominator Pₚ+r is positive.

    Float ops are evaluated in the exact left-to-right order the SQL
    twin's recursive CTE uses, so outputs are bit-identical
    cross-engine. At 100 TB: the rollup groupBy is the only corpus pass.
    """
    if not (float(r) > 0.0 and float(q) >= 0.0 and float(p0) >= 0.0):
        raise ValueError(
            f"kalman_filter: need r > 0, q >= 0 and p0 >= 0 "
            f"(got q={q}, r={r}, p0={p0})"
        )
    qf, rf, p0f = float(q), float(r), float(p0)

    def _fit(grp):
        ys = [float(v) for v in grp["__y"]]
        p = p0f
        level = ys[0]
        yield 1, ys[0], level
        for step, y in enumerate(ys[1:], start=2):
            pp = p + qf
            k = pp / (pp + rf)
            level = level + k * (y - level)
            p = (1.0 - k) * pp
            yield step, y, level

    return per_series(
        _rollup(df, entity_col, ts_col, value_col, bucket),
        entity_col,
        "__b",
        "step long, y double, level double",
        _fit,
    )


def croston_forecast(
    df: DataFrame,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    bucket: str = "day",
    alpha: float = 0.2,
) -> DataFrame:
    """Croston's method for INTERMITTENT demand: per entity, smooth the
    nonzero-demand sizes (z) and the inter-demand intervals (p)
    separately; forecast rate = z/p per bucket. Holt/Holt-Winters are
    biased to zero on sparse series (most buckets empty); Croston is
    the standard fix for spare-parts/long-tail demand — in the fraud
    frame, expected spend rate for sporadically-active accounts.

    The state recursion touches ONLY demand occurrences (zeros enter
    through the interval gaps), so the rollup keeps its sparse form —
    no dense calendar grid is materialized. Float ops follow the
    recursive-CTE order of the oracle twin (bit-identical).
    Initialization: z₀ = first demand, p₀ = 1.

    Returns the final state per entity: (entity, n_demands, z, p,
    forecast_rate).
    """
    af = float(alpha)

    def _fit(grp):
        ys = [float(v) for v in grp["__y"]]
        days = list(grp["__b"])
        z = ys[0]
        p = 1.0
        for i in range(1, len(ys)):
            gap = float((days[i] - days[i - 1]).days)
            z = z + af * (ys[i] - z)
            p = p + af * (gap - p)
        yield len(ys), z, p, z / p

    return per_series(
        _rollup(df, entity_col, ts_col, value_col, bucket).where(F.col("__y") > 0),
        entity_col,
        "__b",
        "n_demands long, z double, p double, forecast_rate double",
        _fit,
    )


def forecast_accuracy(
    df: DataFrame,
    ts_col: str = "ts",
    type_col: str = "event_type",
    value_col: str = "value",
    bucket: str = "day",
    season_lag: int = 7,
) -> DataFrame:
    """Rolling one-step-ahead backtest scorecard for the three baselines
    every forecasting pipeline must beat — the go/no-go table a model
    review actually reads:

    - ``naive``   ŷ_t = y_{t−1 bucket}
    - ``snaive``  ŷ_t = y_{t−season_lag buckets} (default one week of
      days)
    - ``mean``    ŷ_t = mean of ALL prior buckets (expanding)

    Both shifts are expressed in BUCKET units derived from ``bucket``
    (`exprs.bucket_interval`): with
    bucket='hour' the naive baseline is the previous HOUR, not silently
    the same hour yesterday, and week/month grains shift by whole
    weeks/months so the shifted join always aligns with the
    date_trunc'd buckets. Unsupported grains raise ValueError.

    scored by MAE, sMAPE (2|e|/(|y|+|ŷ|), a 0/0 bucket contributes 0 —
    both sides zero IS a perfect forecast), and MASE (MAE / in-sample
    naive MAE, so ``naive`` scores exactly 1 by construction and <1
    means "beats naive").

    Alignment is TIME-SHIFTED self-joins on (type, bucket−lag) over the
    rollup frame — not row lags, which silently misalign on sparse
    series (same contract as `seasonal_naive_backtest`). Buckets without
    the required predecessor are excluded per method; ``n_evals``
    reports coverage.

    Scale shape: one map-side-combined rollup collapses the corpus to
    |types|·|buckets| exact-decimal actuals; the two shifted joins and
    the expanding-mean window all run on that frame; every error metric
    folds 1e-9-grid integer micro-units (order-invariant, oracle-exact).
    Output is |types|·3 rows.
    """
    naive_shift = E.bucket_interval(bucket, 1)
    season_shift = E.bucket_interval(bucket, season_lag)
    b = F.date_trunc(bucket, F.col(ts_col)).alias("bucket")
    daily = df.groupBy(type_col, b).agg(
        F.sum(F.col(value_col).cast("decimal(25,2)")).alias("x_dec")
    )
    # both shifted join sides and the windowed base share one corpus groupBy
    base = daily.select(
        type_col, "bucket", F.col("x_dec").cast("double").alias("y"), "x_dec"
    ).transform(reuse)
    shift1 = base.select(
        type_col,
        (F.col("bucket") + naive_shift).alias("bucket"),
        F.col("y").alias("__naive"),
    )
    shifts = base.select(
        type_col,
        (F.col("bucket") + season_shift).alias("bucket"),
        F.col("y").alias("__snaive"),
    )
    w_prior = Window.partitionBy(type_col).orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    joined = (
        base.join(shift1, [type_col, "bucket"], "left")
        .join(shifts, [type_col, "bucket"], "left")
        .withColumn(
            "__mean",
            F.when(
                F.count(F.lit(1)).over(w_prior) > 0,
                F.sum("x_dec").over(w_prior).cast("double")
                / F.count(F.lit(1)).over(w_prior),
            ),
        )
    )
    methods = F.explode(
        F.array(
            F.struct(F.lit("naive").alias("method"), F.col("__naive").alias("yhat")),
            F.struct(F.lit("snaive").alias("method"), F.col("__snaive").alias("yhat")),
            F.struct(F.lit("mean").alias("method"), F.col("__mean").alias("yhat")),
        )
    ).alias("m")
    long = (
        joined.select(type_col, "y", methods)
        .select(type_col, "y", F.col("m.method").alias("method"), F.col("m.yhat").alias("yhat"))
        .where(F.col("yhat").isNotNull())
    )

    def micro(c):
        return F.sum(
            F.floor(c * F.lit(1e9) + F.lit(0.5)).cast("decimal(38,0)")
        ).cast("double") / F.lit(1e9)

    ae = F.abs(F.col("y") - F.col("yhat"))
    denom = F.abs(F.col("y")) + F.abs(F.col("yhat"))
    smape_term = F.when(denom > 0, F.lit(2.0) * ae / denom).otherwise(F.lit(0.0))
    per = long.groupBy(type_col, "method").agg(
        F.count(F.lit(1)).alias("n_evals"),
        (micro(ae) / F.count(F.lit(1))).alias("mae"),
        (micro(smape_term) / F.count(F.lit(1))).alias("smape"),
    )
    scale = (
        long.where(F.col("method") == "naive")
        .groupBy(type_col)
        .agg((micro(ae) / F.count(F.lit(1))).alias("__scale"))
    )
    return per.join(F.broadcast(scale), type_col, "left").select(
        type_col,
        "method",
        F.col("n_evals").cast("long").alias("n_evals"),
        "mae",
        "smape",
        F.when(F.col("__scale") > 0, F.col("mae") / F.col("__scale")).alias(
            "mase"
        ),
    )


def pinball_loss(
    df: DataFrame,
    ts_col: str = "ts",
    type_col: str = "event_type",
    value_col: str = "value",
    bucket: str = "day",
    season_lag: int = 7,
    quantiles: tuple = (0.1, 0.5, 0.9),
) -> DataFrame:
    """Pinball (quantile) loss scorecard of the seasonal-naive forecast
    ŷ_t = y_{t−season_lag} at each requested quantile — the metric that
    grades a forecast as a QUANTILE estimate rather than a point
    (`forecast_accuracy`'s MAE only scores the median; a capacity
    planner cares about τ=0.9). L_τ = τ·(y−ŷ) if y ≥ ŷ else
    (1−τ)·(ŷ−y).

    Same time-shifted self-join alignment as `forecast_accuracy` (row
    lags silently misalign on sparse series); y and ŷ are decimal-exact
    bucket totals, the per-row τ-weighted loss micro-folds on the 1e-9
    grid. One rollup shuffle; output |types|·|quantiles| rows.
    """
    season_shift = E.bucket_interval(bucket, season_lag)
    b = F.date_trunc(bucket, F.col(ts_col)).alias("bucket")
    rolled = df.groupBy(type_col, b).agg(
        F.sum(F.col(value_col).cast("decimal(25,2)")).alias("x_dec")
    )
    shifted = rolled.select(
        type_col,
        (F.col("bucket") + season_shift).alias("bucket"),
        F.col("x_dec").alias("__yhat_dec"),
    )
    joined = rolled.join(shifted, [type_col, "bucket"]).select(
        type_col,
        F.col("x_dec").cast("double").alias("__y"),
        F.col("__yhat_dec").cast("double").alias("__yhat"),
    )
    taus = F.explode(
        F.array(*[F.lit(float(t)) for t in quantiles])
    ).alias("tau")
    long = joined.select(type_col, "__y", "__yhat", taus)
    err = F.col("__y") - F.col("__yhat")
    loss = F.when(err >= 0, F.col("tau") * err).otherwise(
        (F.lit(1.0) - F.col("tau")) * (-err)
    )
    loss_micro = F.floor(loss * F.lit(1e9) + F.lit(0.5)).cast("decimal(38,0)")
    out = long.groupBy(type_col, "tau").agg(
        F.count(F.lit(1)).cast("long").alias("n_evals"),
        F.sum(loss_micro).alias("__l_micro"),
    )
    mean_loss = (
        F.col("__l_micro").cast("double")
        / F.lit(1e9)
        / F.col("n_evals").cast("double")
    )
    return out.select(
        type_col,
        F.col("tau"),
        "n_evals",
        (F.floor(mean_loss * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)).alias(
            "pinball"
        ),
    )


def theta_forecast(
    df: DataFrame,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    bucket: str = "day",
    alpha: float = 0.3,
    horizon: int = 7,
) -> DataFrame:
    """Simplified Theta-method forecast per entity (Assimakopoulos &
    Nikolopoulos 2000, the M3-competition winner in its SES+drift
    reduction): ŷ_{n+k} = ℓ_n + (b/2)·k, where ℓ_n is the SES level of
    the series and b the OLS trend slope — the theta(0)/theta(2) line
    average. Completes the forecasting shelf next to `holt_forecast`
    (additive trend) and `croston_forecast` (intermittent demand).

    The SES recursion runs in `per_series` over the |entities|·|buckets|
    rollup, like `holt_forecast`. The slope folds from EXACT integer sums
    (t indices × cent values as Python bigints, overflow-free), so both
    the recursion inputs and the drift are bit-reproducible against the
    recursive-CTE oracle. Entities with fewer than 2 buckets drop.
    Emits per (entity, step 1..horizon): forecast, level, slope, n_obs.
    """
    a, h = float(alpha), int(horizon)

    def _fit(g):
        y = [float(v) for v in g["__y"]]
        n = len(y)
        if n < 2:
            return
        # OLS slope from exact integer sums (cents × 1-based index)
        cents = [int(round(v * 100)) for v in y]
        st = n * (n + 1) // 2
        stt = n * (n + 1) * (2 * n + 1) // 6
        sy = sum(cents)
        sty = sum((i + 1) * c for i, c in enumerate(cents))
        num = float(n * sty - st * sy)
        den = float(n * stt - st * st)
        b = num / den / 100.0
        lev = y[0]
        for t in range(1, n):
            lev = a * y[t] + (1.0 - a) * lev
        for k in range(1, h + 1):
            yield k, lev + 0.5 * b * k, lev, b, n

    return per_series(
        _rollup(df, entity_col, ts_col, value_col, bucket),
        entity_col,
        "__b",
        "step int, forecast double, level double, slope double, n_obs long",
        _fit,
    )
