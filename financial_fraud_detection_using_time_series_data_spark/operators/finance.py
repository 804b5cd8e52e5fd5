"""Financial time-series primitives (beyond-reference): OHLC bars,
log-returns with realized volatility, maximum drawdown.

The reference models fraud over transaction time series
(``src/features/engineer.py``); these operators summarize the same
streams the way a market-data stack would — bar aggregation, return
series, and path-dependent risk stats. All three collapse the corpus to
a |series|·|buckets| rollup in ONE map-side-combined shuffle and run
every window on the rollup frame.

Scale notes (100 TB):
- ``ohlc_bars``: pure single groupBy — open/close are `min_by`/`max_by`
  on the (ts, id) struct, which partial-aggregates map-side like any
  min/max, so the shuffle payload is one candidate row per (series,
  bucket) per map task, never the raw ticks.
- ``realized_volatility``: lag + rolling std windows partitioned by
  series over the bucket rollup — |buckets| rows per series, one
  exchange after the rollup shuffle.
- ``max_drawdown``: running-peak and argmax windows over the same
  rollup; the equity curve is decimal-exact so peaks and troughs are
  reduction-order invariant.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .forecast import per_series


def ohlc_bars(
    df: DataFrame,
    ts_col: str = "ts",
    series_col: str = "event_type",
    value_col: str = "value",
    id_col: str = "event_id",
    bucket: str = "hour",
) -> DataFrame:
    """Open/high/low/close bars per series per time bucket, plus count
    and decimal-exact total — the canonical tick→bar compression.

    Open/close are the values at the first/last (ts, id) in the bucket
    (`min_by`/`max_by` on the composite struct — deterministic under ts
    ties, and partially aggregatable so the shuffle carries one candidate
    per group per map task). One shuffle total; output is
    |series|·|buckets| rows.
    """
    order = F.struct(F.col(ts_col), F.col(id_col))
    b = F.date_trunc(bucket, F.col(ts_col)).alias("bucket")
    return (
        df.groupBy(series_col, b)
        .agg(
            F.min_by(F.col(value_col), order).alias("open"),
            F.max(value_col).alias("high"),
            F.min(value_col).alias("low"),
            F.max_by(F.col(value_col), order).alias("close"),
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col(value_col).cast("decimal(25,2)"))
            .cast("double")
            .alias("total"),
        )
    )


def realized_volatility(
    df: DataFrame,
    ts_col: str = "ts",
    series_col: str = "event_type",
    value_col: str = "value",
    bucket: str = "hour",
    vol_window: int = 24,
) -> DataFrame:
    """Log-return series and trailing realized volatility per series:
    r_t = ln(x_t / x_{t−1}) over the bucketed totals, and σ_t = sample
    std of the last ``vol_window`` returns — the standard activity-burst
    diagnostic (card-testing shows as a volatility regime shift even
    when levels look plausible).

    Buckets with a non-positive current or previous total yield NULL
    return (log undefined) and are skipped by the std (count-based
    guard keeps early buckets NULL until 2 returns exist). Decimal-exact
    rollup; one corpus shuffle + one rollup-frame exchange.
    """
    b = F.date_trunc(bucket, F.col(ts_col)).alias("bucket")
    actuals = df.groupBy(series_col, b).agg(
        F.sum(F.col(value_col).cast("decimal(25,2)")).alias("x_dec")
    )
    word = Window.partitionBy(series_col).orderBy("bucket")
    x = F.col("x_dec").cast("double")
    prev = F.lag("x_dec").over(word).cast("double")
    ret = F.when((x > 0) & (prev > 0), F.log(x / prev))
    staged = actuals.select(series_col, "bucket", x.alias("total"), ret.alias("log_return"))
    wroll = (
        Window.partitionBy(series_col)
        .orderBy("bucket")
        .rowsBetween(-(vol_window - 1), Window.currentRow)
    )
    n_ret = F.count("log_return").over(wroll)
    return staged.select(
        series_col,
        "bucket",
        "total",
        "log_return",
        F.when(n_ret >= 2, F.stddev_samp("log_return").over(wroll)).alias(
            "realized_vol"
        ),
    )


def max_drawdown(
    df: DataFrame,
    ts_col: str = "ts",
    series_col: str = "event_type",
    value_col: str = "value",
    bucket: str = "hour",
) -> DataFrame:
    """Maximum drawdown of the cumulative value curve per series: the
    largest peak-to-trough fraction 1 − equity/peak, with the bucket
    where the trough lands. The path-dependent collapse signal — a
    refund/chargeback wave shows as a drawdown long before level stats
    move.

    The equity curve is the decimal-exact running sum of bucket totals;
    running peak, per-bucket drawdown, and the argmax pick are windows
    over the |series|·|buckets| rollup. Returns one row per series:
    (max_drawdown, trough_bucket, peak_value, final_value), where
    ``peak_value`` is the running peak AS OF the trough bucket (the
    peak the drawdown fell from); ties on drawdown pick the earliest
    bucket, so a flat/monotone curve reports its first bucket at dd 0.
    """
    b = F.date_trunc(bucket, F.col(ts_col)).alias("bucket")
    actuals = df.groupBy(series_col, b).agg(
        F.sum(F.col(value_col).cast("decimal(25,2)")).alias("x_dec")
    )
    wcum = (
        Window.partitionBy(series_col)
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    staged = actuals.select(
        series_col,
        "bucket",
        F.sum("x_dec").over(wcum).alias("__eq"),
    ).select(
        series_col,
        "bucket",
        "__eq",
        F.max("__eq").over(wcum).alias("__peak"),
    )
    dd = F.when(
        F.col("__peak").cast("double") > 0,
        F.lit(1.0) - F.col("__eq").cast("double") / F.col("__peak").cast("double"),
    ).otherwise(F.lit(0.0))
    scored = staged.select(
        series_col,
        "bucket",
        "__eq",
        "__peak",
        dd.alias("__dd"),
    )
    wpick = Window.partitionBy(series_col).orderBy(
        F.col("__dd").desc(), F.col("bucket")
    )
    wlast = Window.partitionBy(series_col).orderBy(F.col("bucket").desc())
    return (
        scored.select(
            series_col,
            "bucket",
            "__dd",
            "__peak",
            F.row_number().over(wpick).alias("__rn"),
            F.first("__eq").over(wlast).alias("__final"),
        )
        .where(F.col("__rn") == 1)
        .select(
            series_col,
            F.col("__dd").alias("max_drawdown"),
            F.col("bucket").alias("trough_bucket"),
            F.col("__peak").cast("double").alias("peak_value"),
            F.col("__final").cast("double").alias("final_value"),
        )
    )


def twap(
    df: DataFrame,
    ts_col: str = "ts",
    series_col: str = "event_type",
    value_col: str = "value",
    id_col: str = "event_id",
    bucket: str = "hour",
) -> DataFrame:
    """Time-weighted average value per series per bucket: each
    observation HOLDS until the series' next observation (step
    function), and the bucket's TWAP integrates the step function over
    the bucket — the correct "average price/level" when sampling is
    irregular (a plain avg() over-weights bursts, which is exactly when
    fraud happens). The last observation of a series holds until the
    dataset's max timestamp.

    Plan shape: one exchange on the series for the lead() window, then
    each holding interval EXPLODES into the buckets it overlaps
    (`sequence()` on the truncated endpoints — map-side, no shuffle) and
    a groupBy(series, bucket) folds overlap-weighted decimal products.
    Row amplification = interval span / bucket width, the same
    densification cost as any gap-filling resample: bounded by the
    calendar span of the data, not by |events|². Weighted sums are
    decimal-exact (value decimal × whole-second overlap), divided once
    at the end. Buckets before a series' first event don't exist for it
    (no carry-in of an unknown level).
    """
    end = df.agg(F.max(ts_col).alias("__end"))
    held = (
        df.join(F.broadcast(end))
        .select(
            series_col,
            F.col(value_col).cast("decimal(25,6)").alias("__x"),
            F.col(ts_col).cast("long").alias("__t0"),
            F.coalesce(
                F.lead(F.col(ts_col).cast("long")).over(
                    Window.partitionBy(series_col).orderBy(ts_col, id_col)
                ),
                F.col("__end").cast("long"),
            ).alias("__t1"),
        )
        .where(F.col("__t1") > F.col("__t0"))
    )
    step = {"hour": 3600, "day": 86400, "minute": 60}[bucket]
    # integer floor to the bucket grid (no float division of epochs)
    b0 = F.col("__t0") - F.col("__t0") % step
    b1 = F.col("__t1") - F.col("__t1") % step
    exploded = held.select(
        series_col,
        "__x",
        "__t0",
        "__t1",
        F.explode(F.sequence(b0, b1, F.lit(step))).alias("__b"),
    )
    overlap = F.greatest(
        F.least(F.col("__t1"), F.col("__b") + step) - F.greatest(F.col("__t0"), F.col("__b")),
        F.lit(0),
    )
    agg = (
        exploded.groupBy(series_col, "__b")
        .agg(
            F.sum((F.col("__x") * overlap).cast("decimal(38,6)")).alias("__wx"),
            F.sum(overlap).alias("__w"),
        )
        .where(F.col("__w") > 0)
    )
    return agg.select(
        series_col,
        F.timestamp_seconds(F.col("__b")).alias("bucket"),
        (F.col("__wx").cast("double") / F.col("__w").cast("double")).alias("twap"),
        F.col("__w").cast("long").alias("covered_s"),
    )


def reconcile_totals(
    detail: DataFrame,
    header: DataFrame,
    detail_key: str,
    header_key: str,
    detail_amount,
    header_amount: str,
    rel_tolerance: float = 0.0,
) -> DataFrame:
    """Detail-vs-header reconciliation: fold the detail table's amounts
    per key (decimal-exact, reduction-order invariant), join the header
    total, and emit every key whose relative discrepancy exceeds
    ``rel_tolerance`` — plus keys missing from either side, which a
    naive inner-join reconciliation silently swallows. The close-of-day
    control every ledger pipeline runs: "do the line items still add up
    to the invoices?"

    ``detail_amount`` may be a Column expression (e.g. price net of
    discount); it is cast to decimal(38,4) before the fold — four
    decimal places so a 2dp-price × 2dp-rate product folds EXACTLY
    (rounding each line to cents first would tie-break differently
    across engines: Spark rounds half-up, DuckDB half-even). One
    map-side-combined groupBy on the detail key and one full-outer join
    on the same key — at 100 TB the join co-partitions with the groupBy
    output, and the header side shuffles once on its own key.
    """
    d = (
        detail.groupBy(F.col(detail_key).alias("key"))
        .agg(
            F.sum(detail_amount.cast("decimal(38,4)")).alias("detail_total"),
            F.count(F.lit(1)).alias("n_detail_rows"),
        )
    )
    h = header.select(
        F.col(header_key).alias("key"),
        F.col(header_amount).cast("decimal(25,2)").alias("header_total"),
    )
    j = d.join(h, "key", "full_outer")
    delta = F.col("header_total").cast("double") - F.col(
        "detail_total"
    ).cast("double")
    rel = delta / F.abs(F.col("header_total").cast("double"))
    status = (
        F.when(F.col("detail_total").isNull(), F.lit("missing_detail"))
        .when(F.col("header_total").isNull(), F.lit("missing_header"))
        .when(F.abs(rel) > float(rel_tolerance), F.lit("mismatch"))
    )
    return j.where(status.isNotNull()).select(
        "key",
        F.col("n_detail_rows").cast("long").alias("n_detail_rows"),
        F.col("detail_total").cast("double").alias("detail_total"),
        F.col("header_total").cast("double").alias("header_total"),
        delta.alias("delta"),
        rel.alias("rel_delta"),
        status.alias("status"),
    )


def lead_lag_corr(
    df: DataFrame,
    type_a: str,
    type_b: str,
    max_lag: int = 6,
    type_col: str = "event_type",
    ts_col: str = "ts",
    bucket_s: int = 3600,
) -> DataFrame:
    """Lead-lag cross-correlation between two event streams: Pearson
    corr(countₐ(t), count_b(t+ℓ)) for every lag ℓ in −max_lag..max_lag
    hourly buckets — "do clicks LEAD purchases, and by how much?" The
    argmax lag is the causal-direction screen that plain same-bucket
    correlation (`rolling_corr`) cannot see.

    Fully order-invariant: the per-bucket series are integer COUNTS, so
    every sufficient statistic (n, Σx, Σy, Σxy, Σx², Σy²) folds as
    exact BIGINTs — the correlation assembles from integers in one
    closed form, no float accumulates anywhere. One corpus rollup to
    the |buckets|-row series, a (2·max_lag+1)-way explode of that TINY
    frame, one equi-join on the shifted bucket id (no range join), one
    groupBy(lag). NULL corr for degenerate (zero-variance) overlaps.

    Returns (lag, n_buckets, corr) — positive lag means ``type_a``
    activity precedes ``type_b``.
    """
    bucket = (F.col(ts_col).cast("long") / F.lit(bucket_s)).cast("long")
    ser = (
        df.where(F.col(type_col).isin(type_a, type_b))
        .groupBy(bucket.alias("__h"))
        .agg(
            F.sum((F.col(type_col) == type_a).cast("long")).alias("__x"),
            F.sum((F.col(type_col) == type_b).cast("long")).alias("__y"),
        )
    )
    lags = ser.select(
        "__h", "__x",
        F.explode(F.sequence(F.lit(-max_lag), F.lit(max_lag))).alias("lag"),
    ).withColumn("__hb", F.col("__h") + F.col("lag"))
    joined = lags.join(
        ser.select(F.col("__h").alias("__hb"), F.col("__y").alias("__yb")), "__hb"
    )
    agg = joined.groupBy("lag").agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("__x").alias("__sx"),
        F.sum("__yb").alias("__sy"),
        F.sum(F.col("__x") * F.col("__yb")).alias("__sxy"),
        F.sum(F.col("__x") * F.col("__x")).alias("__sxx"),
        F.sum(F.col("__yb") * F.col("__yb")).alias("__syy"),
    )
    n = F.col("__n").cast("double")
    sx = F.col("__sx").cast("double")
    sy = F.col("__sy").cast("double")
    cov = n * F.col("__sxy").cast("double") - sx * sy
    vx = n * F.col("__sxx").cast("double") - sx * sx
    vy = n * F.col("__syy").cast("double") - sy * sy
    return agg.select(
        "lag",
        F.col("__n").cast("long").alias("n_buckets"),
        F.when((vx > 0) & (vy > 0), cov / F.sqrt(vx * vy)).alias("corr"),
    ).orderBy("lag")


def var_es(
    df: DataFrame,
    entity_col: str = "user_id",
    value_col: str = "value",
    alpha: float = 0.05,
    min_obs: int = 20,
) -> DataFrame:
    """Historical Value-at-Risk and Expected Shortfall per entity at
    tail level ``alpha``: VaR = the ⌈α·n⌉-th smallest observation (an
    ORDER STATISTIC, deliberately not an interpolated quantile — order
    statistics are engine-exact where interpolation forms differ in the
    last bit), ES = the exact-decimal mean of the ⌈α·n⌉ smallest — the
    coherent tail-risk measure that VaR alone understates.

    ONE per-entity window (rank ascending by value, ties by nothing —
    equal values are interchangeable in both statistics) + the same-key
    groupBy riding its exchange. Entities with fewer than ``min_obs``
    observations drop (a 5% tail of 3 points is noise).

    Returns (entity, n_obs, var_value, es_value) — both in the value's
    units; for RETURNS feed the return column and read the tail as
    losses.
    """
    w = Window.partitionBy(entity_col).orderBy(F.col("__v").asc())
    w_all = Window.partitionBy(entity_col)
    ranked = (
        df.where(F.col(value_col).isNotNull())
        .select(entity_col, F.col(value_col).cast("decimal(25,6)").alias("__v"))
        .withColumn("__rn", F.row_number().over(w))
        .withColumn("__n", F.count(F.lit(1)).over(w_all))
    )
    tail = F.col("__rn") <= F.ceil(F.lit(alpha) * F.col("__n"))
    agg = ranked.groupBy(entity_col).agg(
        F.max("__n").alias("__n"),
        F.sum(F.when(tail, F.col("__v"))).alias("__tail_sum"),
        F.max(F.when(tail, F.col("__v"))).alias("__var"),
    )
    k = F.ceil(F.lit(alpha) * F.col("__n"))
    return (
        agg.where(F.col("__n") >= min_obs)
        .select(
            entity_col,
            F.col("__n").cast("long").alias("n_obs"),
            F.col("__var").cast("double").alias("var_value"),
            (F.col("__tail_sum").cast("double") / k.cast("double")).alias("es_value"),
        )
    )


def amihud_illiquidity(
    df: DataFrame,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    id_col: str = "event_id",
    min_days: int = 2,
) -> DataFrame:
    """Amihud (2002) illiquidity proxy per series: mean over days of
    |daily return| / daily dollar volume, scaled ×10⁶ as the literature
    does. High values = a little flow moves the price a lot — thin,
    manipulable series; in the fraud frame it flags accounts whose
    value level is hypersensitive to activity.

    One groupBy builds the daily (open, close, volume) bars —
    open/close via min_by/max_by on the (ts, id) struct (map-side
    partial-aggregatable, deterministic under ts ties), volume as an
    exact decimal sum. The per-day ratio is a double expression over
    those exact inputs; the across-days mean folds integer micro-units
    (DECIMAL(38,0)) so it is reduction-order invariant. Days with zero
    open or zero volume are excluded (the ratio is undefined there).
    Two shuffles total — (entity, day) then entity — both map-side
    combined.
    """
    order = F.struct(F.col(ts_col), F.col(id_col))
    daily = df.groupBy(
        entity_col, F.date_trunc("day", F.col(ts_col)).alias("__d")
    ).agg(
        F.min_by(F.col(value_col), order).alias("__open"),
        F.max_by(F.col(value_col), order).alias("__close"),
        F.sum(F.col(value_col).cast("decimal(25,2)")).alias("__vol"),
    )
    ret = (F.col("__close") - F.col("__open")) / F.col("__open")
    illiq_e6 = F.abs(ret) / F.col("__vol").cast("double") * F.lit(1e6)
    good = daily.where((F.col("__open") != 0) & (F.col("__vol") > 0))
    return (
        good.groupBy(entity_col)
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.sum(
                F.floor(illiq_e6 * F.lit(1e6) + F.lit(0.5)).cast("decimal(38,0)")
            ).alias("__s"),
        )
        .where(F.col("n_days") >= min_days)
        .select(
            entity_col,
            F.col("n_days").cast("long").alias("n_days"),
            (F.col("__s").cast("double") / F.lit(1e6) / F.col("n_days")).alias(
                "illiq_e6"
            ),
        )
    )


def _bucket_returns(
    df: DataFrame,
    ts_col: str,
    series_col: str,
    value_col: str,
    bucket: str,
) -> DataFrame:
    """(series, bucket, total, n_rows, q) rollup with the per-series
    one-step log return QUANTIZED to the repo's 1e-9 grid (``q`` =
    round(r·1e9) as BIGINT, NULL when either endpoint is non-positive).
    Quantizing at the source makes every downstream fold — rolling
    regression sums, Sharpe moments, GARCH recursions — a pure integer
    (or identical-double) computation on both engines, so a 1-ulp
    difference in the two engines' ``ln`` cannot leak into any
    statistic. One map-side-combined shuffle; the lag window runs on
    the |series|·|buckets| rollup."""
    b = F.date_trunc(bucket, F.col(ts_col)).alias("bucket")
    rolled = df.groupBy(series_col, b).agg(
        F.sum(F.col(value_col).cast("decimal(25,2)")).alias("__x_dec"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
    )
    return _returns_from_rollup(rolled, series_col)


def _returns_from_rollup(rolled: DataFrame, series_col: str) -> DataFrame:
    """Lag + quantize stage of `_bucket_returns`, reusable on any
    (series, bucket, __x_dec, n_rows) rollup frame."""
    w = Window.partitionBy(series_col).orderBy("bucket")
    x = F.col("__x_dec").cast("double")
    prev = F.lag("__x_dec").over(w).cast("double")
    r = F.when((x > 0) & (prev > 0), F.log(x / prev))
    return rolled.select(
        series_col,
        "bucket",
        x.alias("total"),
        "n_rows",
        F.floor(r * F.lit(1e9) + F.lit(0.5)).cast("long").alias("q"),
    )


def vwap_bars(
    df: DataFrame,
    series_col: str = "l_returnflag",
    ts_col: str = "l_shipdate",
    notional_col: str = "l_extendedprice",
    qty_col: str = "l_quantity",
    bucket: str = "month",
) -> DataFrame:
    """Per-bucket and anchored (session-cumulative) volume-weighted
    average price per series — the execution-quality benchmark every
    trading/fill pipeline reports next to `twap` (which weights by time,
    not size).

    bar_vwap = Σ notional / Σ qty within the bucket; cum_vwap carries
    both sums cumulatively from the series start (the classic anchored
    VWAP). Both numerator and denominator are exact decimals end-to-end
    — the windows run on the |series|·|buckets| rollup, partitioned by
    series — so every ratio divides two reduction-order-invariant
    decimals; only the final division is float.
    """
    b = F.date_trunc(bucket, F.col(ts_col).cast("timestamp")).alias("bucket")
    rolled = df.groupBy(series_col, b).agg(
        F.sum(F.col(notional_col).cast("decimal(25,2)")).alias("__notional"),
        F.sum(F.col(qty_col).cast("decimal(25,2)")).alias("__qty"),
        F.count(F.lit(1)).cast("long").alias("n_fills"),
    )
    w = (
        Window.partitionBy(series_col)
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    qty = F.col("__qty").cast("double")
    cum_notional = F.sum("__notional").over(w).cast("double")
    cum_qty = F.sum("__qty").over(w).cast("double")
    return rolled.select(
        series_col,
        "bucket",
        "n_fills",
        F.when(
            qty > 0, F.col("__notional").cast("double") / qty
        ).alias("bar_vwap"),
        F.when(cum_qty > 0, cum_notional / cum_qty).alias("cum_vwap"),
    )


def rolling_beta(
    df: DataFrame,
    ts_col: str = "ts",
    series_col: str = "event_type",
    value_col: str = "value",
    bucket: str = "day",
    window: int = 7,
    min_obs: int = 3,
) -> DataFrame:
    """Trailing OLS beta of each series' log returns against the
    aggregate "market" return (the summed value curve across ALL
    series) — the systematic-vs-idiosyncratic decomposition that turns
    `realized_volatility`'s raw σ into a co-movement diagnostic (a
    fraud burst is idiosyncratic; a marketing campaign moves beta).

    β_t = cov(r_s, r_m)/var(r_m) over the trailing ``window`` buckets.
    Returns are quantized to the 1e-9 grid at the source, so all five
    rolling sums (Σx, Σy, Σxy, Σx², n) are INTEGER folds — segment-tree
    vs sequential window evaluation cannot diverge.

    The market curve is a WINDOW over the same rollup (Σ x_dec
    partitioned by bucket — exact decimals, no second branch), and its
    return is lagged along EACH SERIES' own observation points: a
    series with bucket gaps pairs its gap return with the market's
    return over the same two endpoints, which is the consistent
    regression pairing (plan-pinned: exactly ONE corpus scan).

    Scale shape: one corpus shuffle (the rollup), then two window
    exchanges on |series|·|buckets| rows (by bucket, then by series).
    β is NULL until ``min_obs`` paired returns exist or when market
    variance is zero.
    """
    b = F.date_trunc(bucket, F.col(ts_col)).alias("bucket")
    rolled = df.groupBy(series_col, b).agg(
        F.sum(F.col(value_col).cast("decimal(25,2)")).alias("__x_dec"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
    )
    wb = Window.partitionBy("bucket")
    staged = rolled.withColumn("__m_dec", F.sum("__x_dec").over(wb))
    ws = Window.partitionBy(series_col).orderBy("bucket")

    def _qret(cur: str, prev_c) -> "F.Column":
        x = F.col(cur).cast("double")
        p = prev_c.cast("double")
        r = F.when((x > 0) & (p > 0), F.log(x / p))
        return F.floor(r * F.lit(1e9) + F.lit(0.5)).cast("long")

    joined = staged.select(
        series_col,
        "bucket",
        _qret("__x_dec", F.lag("__x_dec").over(ws)).alias("q"),
        _qret("__m_dec", F.lag("__m_dec").over(ws)).alias("qm"),
    ).where(F.col("q").isNotNull() & F.col("qm").isNotNull())
    wroll = (
        Window.partitionBy(series_col)
        .orderBy("bucket")
        .rowsBetween(-(window - 1), Window.currentRow)
    )
    d38 = "decimal(38,0)"
    n = F.count(F.lit(1)).over(wroll).cast("double")
    sx = F.sum(F.col("qm").cast(d38)).over(wroll).cast("double")
    sy = F.sum(F.col("q").cast(d38)).over(wroll).cast("double")
    qmd = F.col("qm").cast(d38)
    qd = F.col("q").cast(d38)
    sxy = F.sum(qmd * qd).over(wroll).cast("double")
    sxx = F.sum(qmd * qmd).over(wroll).cast("double")
    var_m = n * sxx - sx * sx
    beta = (n * sxy - sx * sy) / F.when(var_m > 0, var_m).otherwise(F.lit(1.0))
    return joined.select(
        series_col,
        "bucket",
        (F.col("q").cast("double") / F.lit(1e9)).alias("log_return"),
        (F.col("qm").cast("double") / F.lit(1e9)).alias("market_return"),
        n.cast("long").alias("n_obs"),
        F.when((n >= min_obs) & (var_m > 0), beta).alias("beta"),
    )


def sharpe_sortino(
    df: DataFrame,
    ts_col: str = "ts",
    series_col: str = "event_type",
    value_col: str = "value",
    bucket: str = "day",
    annualization: float = 1.0,
) -> DataFrame:
    """Per-series Sharpe and Sortino ratios over the bucketed log-return
    series (risk-free rate 0): mean/σ and mean/downside-σ, the two
    risk-adjusted summaries a portfolio report pairs with
    `max_drawdown`'s path stat. Downside deviation uses the population
    form √(Σ min(r,0)²/n) against a 0 target (the common convention).

    Returns quantize to the 1e-9 grid at the source, so all moment sums
    (Σq, Σq², Σ_neg q², n, n_neg) fold as exact integers in one
    aggregation pass; ratios assemble in closed-form IEEE arithmetic ×
    √annualization. NULL Sharpe when σ = 0, NULL Sortino when no
    negative return exists (the textbook undefined case).
    """
    per = _bucket_returns(df, ts_col, series_col, value_col, bucket).where(
        F.col("q").isNotNull()
    )
    d38 = "decimal(38,0)"
    qd = F.col("q").cast(d38)
    neg = F.when(F.col("q") < 0, qd * qd).otherwise(F.lit(0).cast(d38))
    agg = per.groupBy(series_col).agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(qd).alias("__s"),
        F.sum(qd * qd).alias("__ss"),
        F.sum(neg).alias("__ssneg"),
        F.sum(F.when(F.col("q") < 0, 1).otherwise(0)).alias("__nneg"),
    )
    n = F.col("__n").cast("double")
    s = F.col("__s").cast("double") / F.lit(1e9)
    ss = F.col("__ss").cast("double") / F.lit(1e18)
    ssneg = F.col("__ssneg").cast("double") / F.lit(1e18)
    mean = s / n
    var = (ss - s * s / n) / F.greatest(n - F.lit(1.0), F.lit(1.0))
    dstd = F.sqrt(ssneg / n)
    ann = F.lit(float(annualization) ** 0.5)
    return agg.select(
        series_col,
        F.col("__n").cast("long").alias("n_returns"),
        mean.alias("mean_return"),
        F.when(n > 1, F.sqrt(F.abs(var))).alias("vol"),
        F.when((n > 1) & (var > 0), mean / F.sqrt(F.abs(var)) * ann).alias(
            "sharpe"
        ),
        F.when(F.col("__nneg") > 0, dstd).alias("downside_dev"),
        F.when((F.col("__nneg") > 0) & (dstd > 0), mean / dstd * ann).alias(
            "sortino"
        ),
    )


def kyle_lambda(
    df: DataFrame,
    ts_col: str = "ts",
    series_col: str = "event_type",
    value_col: str = "value",
    bucket: str = "day",
    min_buckets: int = 5,
) -> DataFrame:
    """Kyle's λ per series: the OLS slope of |log return| on bucket
    volume (row count) — the price-impact regression behind
    `amihud_illiquidity`'s ratio form. A high λ series moves a lot per
    unit of flow; in the fraud domain, a λ regime break flags value
    moves decoupled from activity.

    x = integer bucket counts, y = |r| on the 1e-9 grid, so all six
    regression sums fold as exact decimal(38,0) integers in ONE
    aggregation over the rollup frame; λ, intercept and r² assemble in
    closed form (the 1e9 y-scale divides out of λ and cancels in r²).
    Series with fewer than ``min_buckets`` paired observations or zero
    x-variance are dropped.
    """
    per = _bucket_returns(df, ts_col, series_col, value_col, bucket).where(
        F.col("q").isNotNull()
    )
    d38 = "decimal(38,0)"
    x = F.col("n_rows").cast(d38)
    y = F.abs(F.col("q")).cast(d38)
    agg = per.groupBy(series_col).agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(x).alias("__sx"),
        F.sum(x * x).alias("__sxx"),
        F.sum(y).alias("__sy"),
        F.sum(y * y).alias("__syy"),
        F.sum(x * y).alias("__sxy"),
    )
    n = F.col("__n").cast("double")
    sx = F.col("__sx").cast("double")
    sy = F.col("__sy").cast("double")
    sxx = F.col("__sxx").cast("double")
    syy = F.col("__syy").cast("double")
    sxy = F.col("__sxy").cast("double")
    vx = n * sxx - sx * sx
    vy = n * syy - sy * sy
    cov = n * sxy - sx * sy
    lam = cov / F.when(vx > 0, vx).otherwise(F.lit(1.0)) / F.lit(1e9)
    icpt = (sy / F.lit(1e9) - lam * sx) / n
    r2 = (cov * cov) / F.when((vx > 0) & (vy > 0), vx * vy).otherwise(
        F.lit(1.0)
    )
    ok = (F.col("__n") >= min_buckets) & (vx > 0)
    return (
        agg.where(F.col("__n") >= min_buckets)
        .select(
            series_col,
            F.col("__n").cast("long").alias("n_buckets"),
            F.when(ok, lam).alias("kyle_lambda"),
            F.when(ok, icpt).alias("intercept"),
            F.when(ok & (vy > 0), r2).alias("r2"),
        )
    )


def garch_variance(
    df: DataFrame,
    ts_col: str = "ts",
    series_col: str = "event_type",
    value_col: str = "value",
    bucket: str = "day",
    omega: float = 1e-6,
    alpha: float = 0.1,
    beta: float = 0.85,
) -> DataFrame:
    """GARCH(1,1) conditional-variance filter per series over the
    bucketed log returns with FIXED (ω, α, β) — the volatility-
    clustering answer to `realized_volatility`'s flat rolling window
    (yesterday's shock should raise today's risk estimate more than a
    shock a month ago; the rolling std weighs them equally).

    v₁ = ω/(1−α−β) (the unconditional variance), then
    v_t = ω + α·r²_{t−1} + β·v_{t−1}. Parameter FITTING is a driver-side
    MLE over the |series|·|buckets| rollup and is out of scope — the
    filter with fixed params is what a scoring pipeline replays.

    The linear state recursion is inherently sequential per series, so
    it runs in `forecast.per_series` over the rollup frame (the heavy
    lifting — the corpus → rollup collapse — happened in ONE
    map-side-combined shuffle; the Python loop touches |buckets| rows
    per series). Returns are quantized to the 1e-9 grid
    BEFORE the recursion, so both engines iterate identical doubles and
    the recursion is bit-reproducible (oracle: recursive CTE).
    Emits per (series, bucket): log_return, cond_var, std_resid.
    Buckets without a defined return are dropped (they carry no shock).
    """
    if not 0.0 < float(alpha) + float(beta) < 1.0:
        raise ValueError(
            f"garch_variance: alpha + beta = {alpha + beta} must be in "
            "(0, 1) for a finite unconditional variance"
        )
    om, al, be = float(omega), float(alpha), float(beta)
    per = _bucket_returns(df, ts_col, series_col, value_col, bucket).where(
        F.col("q").isNotNull()
    ).select(series_col, "bucket", "q")

    def _fit(g):
        v = om / (1.0 - al - be)
        prev_r = None
        for bkt, qi in zip(g["bucket"], g["q"]):
            if prev_r is not None:
                v = om + al * (prev_r * prev_r) + be * v
            r = float(qi) / 1e9
            yield bkt, r, v, r / math.sqrt(v) if v > 0 else None
            prev_r = r

    return per_series(
        per,
        series_col,
        "bucket",
        "bucket timestamp, log_return double, cond_var double, std_resid double",
        _fit,
    )


def rolling_skew_kurt(
    df: DataFrame,
    ts_col: str = "ts",
    series_col: str = "event_type",
    value_col: str = "value",
    bucket: str = "day",
    window: int = 14,
    min_obs: int = 4,
) -> DataFrame:
    """Trailing skewness and excess kurtosis of each series' bucket
    totals — the fat-tail / asymmetry regime monitor that completes the
    rolling-moment family (`realized_volatility` watches the 2nd
    moment; fraud campaigns and flash events move the 3rd and 4th
    first). Population estimators g₁ = m₃/m₂^1.5, g₂ = m₄/m₂² − 3 over
    the trailing ``window`` buckets.

    Bucket totals quantize to exact integer cents, so all four rolling
    power sums (Σc, Σc², Σc³, Σc⁴) are pure decimal(38,0) integer folds
    — window evaluation order cannot move them — and the central
    moments assemble per row in closed-form IEEE arithmetic. One corpus
    shuffle (the rollup) + one window exchange. NULL stats below
    ``min_obs`` buckets or at zero variance.
    """
    b = F.date_trunc(bucket, F.col(ts_col)).alias("bucket")
    rolled = df.groupBy(series_col, b).agg(
        F.sum(F.col(value_col).cast("decimal(25,2)")).alias("__x_dec")
    )
    c = (F.col("__x_dec") * 100).cast("decimal(38,0)")
    staged = rolled.select(
        series_col,
        "bucket",
        F.col("__x_dec").cast("double").alias("total"),
        c.alias("__c"),
        (c * c).cast("decimal(38,0)").alias("__c2"),
        (c * c * c).cast("decimal(38,0)").alias("__c3"),
        (c * c * c * c).cast("decimal(38,0)").alias("__c4"),
    )
    w = (
        Window.partitionBy(series_col)
        .orderBy("bucket")
        .rowsBetween(-(window - 1), Window.currentRow)
    )
    n = F.count(F.lit(1)).over(w).cast("double")
    s1 = F.sum("__c").over(w).cast("double") / F.lit(1e2)
    s2 = F.sum("__c2").over(w).cast("double") / F.lit(1e4)
    s3 = F.sum("__c3").over(w).cast("double") / F.lit(1e6)
    s4 = F.sum("__c4").over(w).cast("double") / F.lit(1e8)
    m = s1 / n
    m2 = s2 / n - m * m
    m3 = s3 / n - F.lit(3.0) * m * s2 / n + F.lit(2.0) * m * m * m
    m4 = (
        s4 / n
        - F.lit(4.0) * m * s3 / n
        + F.lit(6.0) * m * m * s2 / n
        - F.lit(3.0) * m * m * m * m
    )
    ok = (n >= min_obs) & (m2 > 0)
    r6_ = lambda col: F.floor(col * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    safe_m2 = F.when(m2 > 0, m2).otherwise(F.lit(1.0))
    return staged.select(
        series_col,
        "bucket",
        "total",
        n.cast("long").alias("n_obs"),
        r6_(F.when(n >= min_obs, m)).alias("roll_mean"),
        r6_(F.when(ok, F.sqrt(F.abs(m2)))).alias("roll_std"),
        r6_(F.when(ok, m3 / F.pow(safe_m2, F.lit(1.5)))).alias("roll_skew"),
        r6_(F.when(ok, m4 / (safe_m2 * safe_m2) - F.lit(3.0))).alias(
            "roll_kurt_excess"
        ),
    )
