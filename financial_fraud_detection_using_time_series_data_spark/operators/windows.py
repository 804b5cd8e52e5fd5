"""Window/behavioral engine (SURVEY §2.5 W1-W11) — the heart of the reference.

The reference sorts by (user, ts) and runs per-group Python lambdas
(``src/features/engineer.py:72-141``); here every operator is a native
window expression, so there is exactly ONE shuffle per distinct partition
key and zero Python in the hot path. Catalyst reuses the exchange across
all same-keyed windows.

Two semantics per "windowed" stat:
- *reference mode* (default): pure expanding/cumulative frames — the
  reference's ``lookback_windows: [1,7,30]`` config is ignored by its own
  implementation (engineer.py:74-99 uses .expanding()), so the three
  window sizes yield identical cumulative stats. We preserve that.
- *corrected mode*: genuinely time-bounded via ``rangeBetween`` on epoch
  seconds — what the config intended.

Scale note: expanding windows over a Zipf-heavy user key are safe — window
exec streams a sorted partition; state per group is O(1) for sum/avg/min/
max/stddev. The dangerous ones are collect_list sequences (bounded at
seq_len) and global sorts (range-partitioned by Spark).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

from ..functions import exprs as E


def user_window(user_col: str = "user_id", ts_col: str = "ts", *tiebreak: str) -> WindowSpec:
    """Canonical per-entity time window. Tie-break on a unique id so row
    ordering (hence row_number/lag) is deterministic."""
    return Window.partitionBy(user_col).orderBy(ts_col, *tiebreak)


def expanding_frame(w: WindowSpec) -> WindowSpec:
    return w.rowsBetween(Window.unboundedPreceding, Window.currentRow)


def time_bounded_frame(user_col: str, epoch_col: Column, days: int) -> WindowSpec:
    """Corrected (intended) semantics: last N days inclusive of current row."""
    return (
        Window.partitionBy(user_col)
        .orderBy(epoch_col)
        .rangeBetween(-days * 86400, 0)
    )


def cum_count(w: WindowSpec) -> Column:
    """W1 (engineer.py:78,112,130): groupby().cumcount() — prior-row count."""
    return F.row_number().over(w) - F.lit(1)


def expanding_sum(col: Column, w: WindowSpec) -> Column:
    """W2 (engineer.py:81-83)."""
    return F.sum(col).over(expanding_frame(w))


def expanding_std(col: Column, w: WindowSpec) -> Column:
    """W4 (engineer.py:89-91): sample std (ddof=1), NULL at n=1 — Spark's
    stddev_samp matches pandas' NaN-at-first-row exactly."""
    return F.stddev_samp(col).over(expanding_frame(w))


def expanding_max(col: Column, w: WindowSpec) -> Column:
    return F.max(col).over(expanding_frame(w))


def expanding_min(col: Column, w: WindowSpec) -> Column:
    return F.min(col).over(expanding_frame(w))


def first_row_flag(w: WindowSpec) -> Column:
    """W7 (engineer.py:112,175-176,207-209): first occurrence within the
    partition key (use composite keys for is_new_device etc.)."""
    return (F.row_number().over(w) == 1).cast("int")


def pct_rank_pandas(value: Column, user_col) -> Column:
    """W8 (engineer.py:243): pandas rank(pct=True) = average-rank / count.

    For ties, pandas assigns the average of the positions, i.e.
    min_rank + (n_ties - 1)/2, then divides by the group size. cume_dist /
    percent_rank have different tie semantics, so compose exactly.

    ``user_col`` may be a single column name or a list (composite key,
    e.g. split-compat mode prefixes the split id)."""
    keys = user_col if isinstance(user_col, list) else [user_col]
    w_val = Window.partitionBy(*keys).orderBy(value)
    w_grp = Window.partitionBy(*keys)
    w_tie = Window.partitionBy(*keys, value)
    min_rank = F.rank().over(w_val)
    ties = F.count(F.lit(1)).over(w_tie)
    cnt = F.count(F.lit(1)).over(w_grp)
    return (min_rank + (ties - F.lit(1)) / F.lit(2.0)) / cnt


def sliding_sequence(
    features: Column, w: WindowSpec, seq_len: int = 10
) -> Column:
    """W10 (sequence_builder.py:59-91): last seq_len rows (incl. current) as
    an array-of-structs/arrays column; label stays on the current row so
    there is no leakage. Filter ``size(...) == seq_len`` for full windows."""
    return F.collect_list(features).over(w.rowsBetween(-(seq_len - 1), 0))


def pad_sequence(seq: Column, seq_len: int, zero: Column, pre: bool = True) -> Column:
    """W11 (sequence_builder.py:145-174): zero-pad variable-length sequences."""
    pad = F.array_repeat(zero, seq_len - F.size(seq))
    padded = F.concat(pad, seq) if pre else F.concat(seq, pad)
    return F.when(F.size(seq) >= seq_len, F.slice(seq, 1, seq_len)).otherwise(padded)


def expanding_user_features(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    amt_col: str = "value",
    id_col: str = "event_id",
) -> DataFrame:
    """The reference's user-behavior feature block (engineer.py:60-118) as a
    single multi-window select: prior txn count, cumulative sum/avg/std/
    max/min of amount, time-since-last, first-txn flag, amount deviation.

    All expressions share one WindowSpec -> one exchange + one sort.
    """
    w = user_window(user_col, ts_col, id_col)
    frame = expanding_frame(w)
    epoch_us = E.epoch_us(F.col(ts_col))
    amt = F.col(amt_col)
    cnt = cum_count(w)
    # money sums go through decimal so the cumulative value is exact and
    # bit-identical to any other engine regardless of summation order
    exp_sum = F.sum(amt.cast("decimal(25,2)")).over(frame).cast("double")
    exp_avg = exp_sum / F.count(F.lit(1)).over(frame)
    exp_std = expanding_std(amt, w)
    return df.select(
        "*",
        cnt.alias("user_txn_count"),
        exp_sum.alias("user_total_amount"),
        exp_avg.alias("user_avg_amount"),
        exp_std.alias("user_std_amount"),
        expanding_max(amt, w).alias("user_max_amount"),
        expanding_min(amt, w).alias("user_min_amount"),
        (epoch_us - F.lag(epoch_us, 1).over(w)).alias("time_since_last_us"),
        first_row_flag(w).alias("is_first_txn"),
        # engineer.py:102-105: (amt - avg) / (coalesce(std,1) + 1)
        ((amt - exp_avg) / (F.coalesce(exp_std, F.lit(1.0)) + F.lit(1.0))).alias(
            "amount_deviation"
        ),
    )


def velocity_features(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    amt_col: str = "value",
    id_col: str = "event_id",
) -> DataFrame:
    """engineer.py:120-152: txn velocity, amount velocity, spending rate and
    acceleration (second-order lag diff)."""
    w = user_window(user_col, ts_col, id_col)
    epoch_s = E.epoch_us(F.col(ts_col)) / F.lit(1_000_000.0)
    amt = F.col(amt_col)
    time_diff = epoch_s - F.lag(epoch_s, 1).over(w)
    # reference replaces 0-diff with 1 then adds 1 in denominator
    td = F.coalesce(time_diff, F.lit(0.0))
    td_repl = F.when(td == 0, F.lit(1.0)).otherwise(td)
    row_no = F.row_number().over(w)
    cum_sum = F.sum(amt.cast("decimal(25,2)")).over(expanding_frame(w)).cast("double")
    out = df.select(
        "*",
        (row_no - 1).alias("txn_velocity"),
        (cum_sum / row_no).alias("amount_velocity"),
        td.alias("time_diff_s"),
        (amt / (td_repl + F.lit(1.0))).alias("spending_rate"),
    )
    w2 = user_window(user_col, ts_col, id_col)
    rate = F.col("spending_rate")
    return out.withColumn(
        "spending_acceleration",
        F.coalesce(rate - F.lag(rate, 1).over(w2), F.lit(0.0)),
    )


def time_bounded_user_features(
    df: DataFrame,
    days_list: tuple[int, ...] = (1, 7, 30),
    user_col: str = "user_id",
    ts_col: str = "ts",
    amt_col: str = "value",
) -> DataFrame:
    """Corrected-mode W1-W5: genuinely time-bounded lookbacks via
    rangeBetween on epoch seconds (what config.yaml:17 intended)."""
    epoch_s = E.epoch_us(F.col(ts_col)) / F.lit(1_000_000.0)
    df = df.withColumn("__epoch_s", epoch_s)
    cols = ["*"]
    for d in days_list:
        w = time_bounded_frame(user_col, F.col("__epoch_s"), d)
        amt = F.col(amt_col)
        dec_sum = F.sum(amt.cast("decimal(25,2)")).over(w).cast("double")
        cols += [
            F.count(F.lit(1)).over(w).alias(f"user_txn_count_{d}d"),
            dec_sum.alias(f"user_total_amount_{d}d"),
            (dec_sum / F.count(F.lit(1)).over(w)).alias(f"user_avg_amount_{d}d"),
        ]
    return df.select(*cols).drop("__epoch_s")


def behavioral_features(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    amt_col: str = "value",
    id_col: str = "event_id",
) -> DataFrame:
    """The flagship: expanding stats + velocity/acceleration in ONE
    projection over ONE window spec — a single exchange + sort computes
    all 14 behavioral columns (the two-step expanding ⋈ velocity
    formulation costs an extra shuffle for the join)."""
    w = user_window(user_col, ts_col, id_col)
    frame = expanding_frame(w)
    amt = F.col(amt_col)
    epoch_us = E.epoch_us(F.col(ts_col))
    epoch_s = epoch_us / F.lit(1_000_000.0)
    row_no = F.row_number().over(w)
    exp_sum = F.sum(amt.cast("decimal(25,2)")).over(frame).cast("double")
    exp_avg = exp_sum / F.count(F.lit(1)).over(frame)
    exp_std = F.stddev_samp(amt).over(frame)
    time_diff = F.coalesce(epoch_s - F.lag(epoch_s, 1).over(w), F.lit(0.0))
    td_repl = F.when(time_diff == 0, F.lit(1.0)).otherwise(time_diff)
    spending_rate = amt / (td_repl + F.lit(1.0))
    out = df.select(
        "*",
        (row_no - 1).alias("user_txn_count"),
        exp_sum.alias("user_total_amount"),
        exp_avg.alias("user_avg_amount"),
        exp_std.alias("user_std_amount"),
        F.max(amt).over(frame).alias("user_max_amount"),
        F.min(amt).over(frame).alias("user_min_amount"),
        (epoch_us - F.lag(epoch_us, 1).over(w)).alias("time_since_last_us"),
        (row_no == 1).cast("int").alias("is_first_txn"),
        ((amt - exp_avg) / (F.coalesce(exp_std, F.lit(1.0)) + F.lit(1.0))).alias(
            "amount_deviation"
        ),
        (row_no - 1).alias("txn_velocity"),
        (exp_sum / row_no).alias("amount_velocity"),
        time_diff.alias("time_diff_s"),
        spending_rate.alias("spending_rate"),
    )
    # second-order lag needs spending_rate materialized; same window key ->
    # Catalyst reuses the exchange, adds only a window pass
    return out.withColumn(
        "spending_acceleration",
        F.coalesce(
            F.col("spending_rate") - F.lag("spending_rate", 1).over(user_window(user_col, ts_col, id_col)),
            F.lit(0.0),
        ),
    )


def sessionize(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    gap_s: int = 1800,
    session_col: str = "session_idx",
) -> DataFrame:
    """Gap-based sessionization: a new session starts when the time since
    the previous event of the same user exceeds ``gap_s`` seconds. The
    classic two-window composition — boundary flag via lag, then a
    cumulative sum of flags — so the whole operator is one shuffle on the
    user key and two streaming window passes over the same sorted
    exchange (Catalyst reuses it). Session ids are 1-based per user.

    At 100 TB this is strictly better than `F.session_window` groupBy for
    per-event labelling (session_window emits one row per session, not
    per event) and the state is O(1) per row. The streaming twin is
    `session_window`/`transformWithState` with the same gap.
    """
    w = user_window(user_col, ts_col, id_col)
    us = E.epoch_us(F.col(ts_col))
    new_sess = (
        F.coalesce(
            (us - F.lag(us, 1).over(w)) > F.lit(gap_s * 1_000_000), F.lit(True)
        )
    ).cast("long")
    frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return df.withColumn(session_col, F.sum(new_sess).over(frame))


def session_agg(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    value_col: str = "value",
    gap_s: int = 1800,
) -> DataFrame:
    """Per-session aggregates over the sessionized stream: event count,
    exact-decimal value total, session duration. The groupBy lands on
    (user, session_idx) — same leading key as the sessionize shuffle, so
    AQE/exchange-reuse makes the agg a local pass after the sort."""
    s = sessionize(df, user_col, ts_col, id_col, gap_s)
    us = E.epoch_us(F.col(ts_col))
    return (
        s.groupBy(user_col, "session_idx")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col(value_col).cast("decimal(25,2)")).cast("double").alias("total_value"),
            ((F.max(us) - F.min(us)) / F.lit(1_000_000.0)).alias("duration_s"),
            F.min(ts_col).alias("session_start"),
        )
    )


def time_bucket_rollup(
    df: DataFrame,
    ts_col: str = "ts",
    bucket: str = "hour",
    keys: tuple[str, ...] = ("event_type",),
    value_col: str = "value",
) -> DataFrame:
    """Hypertable-style continuous-aggregate rollup: truncate event time to
    a bucket (`date_trunc`) and aggregate per (bucket, keys). This is the
    canonical pre-aggregation for time-series dashboards — at 100 TB the
    input is partitioned by date so the scan prunes to affected partitions
    and the agg is map-side-combined (|buckets|·|keys| result rows,
    trivially broadcastable downstream)."""
    b = F.date_trunc(bucket, F.col(ts_col)).alias("bucket")
    return (
        df.groupBy(b, *keys)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col(value_col).cast("decimal(25,2)")).cast("double").alias("total_value"),
            (
                F.sum(F.col(value_col).cast("decimal(25,2)")).cast("double")
                / F.count(F.lit(1))
            ).alias("avg_value"),
        )
    )


def chunked_expanding_sum(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    value_col: str = "value",
    chunk: str = "day",
    out_col: str = "expanding_sum",
) -> DataFrame:
    """Whale-key rescue for expanding aggregation: the prefix sum of a
    single user's history, parallelized across TIME CHUNKS.

    A plain expanding window puts each user's entire history in one task —
    fine for millions of users, a straggler when one key holds 1% of
    100 TB. This splits the scan three ways, all bounded:

      1. within-chunk prefix sums, windowed on (user, date_trunc(chunk))
         — a whale's history now spreads across |chunks| parallel tasks;
      2. per-(user, chunk) totals rolled into EXCLUSIVE running offsets
         with a window over the tiny |users|·|chunks| chunk table;
      3. broadcast the offsets back: expanding = offset + within-chunk.

    Decimal partials make the result bit-identical to the single-window
    form regardless of the split (asserted in tests). The same shape
    extends to count/avg (sum pairs) and min/max (monotone merge); it is
    the batch analog of the streaming processor's O(1) running state.
    """
    chunk_col = F.date_trunc(chunk, F.col(ts_col))
    base = df.withColumn("__chunk", chunk_col)
    w_in = Window.partitionBy(user_col, "__chunk").orderBy(ts_col, id_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    within = base.withColumn(
        "__within", F.sum(F.col(value_col).cast("decimal(25,2)")).over(w_in)
    )
    totals = base.groupBy(user_col, "__chunk").agg(
        F.sum(F.col(value_col).cast("decimal(25,2)")).alias("__chunk_total")
    )
    w_off = (
        Window.partitionBy(user_col)
        .orderBy("__chunk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.withColumn(
        "__offset", F.coalesce(F.sum("__chunk_total").over(w_off), F.lit(0).cast("decimal(25,2)"))
    ).select(user_col, "__chunk", "__offset")
    # No broadcast hint: the offsets table is |users|·|chunks| rows — small
    # for the whale-rescue case this exists for (few hot keys, many
    # chunks), but with MANY users × many chunks it can exceed driver /
    # broadcast limits. Let AQE pick broadcast vs shuffle from the actual
    # runtime size; the join key (user, chunk) is the same key `within`
    # was just shuffled on, so the fallback shuffle is cheap.
    joined = within.join(offsets, [user_col, "__chunk"])
    return joined.withColumn(
        out_col, (F.col("__offset") + F.col("__within")).cast("double")
    ).drop("__chunk", "__within", "__offset")


def resample_ffill(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    id_col: str = "event_id",
    bucket: str = "hour",
    step_s: int = 3600,
) -> DataFrame:
    """Regular-grid resampling with forward fill: one row per (user,
    bucket) from each user's first to last event, carrying the latest
    in-bucket aggregate forward across empty buckets (pandas
    ``resample().last().ffill()`` / hypertable gap-fill).

    Stages, all bounded: (1) per-(user, bucket) agg keeps the LAST value
    by (ts, id) — max_by, one map-combined shuffle; (2) the dense grid is
    a per-user `sequence()` explode — |buckets| rows per user, generated
    executor-side, no driver loop; (3) forward fill = `last(ignorenulls)`
    over the (user, bucket) order — one streamed window pass. Grid size
    is data-bounded (span/step per user), the same cardinality any
    downstream dashboard would materialize anyway.
    """
    b = F.date_trunc(bucket, F.col(ts_col))
    per_bucket = (
        df.withColumn("__bucket", b)
        .groupBy(user_col, "__bucket")
        .agg(
            F.expr(f"max_by({value_col}, struct({ts_col}, {id_col}))").alias("__last_val")
        )
    )
    span = df.groupBy(user_col).agg(
        F.date_trunc(bucket, F.min(ts_col)).alias("__lo"),
        F.date_trunc(bucket, F.max(ts_col)).alias("__hi"),
    )
    grid = span.select(
        user_col,
        F.explode(
            F.sequence("__lo", "__hi", F.expr(f"INTERVAL {step_s} SECONDS"))
        ).alias("__bucket"),
    )
    joined = grid.join(per_bucket, [user_col, "__bucket"], "left")
    w = (
        Window.partitionBy(user_col)
        .orderBy("__bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        F.col(user_col),
        F.col("__bucket").alias("bucket"),
        F.last("__last_val", ignorenulls=True).over(w).alias("value_ffill"),
        F.col("__last_val").isNotNull().cast("int").alias("has_data"),
    )


def rolling_quantiles(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    value_col: str = "value",
    lookback: int = 20,
    quantiles: tuple[float, ...] = (0.5, 0.9),
) -> DataFrame:
    """Rolling per-user quantiles over the last ``lookback`` events —
    the robust sibling of the expanding mean/std features (a rolling
    median ignores the one-off whale transaction that wrecks a rolling
    mean; p90 tracks the user's own tail).

    One partitioned window exchange, same shape as every W-op: Spark's
    `percentile` aggregate runs per-frame with linear interpolation,
    which is exactly DuckDB's `quantile_cont` → hash-exact oracle. The
    frame is rows-bounded (``lookback-1 PRECEDING``), so state per group
    is O(lookback), not O(history).
    """
    w = (
        Window.partitionBy(user_col)
        .orderBy(ts_col, id_col)
        .rowsBetween(-(lookback - 1), Window.currentRow)
    )
    out = [F.col(id_col), F.col(user_col), F.col(value_col)]
    for q in quantiles:
        name = f"roll_p{int(q * 100)}"
        out.append(F.percentile(F.col(value_col), F.lit(q)).over(w).alias(name))
    return df.select(*out)


def ewma(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    value_col: str = "value",
    alpha: float = 0.2,
    lookback: int = 50,
) -> DataFrame:
    """Per-user exponentially-weighted moving average of ``value_col`` —
    pandas ``ewm(alpha, adjust=False).mean()`` semantics (s₀ = x₀,
    sₜ = α·xₜ + (1−α)·sₜ₋₁), truncated to the last ``lookback`` events
    (weights below (1−α)^50 ≈ 1e-5 at the default are dropped, which
    also bounds per-row state).

    EWMA is a linear recurrence, not a distributive aggregate, so no
    built-in window function computes it. Rather than fall out of the
    JVM into applyInPandas, collect the rows-bounded frame with
    `collect_list` and fold it with `F.aggregate` — array order follows
    the window's ORDER BY, the fold is left-to-right, and both facts
    hold identically in DuckDB's `list()`/`list_reduce`, giving
    bit-deterministic float results. One partitioned exchange; O(lookback)
    state per row.
    """
    w = (
        Window.partitionBy(user_col)
        .orderBy(ts_col, id_col)
        .rowsBetween(-(lookback - 1), Window.currentRow)
    )
    # materialize the frame array as an attribute first: expressions
    # captured by HOF lambdas are re-evaluated per element otherwise
    framed = df.select(
        id_col,
        user_col,
        F.col(value_col).cast("double").alias(value_col),
        F.collect_list(F.col(value_col).cast("double")).over(w).alias("__frame"),
    )
    vals = F.col("__frame")
    rest = F.slice(vals, 2, F.greatest(F.size(vals) - 1, F.lit(0)))
    folded = F.aggregate(
        rest,
        F.element_at(vals, 1),
        lambda acc, x: acc * F.lit(1.0 - alpha) + F.lit(alpha) * x,
    )
    return framed.select(id_col, user_col, value_col, folded.alias("ewma"))


def time_decay_sum(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    value_col: str = "value",
    half_life_s: float = 3600.0,
    lookback: int = 50,
) -> DataFrame:
    """Per-user time-decayed sum: at each event, Σ v_j · 2^(−Δt_j/half_life)
    over the trailing ``lookback`` events — the physically-correct
    velocity feature (row-EWMA treats a 1-second and a 1-week gap the
    same; fraud bursts are defined by *time* density).

    Like `ewma`, this is a linear recurrence over irregular gaps
    (s_i = v_i + e^(−Δt·ln2/hl) · s_{i−1}), so no built-in window
    aggregate computes it; the frame is collected as (t, v) structs and
    folded JVM-side with `F.aggregate` — the accumulator reuses the
    element struct shape {t: last-seen time, v: running sum}, which is
    exactly how DuckDB's `list_reduce` twin folds it. One partitioned
    exchange; O(lookback) state; weights below 2^-? vanish so the
    truncation bound matches ewma's.
    """
    import math

    k = math.log(2.0) / float(half_life_s)
    w = (
        Window.partitionBy(user_col)
        .orderBy(ts_col, id_col)
        .rowsBetween(-(lookback - 1), Window.currentRow)
    )
    t = (E.epoch_us(F.col(ts_col)) / F.lit(1000000.0)).alias("t")
    v = F.col(value_col).cast("double").alias("v")
    framed = df.select(
        id_col,
        user_col,
        F.col(value_col).cast("double").alias(value_col),
        F.collect_list(F.struct(t, v)).over(w).alias("__frame"),
    )
    frame = F.col("__frame")
    rest = F.slice(frame, 2, F.greatest(F.size(frame) - 1, F.lit(0)))
    folded = F.aggregate(
        rest,
        F.element_at(frame, 1),
        lambda acc, x: F.struct(
            x["t"].alias("t"),
            (x["v"] + F.exp((acc["t"] - x["t"]) * F.lit(k)) * acc["v"]).alias(
                "v"
            ),
        ),
    )["v"]
    return framed.select(
        id_col, user_col, value_col, folded.alias("decay_sum")
    )


def resample_interp(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    id_col: str = "event_id",
    bucket: str = "hour",
    step_s: int = 3600,
) -> DataFrame:
    """Regular-grid resampling with LINEAR interpolation across gaps —
    pandas ``resample().last().interpolate('linear')`` semantics over the
    bucket index: empty buckets take the value interpolated between the
    nearest known buckets on either side.

    Same bounded stages as `resample_ffill` (per-bucket last agg → dense
    per-user grid → window passes over the grid), plus one backward
    window for the next-known anchor. Both anchors use STREAMING frames
    (`unboundedPreceding..currentRow`): the forward anchor orders
    ascending, the next-known anchor orders DESCENDING — an
    `unboundedFollowing` frame would make Spark's WindowExec rescan the
    tail per row (O(n²) per partition; measured 22s vs 1s at sf0.1). The
    two windows share one hash exchange (same partition key; the second
    ordering is a re-sort, not a reshuffle). Grid endpoints are always
    known (each user's first/last bucket contains an event), so no edge
    extrapolation is needed.
    """
    b = F.date_trunc(bucket, F.col(ts_col))
    per_bucket = (
        df.withColumn("__bucket", b)
        .groupBy(user_col, "__bucket")
        .agg(
            F.expr(
                f"max_by({value_col}, struct({ts_col}, {id_col}))"
            ).alias("__last_val")
        )
    )
    span = df.groupBy(user_col).agg(
        F.date_trunc(bucket, F.min(ts_col)).alias("__lo"),
        F.date_trunc(bucket, F.max(ts_col)).alias("__hi"),
    )
    grid = span.select(
        user_col,
        F.explode(
            F.sequence("__lo", "__hi", F.expr(f"INTERVAL {step_s} SECONDS"))
        ).alias("__bucket"),
    )
    joined = grid.join(per_bucket, [user_col, "__bucket"], "left")
    idx = (E.epoch_us(F.col("__bucket")) / F.lit(1_000_000)) / F.lit(step_s)
    known_idx = F.when(F.col("__last_val").isNotNull(), idx)
    wb = (
        Window.partitionBy(user_col)
        .orderBy("__bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy(user_col)
        .orderBy(F.col("__bucket").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    stage = joined.select(
        user_col,
        F.col("__bucket").alias("bucket"),
        F.col("__last_val").alias("__v"),
        idx.alias("__idx"),
        F.last("__last_val", ignorenulls=True).over(wb).alias("__pv"),
        F.last(known_idx, ignorenulls=True).over(wb).alias("__pi"),
        F.last("__last_val", ignorenulls=True).over(wf).alias("__nv"),
        F.last(known_idx, ignorenulls=True).over(wf).alias("__ni"),
    )
    interp = F.when(F.col("__v").isNotNull(), F.col("__v")).otherwise(
        F.col("__pv")
        + (F.col("__nv") - F.col("__pv"))
        * (F.col("__idx") - F.col("__pi"))
        / (F.col("__ni") - F.col("__pi"))
    )
    return stage.select(
        user_col,
        "bucket",
        interp.alias("value_interp"),
        F.col("__v").isNotNull().cast("int").alias("has_data"),
    )


def rolling_corr(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    x_col: str = "value",
    y_col=None,
    lookback: int = 20,
    min_periods: int = 3,
) -> DataFrame:
    """Rolling Pearson correlation per user between two series over the
    last ``lookback`` events — by default between the transaction value
    and the inter-arrival gap (is this account's spend coupled to its
    pacing? scripts are; humans mostly aren't). Pass ``y_col`` to
    correlate any other column instead of the derived gap.

    Bit-deterministic by construction: rather than the engine's
    incremental `corr` window aggregate (whose internal co-moment
    update order differs between engines and between sliding-window
    strategies), the six sufficient statistics (n, Σx, Σy, Σxy, Σx²,
    Σy²) are summed as DECIMALS over the rows-bounded frame —
    order-invariant exact arithmetic — and the correlation is assembled
    in one double-precision expression, identical in Spark and DuckDB.
    Frames with fewer than ``min_periods`` points or zero variance in
    either series yield NULL. One partitioned window exchange (the
    derived-gap lag shares it); O(1) state per row beyond the frame.
    """
    gap = (
        F.col(ts_col).cast("double")
        - F.lag(F.col(ts_col).cast("double")).over(
            Window.partitionBy(user_col).orderBy(ts_col, id_col)
        )
    ).alias("__y")
    y = F.col(y_col).cast("double").alias("__y") if y_col else gap
    base = df.select(
        id_col,
        user_col,
        ts_col,
        F.col(x_col).cast("double").alias("__x"),
        y,
    )
    w = (
        Window.partitionBy(user_col)
        .orderBy(ts_col, id_col)
        .rowsBetween(-(lookback - 1), Window.currentRow)
    )
    xd = F.col("__x").cast("decimal(25,6)")
    yd = F.col("__y").cast("decimal(25,6)")
    pair_n = F.count(
        F.when(F.col("__x").isNotNull() & F.col("__y").isNotNull(), 1)
    ).over(w)
    # pairwise-complete: mask each element of every sum on BOTH columns
    # being present so all six stats describe the same point set
    xm = F.when(F.col("__y").isNotNull(), xd)
    ym = F.when(F.col("__x").isNotNull(), yd)
    stats = base.select(
        id_col,
        user_col,
        F.col("__x").alias(x_col if x_col != id_col else "__x"),
        pair_n.alias("__n"),
        F.sum(xm).over(w).cast("double").alias("__sx"),
        F.sum(ym).over(w).cast("double").alias("__sy"),
        F.sum((xm * ym).cast("decimal(38,12)")).over(w).cast("double").alias("__sxy"),
        F.sum((xm * xm).cast("decimal(38,12)")).over(w).cast("double").alias("__sxx"),
        F.sum((ym * ym).cast("decimal(38,12)")).over(w).cast("double").alias("__syy"),
    )
    n = F.col("__n").cast("double")
    cov = n * F.col("__sxy") - F.col("__sx") * F.col("__sy")
    vx = n * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    vy = n * F.col("__syy") - F.col("__sy") * F.col("__sy")
    corr = F.when(
        (F.col("__n") >= F.lit(min_periods)) & (vx > 0) & (vy > 0),
        cov / F.sqrt(vx * vy),
    )
    return stats.select(
        id_col,
        user_col,
        F.col("__n").cast("long").alias("n_pairs"),
        corr.alias("roll_corr"),
    )


def merge_session_fragments(
    frags: DataFrame,
    user_col: str = "user_id",
    start_col: str = "frag_start",
    end_col: str = "frag_end",
    gap_s: int = 1800,
    count_col: str = "n_events",
    value_col: str = "frag_value",
) -> DataFrame:
    """Merge per-shard session FRAGMENTS into canonical sessions — the
    batch twin of late-data session-window state merge in Structured
    Streaming: when a user's events arrive split across micro-batches /
    shards, each shard sessionizes only what it saw, and the state store
    must union fragments whose intervals come within ``gap_s`` of each
    other. This operator is that merge as a DataFrame op over fragment
    intervals (start, end, count, value-sum): interval-union with gap
    tolerance via the classic sweep — order fragments by start, break a
    cluster when a fragment starts more than ``gap_s`` after the RUNNING
    MAX of all previous ends (a plain lag(end) mis-merges nested
    intervals), cumulative-sum the breaks into session ids, then fold
    each cluster's counts and exact-decimal value sums.

    Merging shard fragments with the same gap used to sessionize each
    shard reproduces direct whole-stream sessionization EXACTLY
    (test-pinned): within a merged cluster consecutive fragments are
    chained by events ≤ gap apart, and a cluster break certifies a
    silence > gap with no events inside on ANY shard.

    Scale shape: one shuffle on the user key; both window passes and the
    groupBy ride the same sorted exchange. Fragment frames are already
    |sessions|-sized, not event-sized.
    """
    us_s = E.epoch_us(F.col(start_col))
    us_e = E.epoch_us(F.col(end_col))
    w = Window.partitionBy(user_col).orderBy(us_s, us_e)
    run_max_prev = F.max(us_e).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    brk = (
        F.coalesce(us_s > run_max_prev + F.lit(gap_s * 1_000_000), F.lit(True))
    ).cast("long")
    staged = frags.select(
        F.col(user_col),
        F.col(start_col),
        F.col(end_col),
        F.col(count_col).cast("long").alias("__n"),
        F.col(value_col).cast("decimal(25,2)").alias("__v"),
        F.sum(brk).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("session_idx"),
    )
    return staged.groupBy(user_col, "session_idx").agg(
        F.min(start_col).alias("session_start"),
        F.max(end_col).alias("session_end"),
        F.count(F.lit(1)).cast("long").alias("n_fragments"),
        F.sum("__n").cast("long").alias("n_events"),
        F.sum("__v").cast("double").alias("total_value"),
    )


def shard_sessionize_merge(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    value_col: str = "value",
    gap_s: int = 1800,
    n_shards: int = 4,
) -> DataFrame:
    """End-to-end late-data sessionization pipeline: split the stream
    into ``n_shards`` deterministic arrival shards (id mod n — standing
    in for micro-batch / out-of-order arrival), sessionize each shard
    INDEPENDENTLY with ``gap_s``, aggregate each fragment, then
    `merge_session_fragments` back into canonical sessions. The result
    is provably identical to sessionizing the whole stream at once
    (test-pinned vs `session_agg`) — the property that makes streaming
    session state mergeable and shard-parallel backfills sound.
    """
    if not 1 <= int(n_shards) <= 4096:
        raise ValueError(
            f"shard_sessionize_merge: n_shards={n_shards} outside 1..4096"
        )
    shard = F.pmod(F.col(id_col), F.lit(int(n_shards)))
    # per-(shard, user) sessionize: reuse the canonical two-window
    # composition with a composite partition key via a synthetic column
    sharded = df.withColumn("__shard", shard)
    w = Window.partitionBy("__shard", user_col).orderBy(ts_col, id_col)
    us = E.epoch_us(F.col(ts_col))
    new_frag = (
        F.coalesce(
            (us - F.lag(us, 1).over(w)) > F.lit(gap_s * 1_000_000),
            F.lit(True),
        )
    ).cast("long")
    labeled = sharded.withColumn(
        "__frag",
        F.sum(new_frag).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    frags = labeled.groupBy("__shard", user_col, "__frag").agg(
        F.min(ts_col).alias("frag_start"),
        F.max(ts_col).alias("frag_end"),
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col(value_col).cast("decimal(25,2)")).alias("frag_value"),
    )
    return merge_session_fragments(
        frags, user_col, "frag_start", "frag_end", gap_s,
        "n_events", "frag_value",
    )
