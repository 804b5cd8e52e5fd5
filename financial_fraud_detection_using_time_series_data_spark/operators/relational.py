"""Relational core (SURVEY §2.2-2.4, §2.6): joins, aggregations, splits,
top-k — all stock Catalyst operators, wrapped thin.

Scale notes per operator are inline; none of these materialize on the
driver.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from . import chunked
from ..functions import exprs as E
from ..functions.lineage import reuse


def left_join(
    fact: DataFrame, dim: DataFrame, on: str | list[str], broadcast_dim: bool = True
) -> DataFrame:
    """J1 (loader.py:62-66): transactions ⟕ identity on TransactionID.

    The dim side (identity; ~25% coverage) is small relative to the fact →
    broadcast to avoid shuffling the 100 TB side. For a dim too big to
    broadcast, drop the flag and let AQE pick sort-merge with skew split.
    """
    d = F.broadcast(dim) if broadcast_dim else dim
    return fact.join(d, on=on, how="left")


def target_encode(
    df: DataFrame,
    train: DataFrame,
    key: str,
    label: str,
    out_col: str,
    default: float,
) -> DataFrame:
    """J2/A1 (engineer.py:159-172): fit mean(label) per key on the TRAIN
    frame only, broadcast-join onto df, fill unseen keys with the global
    default. Two-phase: the groupBy agg is map-side-combined; the result is
    tiny (|keys| rows) → broadcast."""
    rates = train.groupBy(key).agg(F.avg(label).alias(out_col))
    joined = df.join(F.broadcast(rates), on=key, how="left")
    return joined.withColumn(out_col, F.coalesce(F.col(out_col), F.lit(default)))


def target_encode_expanding(
    df: DataFrame,
    key: str,
    label: str,
    ts_col: str = "ts",
    id_col: str = "event_id",
    alpha: float = 10.0,
    out_col: str = "te_expanding",
) -> DataFrame:
    """LEAKAGE-FREE target encoding: each row sees only the label history
    of its key STRICTLY BEFORE itself (time-ordered expanding frame,
    `ROWS ... AND 1 PRECEDING`), smoothed toward the global prior:

        te = (Σ label_past + α·prior) / (n_past + α)

    The reference's encoder (engineer.py:159-172) fits mean(label) per
    key on the same frame it transforms — each row's own label leaks
    into its feature, inflating offline AUC. This is the
    production-correct variant; first-ever rows fall back to the prior.

    One partitioned (key) window exchange — the scale-safe window shape;
    label sums are integers so partial order can't perturb them; the
    prior is a 1-row broadcast."""
    from pyspark.sql import Window

    prior = df.agg(
        (F.sum(F.col(label).cast("long")).cast("double") / F.count(F.lit(1))).alias(
            "__prior"
        )
    )
    w = (
        Window.partitionBy(key)
        .orderBy(ts_col, id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    past_sum = F.coalesce(F.sum(F.col(label).cast("long")).over(w), F.lit(0))
    past_n = F.count(F.col(label)).over(w)
    return df.crossJoin(F.broadcast(prior)).withColumn(
        out_col,
        (past_sum + F.lit(alpha) * F.col("__prior")) / (past_n + F.lit(alpha)),
    ).drop("__prior")


def winsorize(
    df: DataFrame,
    group_col: str,
    value_col: str,
    lower: float = 0.01,
    upper: float = 0.99,
    out_col: str = "value_w",
) -> DataFrame:
    """Per-group winsorization: clip ``value_col`` to its group's
    [p_lower, p_upper] band — robust-scaling prep that tames whale
    values without dropping rows. The exact percentile bounds are a
    |groups|-row dimension (one map-side-combined agg), broadcast back
    onto the fact, which never shuffles. For a high-cardinality
    group_col swap `percentile` for `approx_percentile` and let the
    bounds dim ride a shuffle join."""
    bounds = df.groupBy(group_col).agg(
        F.percentile(F.col(value_col), F.lit(lower)).alias("__lo"),
        F.percentile(F.col(value_col), F.lit(upper)).alias("__hi"),
    )
    return (
        df.join(F.broadcast(bounds), group_col)
        .withColumn(
            out_col,
            F.least(F.greatest(F.col(value_col), F.col("__lo")), F.col("__hi")),
        )
        .drop("__lo", "__hi")
    )


def bloom_semi_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str | None = None,
    num_bits: int = 1 << 16,
    num_hashes: int = 3,
) -> DataFrame:
    """Semi join with a bloom-filter pre-prune — the runtime-filter
    pattern for joining a 100 TB fact against a dim too big to broadcast
    whole: build a k-hash bloom bitmap over the dim keys (one small agg;
    ``num_bits/64`` longs), inline it as a SQL-literal array, and filter
    the fact with pure map-side bit tests BEFORE the join shuffle. Rows
    that can't match never enter the exchange; the exact semi join then
    removes the bloom's false positives, so the result is IDENTICAL to a
    plain semi join (the oracle twin).

    A key present in dim always has all k bits set → no false negatives
    by construction. The bitmap is ~8 KB at the default sizing (65,536
    bits ≈ 1% FPR for ~5k keys at k=3); size num_bits ≈ 10·|dim keys|
    for ~1% FPR. Spark's own AQE bloom (runtime.bloomFilter) does this
    automatically only when thresholds line up — this operator makes the
    plan explicit and portable.
    """
    dim_key = dim_key or fact_key
    keys = dim.select(F.col(dim_key).alias("__k")).distinct()
    bits = keys.select(
        F.explode(
            F.array(
                *[
                    F.pmod(F.xxhash64(F.col("__k"), F.lit(i)), F.lit(num_bits))
                    for i in range(num_hashes)
                ]
            )
        ).alias("pos")
    )
    words = (
        bits.select(
            (F.col("pos") / 64).cast("int").alias("w"),
            # F.shiftleft only takes a literal shift; call the SQL
            # function directly for a column-valued one
            F.call_function(
                "shiftleft", F.lit(1).cast("long"), (F.col("pos") % 64).cast("int")
            ).alias("b"),
        )
        .groupBy("w")
        .agg(F.bit_or("b").alias("word"))
        .collect()
    )
    bitmap = [0] * (num_bits // 64)
    for r in words:
        bitmap[r["w"]] = r["word"]
    # literal array SQL text: one analysis-time constant, no py4j chatter
    arr = F.expr("array(" + ",".join(f"{w}L" for w in bitmap) + ")")
    fk = F.col(fact_key)
    test = F.lit(True)
    for i in range(num_hashes):
        pos = F.pmod(F.xxhash64(fk, F.lit(i)), F.lit(num_bits))
        word = F.element_at(arr, (pos / 64).cast("int") + 1)
        bit = F.call_function(
            "shiftleft", F.lit(1).cast("long"), (pos % 64).cast("int")
        )
        test = test & (word.bitwiseAND(bit) != 0)
    pruned = fact.filter(test)
    return pruned.join(
        dim.select(F.col(dim_key).alias(fact_key)).distinct(),
        on=fact_key,
        how="left_semi",
    )


def woe_table(
    train: DataFrame,
    key: str,
    label: str,
    eps: float = 0.5,
) -> DataFrame:
    """Weight-of-evidence table per category — the credit-risk-standard
    categorical encoder (J2 sibling; the reference target-encodes only,
    ``engineer.py:159-172``, but WOE is what a fraud-scorecard shop
    actually ships). Laplace-smoothed to keep pure categories finite:

        woe_c = ln( ((n_pos_c + eps) / tot_pos) / ((n_neg_c + eps) / tot_neg) )
        iv_c  = (p_pos_c − p_neg_c) · woe_c   (sum for the information value)

    One map-side-combined groupBy; the output is |categories| rows →
    broadcast-join it onto the fact table (`woe_encode`). Totals ride a
    1-row crossJoin, so nothing big ever shuffles."""
    counts = train.groupBy(key).agg(
        F.sum(F.col(label).cast("long")).alias("n_pos"),
        F.sum(F.lit(1) - F.col(label).cast("long")).alias("n_neg"),
    )
    tot = counts.agg(
        F.sum("n_pos").alias("__tp"), F.sum("n_neg").alias("__tn")
    )
    p_pos = (F.col("n_pos") + F.lit(eps)) / F.col("__tp")
    p_neg = (F.col("n_neg") + F.lit(eps)) / F.col("__tn")
    woe = F.log(p_pos / p_neg)
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            key,
            "n_pos",
            "n_neg",
            woe.alias("woe"),
            ((p_pos - p_neg) * woe).alias("iv_term"),
        )
    )


def woe_encode(
    df: DataFrame,
    train: DataFrame,
    key: str,
    label: str,
    out_col: str = "woe",
    eps: float = 0.5,
) -> DataFrame:
    """Attach the WOE value per row: broadcast the tiny category table;
    the fact side never shuffles. Unseen categories get 0 (no evidence)."""
    table = woe_table(train, key, label, eps).select(
        key, F.col("woe").alias(out_col)
    )
    joined = df.join(F.broadcast(table), on=key, how="left")
    return joined.withColumn(out_col, F.coalesce(F.col(out_col), F.lit(0.0)))


def distinct_count_per_group(
    df: DataFrame,
    key: str,
    value: str,
    out_col: str,
    approx: bool = False,
    agg_source: DataFrame | None = None,
) -> DataFrame:
    """A6 (engineer.py:201-213): groupby(key)[value].transform('nunique')
    attached as a column.

    Scalable form: groupBy(key).agg(countDistinct) then broadcast-join back
    — two-phase, skew-safe — instead of `size(collect_set) over window`,
    which buffers every distinct value per row group and dies on whale keys.
    `approx=True` switches to HLL approx_count_distinct for the 100 TB path.

    ``agg_source``: optional NARROW frame to aggregate instead of ``df``
    (must contain the same (key, value) rows). When ``df`` is the tail of
    a long plan, aggregating df itself re-executes every upstream stage
    that column pruning can't eliminate (joins survive pruning); passing
    the original pre-pipeline input cuts that recomputation.
    """
    agg_fn = F.approx_count_distinct if approx else F.countDistinct
    src = agg_source if agg_source is not None else df
    counts = src.groupBy(key).agg(agg_fn(value).alias(out_col))
    return df.join(counts, on=key, how="left")


def group_size_filter(
    df: DataFrame, key: str, min_rows: int, count_col: str = "group_size"
) -> DataFrame:
    """P7 (sequence_builder.py:65-66): keep groups with >= min_rows rows.
    Window count avoids a join; count state is O(1) per group."""
    w = Window.partitionBy(key)
    return (
        df.withColumn(count_col, F.count(F.lit(1)).over(w))
        .filter(F.col(count_col) >= min_rows)
    )


def time_split(
    df: DataFrame,
    ts_col: str,
    fracs: tuple[float, float, float] = (0.7, 0.15, 0.15),
    tiebreak: str | None = None,
    split_col: str = "split",
) -> DataFrame:
    """O3 (preprocessor.py:73-105): chronological 70/15/15 train/val/test.

    Scale shape: exact global row_number via the percentile-CHUNKED rank
    (`chunked.global_rank`) — per-chunk parallel windows + a triangular
    offset join — instead of a partitionless `Window.orderBy(ts)` that
    would stream the whole table through one task. The total count rides
    along from the chunk totals, so there is no eager `df.count()` action
    either: the split stays a lazy, composable transformation. Matches
    the reference's positional slice exactly (row_number vs floor(n·f)
    thresholds).
    """
    assert abs(sum(fracs) - 1.0) < 1e-9
    order = [ts_col] + ([tiebreak] if tiebreak else [])
    # timestamp flavors (incl. TIMESTAMP_NTZ, which rejects a direct
    # double cast) go through the tolerant epoch helper; numerics as-is
    dtype = dict(df.dtypes).get(ts_col, "")
    key = (
        E.epoch_us(F.col(ts_col)).cast("double")
        if dtype.startswith("timestamp")
        else F.col(ts_col).cast("double")
    )
    base = df.withColumn("__k", key)
    ranked = chunked.global_rank(base, "__k", order, rank_col="__rn", count_col="__n")
    rn, n = F.col("__rn"), F.col("__n")
    t1 = F.floor(n * F.lit(fracs[0]))
    t2 = F.floor(n * F.lit(fracs[0] + fracs[1]))
    return ranked.withColumn(
        split_col,
        F.when(rn <= t1, "train").when(rn <= t2, "val").otherwise("test"),
    ).drop("__k", "__rn", "__n")


def ntile_buckets(
    df: DataFrame,
    value_col: str,
    n_buckets: int,
    tiebreak: str,
    out_col: str = "bucket",
) -> DataFrame:
    """Equal-frequency bucketing: EXACT ``ntile(k) OVER (ORDER BY value,
    tiebreak)`` semantics without the global single-task window — chunked
    global rank (`chunked.global_rank`) + the standard SQL ntile
    assignment (the first ``n mod k`` buckets take the extra row).

    When ``n < k`` the remainder branch never fires (every row is covered
    by the size-1 leading buckets), so the q=0 division can't surface.
    """
    base = df.withColumn("__k", F.col(value_col).cast("double"))
    ranked = chunked.global_rank(base, "__k", [value_col, tiebreak])
    rn, n = F.col("__rn"), F.col("__n")
    q = F.floor(n / n_buckets)
    r = n % n_buckets
    big = q + 1
    cutoff = r * big
    bucket = F.when(rn <= cutoff, F.ceil(rn / big)).otherwise(
        r + F.ceil((rn - cutoff) / q)
    )
    return ranked.withColumn(out_col, bucket).drop("__k", "__rn", "__n")


def top_k(df: DataFrame, by: str | Column, k: int, ascending: bool = False) -> DataFrame:
    """O4: orderBy + limit → TakeOrderedAndProject (per-partition heap +
    driver merge of k items — no global sort)."""
    col = F.col(by) if isinstance(by, str) else by
    return df.orderBy(col.asc() if ascending else col.desc()).limit(k)


def seasonal_adjust(
    df: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    id_col: str = "event_id",
) -> DataFrame:
    """Two-way additive deseasonalization of an amount series — the
    seasonality-aware upgrade of the reference's raw temporal flags
    (engineer.py:27-45 extracts hour/dow but never normalizes by them).
    Transaction volume and size breathe with hour-of-day and day-of-week;
    an anomaly score computed on raw value flags every Friday evening.

        adjusted = value − (mean_hour − mean_all) − (mean_dow − mean_all)

    Means are decimal-exact sums / counts (partial-agg order can't
    perturb the double — same rule as `group_describe`). Three aggregate
    passes produce 24-, 7-, and 1-row tables, broadcast back onto the
    fact; the fact side never shuffles."""
    from ..functions.exprs import pandas_dow

    def _mean(col: str = "__v"):
        return (
            F.sum(F.col(col).cast("decimal(25,2)")).cast("double")
            / F.count(F.lit(1))
        )

    tagged = df.select(
        id_col,
        F.hour(F.col(ts_col)).cast("int").alias("hour"),
        pandas_dow(F.col(ts_col)).cast("int").alias("dow"),
        F.col(value_col).alias("__v"),
    )
    by_hour = tagged.groupBy("hour").agg(_mean().alias("__mh"))
    by_dow = tagged.groupBy("dow").agg(_mean().alias("__md"))
    overall = tagged.agg(_mean().alias("__ma"))
    return (
        tagged.join(F.broadcast(by_hour), "hour")
        .join(F.broadcast(by_dow), "dow")
        .crossJoin(F.broadcast(overall))
        .select(
            id_col,
            "hour",
            "dow",
            F.col("__v").alias(value_col),
            (
                F.col("__v")
                - (F.col("__mh") - F.col("__ma"))
                - (F.col("__md") - F.col("__ma"))
            ).alias("adjusted"),
        )
    )


def group_describe(df: DataFrame, key: str, value: str) -> DataFrame:
    """A5 (train_pipeline.py:74-78): per-class mean/median/max of a value.
    Median = exact percentile (Spark `median`) to match DuckDB; swap to
    percentile_approx at the 100 TB scale point. Mean via exact decimal
    sum / count so partial-agg order can't perturb the double."""
    return df.groupBy(key).agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(F.col(value).cast("decimal(25,2)")).cast("double") / F.count(F.lit(1))).alias(
            "mean_value"
        ),
        F.median(value).alias("median_value"),
        F.max(value).alias("max_value"),
    )


def corr_vector(df: DataFrame, cols: list[str], label: str) -> DataFrame:
    """A8 (nb 03 cell-17): Pearson corr of each col with the label, one
    wide agg pass (all corrs computed in a single job)."""
    aggs = [F.corr(c, label).alias(c) for c in cols]
    wide = df.agg(*aggs)
    stack_expr = ", ".join(f"'{c}', `{c}`" for c in cols)
    return wide.selectExpr(f"stack({len(cols)}, {stack_expr}) as (col_name, corr)")


def cardinality(df: DataFrame, cols: list[str], approx: bool = False) -> DataFrame:
    """A7 (preprocessor.py:148-155): nunique per column, one agg pass."""
    fn = F.approx_count_distinct if approx else F.countDistinct
    aggs = [fn(c).alias(c) for c in cols]
    wide = df.agg(*aggs)
    stack_expr = ", ".join(f"'{c}', `{c}`" for c in cols)
    return wide.selectExpr(f"stack({len(cols)}, {stack_expr}) as (col_name, n_distinct)")


def label_encode(df: DataFrame, col: str, out_col: str | None = None) -> DataFrame:
    """F10 (preprocessor.py:124-127): pandas ``astype('category').cat.codes``
    — lexicographic integer codes, NULL -> -1. Computed as a tiny distinct
    dimension ranked with dense_rank then broadcast-joined back, so the big
    table never shuffles (vs. a window over the full table, which would).
    StringIndexer(stringOrderType='alphabetAsc') gives the same ordering for
    the MLlib path; this is the pure-SQL twin."""
    from pyspark.sql import Window

    out_col = out_col or f"{col}_code"
    # partitionless window is safe here: its input is the distinct VOCAB
    # of a categorical column (broadcastable by the same assumption the
    # join below already makes), never the fact table. For genuinely
    # high-cardinality keys use chunked.global_rank on the dim instead.
    dim = (
        df.select(col).filter(F.col(col).isNotNull()).distinct()
        .withColumn(out_col, F.dense_rank().over(Window.orderBy(col)) - F.lit(1))
    )
    joined = df.join(F.broadcast(dim), on=col, how="left")
    return joined.withColumn(out_col, F.coalesce(F.col(out_col), F.lit(-1)))


def as_of_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    value_cols: list[str],
    left_id: str | None = None,
    right_id: str | None = None,
    direction: str = "backward",
    tolerance_s: float | None = None,
) -> DataFrame:
    """As-of join: for each left row, the nearest right row at-or-before
    (``direction='backward'``, default) or at-or-after (``'forward'``)
    its timestamp for the same key (SURVEY §2.3 notes this as the natural
    extension of the reference's map-joins for fraud lookups — "last
    known device/merchant state at transaction time").

    Implemented with the union trick — tag both sides, sort each key
    partition once by (ts, side, right_id), carry the right values forward
    with ``last(ignorenulls)`` — instead of a range self-join. The range
    join explodes to O(|L|·|R|) pairs per key before aggregation; this
    form is ONE shuffle on the key and O(1) state per row, so a whale key
    with 10M rows costs a sort, not 10M² candidate pairs. Ties at equal
    ts: the right row sorts first (side 0 < side 1), i.e. inclusive
    semantics, matching DuckDB's ASOF JOIN; among right rows sharing a
    timestamp the highest right_id wins (last carried).

    ``tolerance_s`` bounds the match age (pandas merge_asof tolerance):
    the carried match timestamp rides along the same window, and values
    farther than the tolerance are nulled — no second join."""
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    rid = right_id or right.columns[0]
    lcols = [F.col(c) for c in left.columns]
    l_tagged = left.select(
        *lcols,
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        F.lit(None).cast("long").alias("__rid"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"__v_{c}") for c in value_cols],
    )
    r_tagged = right.select(
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in left.columns if c != on],
        F.col(on),
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        F.col(rid).cast("long").alias("__rid"),
        *[F.col(c).alias(f"__v_{c}") for c in value_cols],
    ).select(*[c for c in l_tagged.columns])
    unioned = l_tagged.unionByName(r_tagged)
    ts_key = F.col("__ts") if direction == "backward" else F.col("__ts").desc()
    w = (
        Window.partitionBy(on)
        .orderBy(ts_key, F.col("__side"), F.col("__rid"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.select(
        "*",
        F.last(F.when(F.col("__side") == 0, F.col("__ts")), ignorenulls=True)
        .over(w)
        .alias("__match_ts"),
        *[
            F.last(f"__v_{c}", ignorenulls=True).over(w).alias(f"asof_{c}")
            for c in value_cols
        ],
    )
    if tolerance_s is not None:
        from ..functions import exprs as E

        age = E.epoch_s(F.col("__ts")) - E.epoch_s(F.col("__match_ts"))
        if direction == "forward":
            age = -age
        in_tol = age <= F.lit(float(tolerance_s))
        carried = carried.select(
            *[c for c in carried.columns if not c.startswith("asof_")],
            *[
                F.when(in_tol, F.col(f"asof_{c}")).alias(f"asof_{c}")
                for c in value_cols
            ],
        )
    keep = [c for c in left.columns] + [f"asof_{c}" for c in value_cols]
    return carried.filter(F.col("__side") == 1).select(*keep)


def group_quantiles(
    df: DataFrame, key: str, value: str, probs: tuple[float, ...] = (0.5, 0.9, 0.99)
) -> DataFrame:
    """Exact per-group quantiles (linear interpolation — same rule as
    numpy/pandas/DuckDB quantile_cont). One hash-agg pass; `percentile`
    buffers the group's values, so at the 100 TB scale point swap to
    `percentile_approx` (bounded-memory KLL-ish sketch) — same call shape,
    documented accuracy trade."""
    aggs = [
        F.percentile(F.col(value), F.lit(p)).alias(f"p{int(p * 100)}") for p in probs
    ]
    return df.groupBy(key).agg(F.count(F.lit(1)).alias("n"), *aggs)


def robust_zscore(
    df: DataFrame, key: str, value: str, score_col: str = "robust_z"
) -> DataFrame:
    """Median/MAD anomaly score per group: 0.6745·(x - median)/MAD, the
    outlier-resistant z-score (the natural upgrade of the reference's
    mean/std deviation features, engineer.py:102-105). Two grouped agg
    passes (median, then MAD of residuals) + broadcast joins back — the
    big table shuffles once per agg, never sorts globally. MAD=0 groups
    (constant value) yield NULL scores."""
    med = df.groupBy(key).agg(F.median(value).alias("__med"))
    with_med = df.join(F.broadcast(med), on=key)
    mad = (
        with_med.groupBy(key)
        .agg(F.median(F.abs(F.col(value) - F.col("__med"))).alias("__mad"))
    )
    out = with_med.join(F.broadcast(mad), on=key)
    score = (
        F.lit(0.6745)
        * (F.col(value) - F.col("__med"))
        / F.nullif(F.col("__mad"), F.lit(0.0))
    )
    return out.withColumn(score_col, score).drop("__med", "__mad")


def salted_agg(
    df: DataFrame,
    key: str,
    value: str,
    id_col: str,
    n_salts: int = 16,
) -> DataFrame:
    """Skew-proof two-phase aggregation (SURVEY §4.3.1): stage 1 groups by
    (key, salt) so a whale key splits into n_salts uniform partials;
    stage 2 combines the partials per key. sum/count compose exactly, and
    the decimal cast makes the result bit-identical to a single-phase
    GROUP BY regardless of combination order. The salt is a deterministic
    hash of the row id (oracle-reproducible, no rand()).

    Returns (key, total, n) == plain ``groupBy(key).agg(sum, count)``.
    """
    salted = df.withColumn("__salt", F.pmod(F.hash(F.col(id_col)), F.lit(n_salts)))
    partial = salted.groupBy(key, "__salt").agg(
        F.sum(F.col(value).cast("decimal(25,2)")).alias("__psum"),
        F.count(F.lit(1)).alias("__pcnt"),
    )
    return partial.groupBy(key).agg(
        F.sum("__psum").cast("double").alias("total"),
        F.sum("__pcnt").alias("n"),
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Diff two snapshots of a keyed table: one row per key whose state
    changed, with ``change_type`` in {'added', 'removed', 'changed'}
    (unchanged keys are dropped — at 100 TB the diff is the small output,
    the snapshots are the big inputs).

    The incremental-pipeline primitive the reference lacks entirely (its
    pipeline recomputes from scratch every run, ``train_pipeline.py:41-57``):
    co-partitioned full-outer join on the key, null-safe column compare
    (NULL == NULL is unchanged), values from both sides returned as
    ``<col>_old`` / ``<col>_new``.

    Scale: one shuffle per side on the key (bucketing both snapshots on
    the key makes it shuffle-free); the compare is map-side after the
    join; output is bounded by churn, not table size.
    """
    cmp_cols = compare_cols or [c for c in old.columns if c not in keys]
    # presence must be tracked with explicit markers: the full outer join
    # coalesces the key columns, so key nullness alone can't distinguish
    # sides when compare columns are legitimately NULL
    o = old.select(
        *keys, *[F.col(c).alias(f"{c}_old") for c in cmp_cols]
    ).withColumn("__in_old", F.lit(True))
    n = new.select(
        *keys, *[F.col(c).alias(f"{c}_new") for c in cmp_cols]
    ).withColumn("__in_new", F.lit(True))
    j = o.join(n, keys, "full_outer")
    same = F.lit(True)
    for c in cmp_cols:
        same = same & F.col(f"{c}_old").eqNullSafe(F.col(f"{c}_new"))
    change = (
        F.when(F.col("__in_old").isNull(), F.lit("added"))
        .when(F.col("__in_new").isNull(), F.lit("removed"))
        .when(~same, F.lit("changed"))
    )
    out_cols = [c for pair in ((f"{c}_old", f"{c}_new") for c in cmp_cols) for c in pair]
    return (
        j.withColumn("change_type", change)
        .where(F.col("change_type").isNotNull())
        .select(*keys, "change_type", *out_cols)
    )


def _cdc_latest_per_key(
    changes: DataFrame, keys: list[str], op_col: str, seq_col: str
) -> DataFrame:
    """Latest change per key (`apply_cdc`'s dedup stage), exposed so the
    plan-shape pin (rank-1 → WindowGroupLimit, window over the LOG side
    only) stays checkable now that `apply_cdc` lineage-breaks this frame
    (the break hides the window subtree from the composed plan)."""
    w = Window.partitionBy(*keys).orderBy(
        F.col(seq_col).desc(), F.col(op_col).desc()
    )
    return (
        changes.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def apply_cdc(
    snapshot: DataFrame,
    changes: DataFrame,
    keys: list[str],
    op_col: str = "op",
    seq_col: str = "seq",
) -> DataFrame:
    """Apply a change-data-capture log to a snapshot (Delta-style MERGE
    without a table format): for each key keep only the LATEST change by
    ``seq_col`` (ties broken by ``op_col`` so a same-seq delete+upsert is
    deterministic), then upserts ('I'/'U') replace the snapshot row,
    deletes ('D') remove it, untouched snapshot rows pass through.

    Scale: the change log is deduplicated to one row per key BEFORE it
    meets the snapshot (a window over the log only — the log is the small
    side); the snapshot anti-joins the touched-key dim (broadcastable
    when churn is small) and never shuffles on anything but the key.
    """
    # the deduped log feeds the touched-key dim and the upserts: one window pass
    latest = _cdc_latest_per_key(changes, keys, op_col, seq_col).transform(reuse)
    touched = latest.select(*keys)
    kept = snapshot.join(touched, keys, "left_anti")
    upserts = latest.where(F.col(op_col) != "D").drop(op_col, seq_col)
    return kept.unionByName(upserts)


def group_moments(
    df: DataFrame, keys: list[str], value_col: str = "value"
) -> DataFrame:
    """Per-key first/second moments (n, mean, m2) as a MERGEABLE partial
    — the maintained-aggregate analog of the sketch rollup: persist this
    per day/shard and ``merge_moments`` folds a delta batch in without
    re-scanning history.

    Sums go through exact decimals (2dp input → exact 4dp squares) so the
    partial is order-invariant bit-exact; the moment arithmetic then runs
    in IEEE doubles identically on any engine.
    """
    v = F.col(value_col).cast("decimal(18,2)")
    agg = df.groupBy(*keys).agg(
        F.count(F.col(value_col)).alias("n"),
        F.sum(v).alias("__s"),
        F.sum(v * v).alias("__ss"),
    )
    s = F.col("__s").cast("double")
    ss = F.col("__ss").cast("double")
    return agg.select(
        *keys,
        "n",
        (s / F.col("n")).alias("mean"),
        (ss - s * s / F.col("n")).alias("m2"),
    )


def merge_moments(a: DataFrame, b: DataFrame, keys: list[str]) -> DataFrame:
    """Chan's parallel merge of two moment partials: exact composition of
    (n, mean, m2) without touching raw rows. Keys present on one side
    only pass through. The join runs over two aggregate-sized frames —
    this is how a 100 TB pipeline maintains running stats: merge
    yesterday's state with today's delta partial, O(|keys|) cost.

    All cross terms promote to double before multiplying so 1e10-row
    partials can't overflow the int64 product.
    """
    asel = a.select(
        *keys,
        F.col("n").alias("na"),
        F.col("mean").alias("ma"),
        F.col("m2").alias("m2a"),
    )
    bsel = b.select(
        *keys,
        F.col("n").alias("nb"),
        F.col("mean").alias("mb"),
        F.col("m2").alias("m2b"),
    )
    j = asel.join(bsel, keys, "full_outer")
    na = F.coalesce(F.col("na"), F.lit(0))
    nb = F.coalesce(F.col("nb"), F.lit(0))
    n = (na + nb).alias("n")
    delta = F.col("mb") - F.col("ma")
    mean = (
        F.when(na == 0, F.col("mb"))
        .when(nb == 0, F.col("ma"))
        .otherwise(F.col("ma") + delta * nb / (na + nb))
    ).alias("mean")
    m2 = (
        F.when(na == 0, F.col("m2b"))
        .when(nb == 0, F.col("m2a"))
        .otherwise(
            F.col("m2a") + F.col("m2b") + delta * delta * na * nb / (na + nb)
        )
    ).alias("m2")
    return j.select(*keys, n, mean, m2)


def topk_per_group(
    df: DataFrame,
    group_col: str,
    order_col: str,
    k: int,
    tiebreak_col: str,
    n_salts: int = 8,
) -> DataFrame:
    """Scale-safe top-k per group (descending ``order_col``, ties broken
    ascending on ``tiebreak_col``). A plain per-group rank window puts
    each group in ONE task — the low-cardinality-group trap (five event
    types would mean five tasks touching the whole corpus). Two phases
    instead: a parallel partial top-k over (group, salt) — the salt from
    a hash of the tiebreak, so placement is deterministic — then the
    final rank over the ≤ k·n_salts surviving candidates per group.
    Any true top-k row is necessarily in its salt's partial top-k, so
    the reduction is exact. Adds a ``rank`` column (1-based).
    """
    salted = df.withColumn(
        "__salt", F.pmod(F.hash(F.col(tiebreak_col)), F.lit(int(n_salts)))
    )
    w1 = Window.partitionBy(group_col, "__salt").orderBy(
        F.desc(order_col), F.asc(tiebreak_col)
    )
    cand = (
        salted.withColumn("__r1", F.row_number().over(w1))
        .where(F.col("__r1") <= int(k))
        .drop("__salt", "__r1")
    )
    w2 = Window.partitionBy(group_col).orderBy(
        F.desc(order_col), F.asc(tiebreak_col)
    )
    return (
        cand.withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= int(k))
    )


def period_over_period(
    df: DataFrame,
    ts_col: str = "ts",
    group_col: str = "event_type",
    value_col: str = "value",
    bucket: str = "day",
) -> DataFrame:
    """Period-over-period trend table: per (group, bucket) decimal-exact
    value totals with the previous period's total, absolute delta, and
    percent change — the "what moved and by how much" table behind every
    business dashboard. Percent change is NULL for a group's first
    period and for a zero prior (no fake infinities).

    One map-side-combined rollup shuffle; the lag window runs on the
    |groups|·|buckets| frame, partitioned by group.
    """
    rolled = df.groupBy(
        F.col(group_col).alias("grp"),
        F.date_trunc(bucket, F.col(ts_col)).alias("bucket_ts"),
    ).agg(
        F.sum(F.col(value_col).cast("decimal(25,2)")).cast("double").alias("total"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    w = Window.partitionBy("grp").orderBy("bucket_ts")
    prev = F.lag("total").over(w)
    return rolled.select(
        "grp",
        "bucket_ts",
        "total",
        F.col("n_rows").cast("long").alias("n_rows"),
        prev.alias("prev_total"),
        (F.col("total") - prev).alias("delta"),
        F.when(prev != 0, (F.col("total") - prev) / prev).alias("pct_change"),
    )


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    bucket_seconds: int = 3600,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Interval-overlap join without a theta-join: both sides carry
    ``(id, start, end)`` (timestamps); returns every (l_id, r_id) pair
    whose intervals STRICTLY overlap, with the overlap length. The naive
    form is a non-equi join — O(|L|·|R|) compares and a CartesianProduct
    plan. Instead each interval explodes to the time buckets it spans,
    the join runs as an EQUI join on the bucket, the true overlap
    predicate filters candidates, and pairs that co-occupy several
    buckets dedupe once.

    Fan-out per row is ceil(span / bucket_seconds) + 1 — pick the bucket
    near the typical interval length so the explode factor is a small
    constant. ``key_cols`` (shared by both sides) join as additional
    EQUI keys: without them, every pair of intervals sharing a time
    slice is a candidate, which goes quadratic when thousands of
    intervals co-occupy each slice — scoping to a key (user, machine,
    region) is what bounds candidates in a dense timeline. At 100 TB
    the (keys, bucket) tuple is the partition key both sides shuffle
    on; an interval far longer than the bucket (a months-long outage)
    fans out linearly and should be split or handled as a broadcast
    dimension instead.
    """
    b_us = int(bucket_seconds) * 1_000_000
    keys = list(key_cols or [])

    def _explode(df: DataFrame, pfx: str) -> DataFrame:
        # microsecond precision end-to-end: a second-truncated compare
        # would silently drop sub-second overlaps
        s = F.unix_micros(F.col("start"))
        e = F.unix_micros(F.col("end"))
        return df.select(
            *keys,
            F.col("id").alias(f"{pfx}_id"),
            s.alias(f"{pfx}_s"),
            e.alias(f"{pfx}_e"),
            F.explode(
                F.sequence(
                    F.floor(s / b_us).cast("long"), F.floor(e / b_us).cast("long")
                )
            ).alias("__bucket"),
        )

    l = _explode(left, "l")
    r = _explode(right, "r")
    overlap = (
        F.least(F.col("l_e"), F.col("r_e")) - F.greatest(F.col("l_s"), F.col("r_s"))
    ) / F.lit(1_000_000.0)
    return (
        l.join(r, keys + ["__bucket"])
        .where((F.col("l_s") < F.col("r_e")) & (F.col("r_s") < F.col("l_e")))
        .select("l_id", "r_id", overlap.alias("overlap_seconds"))
        .distinct()
    )


def pareto_frontier(
    df: DataFrame,
    d1_col: str,
    d2_col: str,
    n_buckets: int = 64,
) -> DataFrame:
    """Skyline query: rows not dominated in the (maximize ``d1_col``,
    maximize ``d2_col``) sense — p dominates q iff p >= q on both dims
    and p > q on at least one. The Pareto set is the classic "best
    trade-off" query (most-active AND highest-value accounts, cheapest
    AND fastest suppliers) that plain ORDER BY cannot express.

    Plan shape (two phases, both distributed):

    1. **Bucket prune** (removes all but the near-frontier band): bucket
       ``d1`` into ``n_buckets`` fixed-width ranges (min/max from one
       broadcast 1-row agg); per-bucket max of ``d2`` is a
       |buckets|-row dim. A row survives iff its ``d2`` STRICTLY
       exceeds the best ``d2`` of every strictly-higher bucket (any
       such point has strictly greater d1, so a >= tie on d2 already
       dominates). The corpus is scanned map-only against the
       broadcast threshold dim — no shuffle of the fact.
    2. **Exact skyline on the survivor band**: group survivors by
       distinct ``d1`` (keeping each group's max ``d2``), one ordered
       window over that reduced frame computes the strictly-prior
       running max, and a final semi-join keeps exactly the
       non-dominated rows. The window sorts only the survivor band —
       bounded by the frontier's neighborhood, not the corpus.

    Equal (d1, d2) duplicates do not dominate each other; all co-optimal
    ties are returned. Dims may be any orderable numeric type; exact
    (decimal) inputs make dominance exact.
    """
    base = df.select("*").where(
        F.col(d1_col).isNotNull() & F.col(d2_col).isNotNull()
    )
    rng = base.agg(
        F.min(d1_col).cast("double").alias("__lo"),
        F.max(d1_col).cast("double").alias("__hi"),
    )
    w = (F.col("__hi") - F.col("__lo")) / F.lit(float(n_buckets))
    bucket = F.when(F.col("__hi") == F.col("__lo"), F.lit(0)).otherwise(
        F.least(
            F.floor((F.col(d1_col).cast("double") - F.col("__lo")) / w),
            F.lit(n_buckets - 1),
        )
    ).cast("int")
    bucketed = base.crossJoin(F.broadcast(rng)).withColumn("__b", bucket)

    # per-bucket best d2, then the running max over STRICTLY higher buckets
    bmax = bucketed.groupBy("__b").agg(F.max(d2_col).alias("__bm"))
    higher = Window.orderBy(F.col("__b").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    thresh = bmax.select(
        "__b", F.max("__bm").over(higher).alias("__higher_best")
    )
    survivors = (
        bucketed.join(F.broadcast(thresh), "__b")
        .where(
            F.col("__higher_best").isNull()
            | (F.col(d2_col) > F.col("__higher_best"))
        )
        .drop("__b", "__lo", "__hi", "__higher_best")
    )

    # exact pass on the pruned band
    g = survivors.groupBy(d1_col).agg(F.max(d2_col).alias("__gmax"))
    prior = Window.orderBy(F.col(d1_col).desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    keep = (
        g.select(d1_col, "__gmax", F.max("__gmax").over(prior).alias("__p"))
        .where(F.col("__p").isNull() | (F.col("__gmax") > F.col("__p")))
        .select(d1_col, F.col("__gmax").alias(d2_col))
    )
    return survivors.join(F.broadcast(keep), [d1_col, d2_col], "left_semi")


def walk_forward_splits(
    df: DataFrame,
    ts_col: str = "ts",
    n_folds: int = 4,
) -> DataFrame:
    """Rolling-origin (walk-forward) backtest assignment — the
    time-series counterpart of k-fold: the time range splits into
    ``n_folds``+1 equal buckets; fold i (1-based) trains on buckets
    0..i−1 and tests on bucket i, so every fold's test data is strictly
    later than all its training data (the leakage guarantee
    `time_split` gives once, generalized to a backtest series).

    One broadcast 1-row (min, max) dim buckets every row map-side; the
    fold fan-out is an `explode(sequence(...))` whose multiplier is the
    per-row fold-membership count (≤ n_folds — train rows replicate
    into every LATER fold, test rows exactly once). Emitting
    assignments (not copies of payload columns the caller didn't ask
    for) keeps the fan-out narrow; aggregate or join back by row id
    downstream.

    Returns the input columns + (fold, role) — 'train' or 'test'.
    """
    rng = df.agg(
        F.min(F.col(ts_col).cast("timestamp")).cast("long").alias("__lo"),
        F.max(F.col(ts_col).cast("timestamp")).cast("long").alias("__hi"),
    )
    nb = n_folds + 1
    width = (F.col("__hi") - F.col("__lo") + 1) / F.lit(float(nb))
    bucket = F.least(
        F.floor((F.col(ts_col).cast("timestamp").cast("long") - F.col("__lo")) / width),
        F.lit(nb - 1),
    ).cast("int")
    bucketed = df.crossJoin(F.broadcast(rng)).withColumn("__b", bucket)
    # train memberships: folds b+1..n_folds ; test membership: fold b
    train = bucketed.where(F.col("__b") < n_folds).select(
        "*",
        F.explode(
            F.sequence(F.col("__b") + 1, F.lit(n_folds))
        ).alias("fold"),
        F.lit("train").alias("role"),
    )
    test = bucketed.where(
        (F.col("__b") >= 1) & (F.col("__b") <= n_folds)
    ).select("*", F.col("__b").alias("fold"), F.lit("test").alias("role"))
    return train.unionByName(test).drop("__b", "__lo", "__hi")


def point_in_time_join(
    facts: DataFrame,
    dim: DataFrame,
    entity_col: str,
    fact_ts_col: str,
    fact_cols: list[str],
    attr_cols: list[str],
    dim_from_col: str = "valid_from",
    dim_order_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Point-in-time (temporal validity) join: attach to every fact the
    dimension version in force at the fact's timestamp — the lookup an
    SCD2 table (`events.scd2_history`) exists to serve, and the
    train/serve-skew killer for feature backfills (each training row
    sees exactly the attributes production WOULD have seen).

    NOT a range join: facts and dim versions UNION into one stream,
    ONE per-entity ordered window carries the latest version struct
    forward (`last(ignorenulls)` over dim rows sorted before same-
    instant facts), and the fact rows are filtered back out. One
    exchange on the entity key, no interval predicate, no
    BroadcastNestedLoopJoin — the union trick that keeps temporal
    lookups shuffle-bounded at 100 TB.

    Version attributes ride in ONE struct, so a dim version whose
    attribute is legitimately NULL still supersedes older versions
    (a bare `last(attr, ignorenulls)` would look straight past it).
    ``dim_order_cols`` breaks ties between versions sharing a
    ``valid_from`` instant (pass SCD2's ``version``). Facts before the
    first version keep NULL attributes.
    """
    ver = F.struct(*[F.col(a) for a in attr_cols])
    fact_null_ver = F.lit(None).cast(
        dim.select(ver.alias("__ver")).schema["__ver"].dataType
    )
    ftypes = dict(facts.dtypes)
    extra_fact = [c for c in fact_cols if c != entity_col]
    d = dim.select(
        F.col(entity_col),
        F.col(dim_from_col).alias("__pit_ts"),
        *[
            F.col(c).cast("long").alias(f"__ord{i}")
            for i, c in enumerate(dim_order_cols)
        ],
        ver.alias("__ver"),
        F.lit(0).alias("__is_fact"),
        *[F.lit(None).cast(ftypes[c]).alias(c) for c in extra_fact],
    )
    f = facts.select(
        F.col(entity_col),
        F.col(fact_ts_col).alias("__pit_ts"),
        *[F.lit(None).cast("long").alias(f"__ord{i}") for i in range(len(dim_order_cols))],
        fact_null_ver.alias("__ver"),
        F.lit(1).alias("__is_fact"),
        *extra_fact,
    )
    w = (
        Window.partitionBy(entity_col)
        .orderBy(
            "__pit_ts",
            "__is_fact",
            *[F.col(f"__ord{i}") for i in range(len(dim_order_cols))],
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = d.unionByName(f).withColumn(
        "__cur", F.last("__ver", ignorenulls=True).over(w)
    )
    return carried.where(F.col("__is_fact") == 1).select(
        *fact_cols,
        *[F.col("__cur").getField(a).alias(a) for a in attr_cols],
    )


def quantile_normalize(
    df: DataFrame,
    group_col: str,
    value_col: str,
    grid_size: int = 256,
) -> DataFrame:
    """Quantile normalization across groups: replace each value by the
    POOLED distribution's quantile at the value's within-group percent
    rank — after which every group shares the pooled shape (the
    bioinformatics/array-normalization standard, and the curation move
    that makes per-source feature distributions comparable before
    mixing sources into one training set).

    Two passes, both bounded: ONE global agg computes the pooled
    ``grid_size``-point quantile grid (exact interpolated percentiles,
    broadcast as a 1-row dim); one per-group window assigns percent
    ranks (RANK-based, ties share a rank — identical across engines);
    the grid lookup is pure arithmetic (linear interpolation between
    adjacent grid points, clamped at the ends). Single-member groups
    take percent_rank 0 → the pooled minimum.

    A 256-point grid quantizes the pooled CDF to ~0.4% resolution —
    the standard trade; raise ``grid_size`` for finer tails. Returns
    the input columns + ``pct_rank`` + ``normalized``.
    """
    fracs = [i / (grid_size - 1) for i in range(grid_size)]
    # grid points are quantized to the engine-wide 1e-6 grid: exact
    # interpolated percentiles may differ between engines in the last
    # bit (lower+(hi-lo)·d vs lerp forms), and an unquantized grid
    # would leak that ulp into every downstream value
    grid = df.agg(
        F.transform(
            F.percentile(
                F.col(value_col).cast("double"), F.array(*[F.lit(f) for f in fracs])
            ),
            lambda v: F.floor(v * F.lit(1_000_000.0) + F.lit(0.5)) / F.lit(1_000_000.0),
        ).alias("__grid")
    )
    w = Window.partitionBy(group_col).orderBy(F.col(value_col).cast("double"))
    ranked = df.withColumn("__p", F.percent_rank().over(w))
    idx = F.col("__p") * F.lit(float(grid_size - 1))
    lo = F.least(F.floor(idx).cast("int"), F.lit(grid_size - 2))
    frac = idx - lo.cast("double")
    g_lo = F.element_at("__grid", lo + 1)
    g_hi = F.element_at("__grid", lo + 2)
    return (
        ranked.crossJoin(F.broadcast(grid))
        .withColumn("pct_rank", F.col("__p"))
        .withColumn("normalized", g_lo + (g_hi - g_lo) * frac)
        .drop("__p", "__grid")
    )


def trimmed_mean(
    df: DataFrame,
    group_col: str,
    value_col: str,
    lo: float = 0.1,
    hi: float = 0.9,
) -> DataFrame:
    """Per-group trimmed mean: average of the values inside the exact
    [p_lo, p_hi] quantile band — the robust center that, unlike the
    median, still uses 80% of the data, and unlike winsorizing, drops
    (rather than clamps) the tails.

    Trim bounds are the exact interpolated percentiles (one map-side-
    combined agg per group); membership is a value compare against the
    broadcast bounds, so the second pass is map-only; the in-band mean
    is a decimal-exact conditional sum over exact counts. Two corpus
    scans, no sort, no rank window — the 100 TB-safe form of a trim
    (a rank-based trim needs a per-group global sort).
    """
    bounds = df.groupBy(group_col).agg(
        F.percentile(F.col(value_col), F.lit(float(lo))).alias("__lo"),
        F.percentile(F.col(value_col), F.lit(float(hi))).alias("__hi"),
        F.count(F.lit(1)).alias("n_total"),
    )
    j = df.join(F.broadcast(bounds), group_col)
    in_band = F.col(value_col).between(F.col("__lo"), F.col("__hi"))
    return (
        j.groupBy(group_col)
        .agg(
            F.first("n_total").alias("n_total"),
            F.first("__lo").alias("lo_bound"),
            F.first("__hi").alias("hi_bound"),
            F.sum(in_band.cast("long")).alias("n_kept"),
            F.sum(
                F.when(in_band, F.col(value_col).cast("decimal(25,6)")).otherwise(
                    F.lit(0).cast("decimal(25,6)")
                )
            ).alias("__s"),
        )
        .select(
            group_col,
            F.col("n_total").cast("long").alias("n_total"),
            F.col("n_kept").cast("long").alias("n_kept"),
            "lo_bound",
            "hi_bound",
            (F.col("__s").cast("double") / F.col("n_kept")).alias("trimmed_mean"),
        )
        .orderBy(group_col)
    )
