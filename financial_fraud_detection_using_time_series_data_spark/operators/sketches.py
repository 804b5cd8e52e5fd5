"""Mergeable-sketch aggregation (beyond-reference): HLL distinct-count
rollups and heavy-hitter mining.

The reference profiles cardinality eagerly (``src/data/loader.py:197-207``
counts uniques in memory); at 100 TB the only viable shape is a
*mergeable sketch*: pre-aggregate a small binary summary per fine-grained
key (per day, per shard), persist it, and answer any coarser rollup by
merging sketches — never re-scanning the raw data. Spark ships Apache
DataSketches HLL natively (`hll_sketch_agg` / `hll_union_agg` /
`hll_sketch_estimate`), so the whole family stays JVM-side with map-side
partial aggregation.

Scale notes (100 TB):
- ``hll_partial``: one exchange on the fine keys; the shuffled payload is
  the fixed-size sketch (≈ 2^lgk bytes worst-case), not the values —
  map-side combine collapses each partition to |groups| sketches first.
- ``hll_merge_estimate``: runs over the *sketch table* (|fine groups|
  rows), never the corpus. A year of daily sketches is 365 rows; every
  ad-hoc date-range distinct-count is a metadata-scale job.
- ``heavy_hitters``: groupBy on the tracked column with map-side combine;
  the support filter and ranking run on the aggregated frame (bounded by
  column cardinality). For columns whose cardinality itself explodes,
  ``heavy_hitters_approx`` (Spark's frequent-items sketch) keeps the
  driver result bounded by 1/support regardless of cardinality.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.lineage import reuse


def hll_partial(
    df: DataFrame,
    group_cols: tuple[str, ...],
    value_col: str,
    lgk: int = 12,
    sketch_col: str = "hll_sketch",
) -> DataFrame:
    """Per-group HLL sketch of ``value_col`` as a binary column.

    The output is a *persistable index*: write it partitioned by the
    fine keys and any coarser distinct-count becomes a merge over it
    (see ``hll_merge_estimate``). ``lgk`` trades size for accuracy
    (relative error ≈ 1.04 / sqrt(2^lgk); lgk=12 → ~1.6%).
    """
    return df.groupBy(*group_cols).agg(
        F.hll_sketch_agg(F.col(value_col), F.lit(lgk)).alias(sketch_col)
    )


def hll_merge_estimate(
    partials: DataFrame,
    rollup_cols: tuple[str, ...],
    sketch_col: str = "hll_sketch",
    out_col: str = "approx_distinct",
) -> DataFrame:
    """Merge per-fine-key sketches up to ``rollup_cols`` and estimate.

    Runs entirely over the sketch table — the raw data is never touched,
    which is the point: distinct counts lose their one-pass obstacle once
    the partial is a mergeable summary instead of an exact set.
    """
    return partials.groupBy(*rollup_cols).agg(
        F.hll_sketch_estimate(F.hll_union_agg(F.col(sketch_col))).alias(out_col)
    )


def heavy_hitters(
    df: DataFrame,
    col: str,
    min_frac: float = 0.01,
    k: int = 20,
) -> DataFrame:
    """Exact heavy hitters: values of ``col`` whose frequency is at least
    ``min_frac`` of all rows, top-``k`` by count (ties broken by value for
    determinism). One corpus exchange (map-side combined groupBy). The
    grand total comes from a 1-row agg broadcast back onto the counts
    frame — NOT a partitionless window: for a near-unique column the
    distinct-value frame is corpus-scale, and the support filter can only
    run after the total, so a single-partition window over it would be a
    100 TB funnel. The remaining rank window runs AFTER the ``min_frac``
    filter, whose survivor set is ≤ 1/min_frac rows by pigeonhole —
    provably bounded regardless of column cardinality.
    """
    counts = df.groupBy(F.col(col).alias("value")).agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = counts.agg(F.sum("n").alias("total"))
    wrank = Window.orderBy(F.col("n").desc(), F.col("value"))
    return (
        counts.crossJoin(F.broadcast(tot))
        .withColumn("frac", F.col("n") / F.col("total"))
        .where(F.col("frac") >= min_frac)
        .withColumn("rank", F.row_number().over(wrank))
        .where(F.col("rank") <= k)
        .select("rank", "value", "n", "frac")
    )


def heavy_hitters_approx(
    df: DataFrame,
    col: str,
    support: float = 0.01,
) -> DataFrame:
    """Approximate frequent items via Spark's false-positive-permitting
    frequent-items sketch (`DataFrame.stat.freqItems`, Karp et al.): one
    pass, driver result bounded by ~1/support items regardless of column
    cardinality. Superset guarantee: every value with frequency >
    ``support`` appears; some below-threshold values may too. Returns one
    row per candidate item (exploded, sorted for determinism).
    """
    freq = df.stat.freqItems([col], support)
    item_col = f"{col}_freqItems"
    return (
        freq.select(F.explode(F.col(item_col)).alias("value"))
        .orderBy("value")
    )


def histogram_partial(
    df: DataFrame,
    group_cols: tuple[str, ...],
    value_col: str,
    lo: float,
    hi: float,
    n_bins: int = 100,
) -> DataFrame:
    """Fixed-bin histogram partial — the mergeable counterpart of a
    quantile sketch with a DETERMINISTIC merge: bin counts are exact
    longs, so rollups (and their oracle twins) are bit-reproducible,
    unlike percentile_approx whose merged sketch is traversal-dependent.
    Out-of-range values clamp into the edge bins. One map-side-combined
    shuffle of |groups|·n_bins rows."""
    v = F.col(value_col).cast("double")
    b = F.least(
        F.greatest(
            F.floor((v - F.lit(lo)) / F.lit(hi - lo) * F.lit(n_bins)).cast("int"),
            F.lit(0),
        ),
        F.lit(n_bins - 1),
    )
    return (
        df.where(v.isNotNull())
        .groupBy(*group_cols, b.alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def histogram_merge(
    partials: DataFrame, rollup_cols: tuple[str, ...]
) -> DataFrame:
    """Merge histogram partials up to coarser keys: a sum over the
    |fine groups|·n_bins partial table — never the raw data."""
    return partials.groupBy(*rollup_cols, "bin").agg(
        F.sum("n").alias("n")
    )


def quantiles_from_histogram(
    hist: DataFrame,
    group_cols: tuple[str, ...],
    qs: tuple[float, ...],
    lo: float,
    hi: float,
    n_bins: int = 100,
) -> DataFrame:
    """Per-group quantile estimates from a (merged) histogram: linear
    interpolation inside the target bin, error bounded by bin width.
    Runs entirely over the histogram frame (|groups|·n_bins rows): a
    per-group cumulative window, a tiny literal q dim, and a one-row-per-
    (group, q) bin pick. Requires 0 < q <= 1."""
    width = (hi - lo) / n_bins
    wcum = (
        Window.partitionBy(*group_cols)
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wtot = Window.partitionBy(*group_cols)
    staged = hist.select(
        *group_cols,
        "bin",
        "n",
        F.sum("n").over(wcum).alias("cum"),
        F.sum("n").over(wtot).alias("total"),
    )
    qdim = F.explode(F.array(*[F.lit(float(q)) for q in qs])).alias("q")
    exploded = staged.select(*group_cols, "bin", "n", "cum", "total", qdim)
    target = F.col("q") * F.col("total")
    in_bin = (F.col("cum") >= target) & ((F.col("cum") - F.col("n")) < target)
    est = F.lit(lo) + (
        F.col("bin") + (target - (F.col("cum") - F.col("n"))) / F.col("n")
    ) * F.lit(width)
    return exploded.where(in_bin).select(
        *group_cols, "q", est.alias("quantile_est")
    )


def sliding_distinct(
    df: DataFrame,
    ts_col: str = "ts",
    value_col: str = "user_id",
    bucket: str = "hour",
    window_buckets: int = 24,
    lgk: int = 12,
) -> DataFrame:
    """Sliding-window distinct counts (e.g. 24h rolling active users) via
    per-bucket HLL partials merged over a window frame — the composition
    that makes rolling COUNT(DISTINCT) tractable at 100 TB: an exact
    windowed distinct needs per-frame sets (O(window·cardinality) state,
    recomputed per row); here the corpus is touched ONCE for the hourly
    partials and the slide is `hll_union_agg` over ≤``window_buckets``
    fixed-size sketches per output row.

    The ordered window runs unpartitioned, but over the |buckets|-row
    sketch table (aggregate-sized, like the sweep-line carry frame). The
    frame counts ROWS: densify the bucket spine first if the series can
    have empty buckets.
    """
    b = F.date_trunc(bucket, F.col(ts_col)).alias("bucket")
    parts = df.groupBy(b).agg(
        F.hll_sketch_agg(F.col(value_col), F.lit(lgk)).alias("__sk")
    )
    # |buckets|-row frame: the unpartitioned window is aggregate-sized
    w = (
        Window.orderBy("bucket")
        .rowsBetween(-(window_buckets - 1), Window.currentRow)
    )
    return parts.select(
        "bucket",
        F.hll_sketch_estimate(F.hll_union_agg("__sk").over(w)).alias(
            "approx_distinct_window"
        ),
    )


def hll_intersect_estimate(
    a: DataFrame,
    b: DataFrame,
    value_col: str,
    lgk: int = 12,
) -> DataFrame:
    """Estimate |A|, |B|, |A∪B|, |A∩B| and the Jaccard of two key sets
    by inclusion-exclusion over HLL sketches (∩ = |A|+|B|−|A∪B|) — the
    join-cardinality probe a planner or a data-contract check runs
    BEFORE committing to an expensive join: three sketch aggregations,
    never a join of the inputs.

    Inclusion-exclusion inherits both sketches' error, so small
    intersections of large sets can read noisy (clamped at ≥ 0) — that is
    inherent to HLL intersection and exactly the fidelity a cardinality
    probe needs.
    """
    # ONE aggregation per input: the union comes from the scalar
    # hll_union over the two already-built sketches (re-aggregating the
    # inputs for the union branch would double the corpus scans)
    sa = a.agg(F.hll_sketch_agg(F.col(value_col), F.lit(lgk)).alias("ska"))
    sb = b.agg(F.hll_sketch_agg(F.col(value_col), F.lit(lgk)).alias("skb"))
    out = sa.crossJoin(sb).select(
        F.hll_sketch_estimate("ska").alias("n_a"),
        F.hll_sketch_estimate("skb").alias("n_b"),
        F.hll_sketch_estimate(F.hll_union("ska", "skb")).alias("n_union"),
    )
    inter = F.greatest(
        F.col("n_a") + F.col("n_b") - F.col("n_union"), F.lit(0)
    )
    return out.select(
        "n_a",
        "n_b",
        "n_union",
        inter.alias("n_intersect"),
        (inter / F.col("n_union")).alias("jaccard_est"),
    )


def sliding_distinct_exact(
    df: DataFrame,
    ts_col: str = "ts",
    value_col: str = "user_id",
    window_buckets: int = 24,
) -> DataFrame:
    """EXACT trailing-24h rolling distinct count — the oracle-checkable
    twin of `sliding_distinct` (round 10, VERDICT r09 ask #7). The HLL
    form stays the ultra-wide-window/billion-cardinality path; this
    difference-array decomposition is exact AND scales: a value present
    at hour h covers window-end hours h … h+min(gap_to_next, W)−1, so
    each presence run contributes +1 at h and −1 at h+min(gap, W), and
    the running sum of deltas at H equals the exact distinct count over
    (H−W … H]. The corpus collapses ONCE to the distinct (value, hour)
    frame; everything after runs on aggregate-sized frames, and the
    global running sum is chunked (percentile cuts → per-chunk cumsum →
    broadcast offsets; offsets use SUM of per-chunk totals, so negative
    deltas are safe) — no partitionless WindowExec, no per-frame sets.

    Plan shape (round 12): the ±1 deltas are emitted MAP-SIDE from one
    pass over the presence frame (a 2-element inline-array explode), the
    per-hour bucket label rides the same tiny groupBy as the delta sum
    (min over the +1 branch ≡ the old separate `present` rollup), and
    the resulting |time-points|-row frame is lineage-broken before the
    chunked cumsum multi-references it — the corpus rollup executes
    ONCE where the union/present/totals form re-executed it 4×.
    """
    hour = F.floor(
        F.unix_micros(F.col(ts_col).cast("timestamp"))
        / F.lit(3_600_000_000.0)
    ).cast("long")
    rolled = df.groupBy(
        F.col(value_col).alias("__u"), hour.alias("__h")
    ).agg(F.min(F.date_trunc("hour", F.col(ts_col))).alias("__b"))
    wnext = Window.partitionBy("__u").orderBy("__h")
    cov = rolled.withColumn("__next", F.lead("__h").over(wnext)).select(
        "__h",
        "__b",
        F.least(
            F.coalesce(
                F.col("__next") - F.col("__h"), F.lit(window_buckets)
            ),
            F.lit(window_buckets),
        ).alias("__len"),
    )
    # map-side ±1 emission: one inline explode replaces the two-branch
    # union (whose children each re-executed the rolled→lead lineage);
    # the -1 element carries a NULL bucket so min(__pb) per time point
    # reproduces the old per-hour `present` rollup — a +1 row exists at
    # __t iff some value is present at hour __t
    deltas = (
        cov.select(
            F.inline(
                F.array(
                    F.struct(
                        F.col("__h").alias("__t"),
                        F.lit(1).alias("__d"),
                        F.col("__b").alias("__pb"),
                    ),
                    F.struct(
                        (F.col("__h") + F.col("__len")).alias("__t"),
                        F.lit(-1).alias("__d"),
                        F.lit(None).cast("timestamp").alias("__pb"),
                    ),
                )
            )
        )
        .groupBy("__t")
        .agg(
            F.sum("__d").cast("long").alias("__delta"),
            F.min("__pb").alias("__bmin"),
        )
    )
    # the cut, the within-chunk window and the totals share one delta rollup
    deltas = reuse(deltas)
    from .chunked import chunk_offsets, range_chunk

    ch = range_chunk(deltas, "__t", 32)
    w_in = (
        Window.partitionBy("__chunk")
        .orderBy("__t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    within = ch.withColumn("__cs_in", F.sum("__delta").over(w_in))
    totals = within.groupBy("__chunk").agg(
        F.sum("__delta").alias("__tot")
    )
    offsets = chunk_offsets(totals, ["__tot"])
    cum = within.join(F.broadcast(offsets), "__chunk").select(
        "__t",
        "__bmin",
        (F.col("__tot_off") + F.col("__cs_in")).alias("__cnt"),
    )
    # hours present in the corpus are exactly the time points the +1
    # branch labeled (non-null __bmin) — the old present⋈cum inner join
    return cum.where(F.col("__bmin").isNotNull()).select(
        F.col("__bmin").alias("bucket"),
        F.col("__cnt").cast("long").alias("users_24h"),
    )


def windowed_distinct_exact(
    df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    value_col: str = "user_id",
    window_s: int = 21600,
) -> DataFrame:
    """EXACT per-key distinct + first-ever-seen counts over tumbling
    event-time windows: for each (window, key) report n_events, the
    exact distinct count of ``value_col``, and n_new — how many of those
    values appear in this window for the FIRST time ever for that key
    (the "new vs returning users per 6h window" panel). The batch twin
    of a watermarked streaming windowed-dedup aggregation: under a
    watermark every on-time row lands in the same tumbling window as
    here, so the streaming operator's emitted rows match this batch
    result on closed windows.

    Scale shape: the two-phase exact-distinct pattern —
    groupBy(key, window, value) first (the shuffle key carries the
    value, so no per-group set state and no OOM-able collect_set), then
    the distinct count is a plain count per (key, window) and the
    first-seen spine is a re-aggregate of the SAME frame
    (min window per (key, value)) — ONE corpus scan feeds both, one
    |key·window·distinct|-sized intermediate, map-side-combined
    everywhere. `sliding_distinct_exact` handles the rolling variant;
    this is the tumbling/new-user one.

    Nonnegative-epoch assumption (the wavelet_energy / hurst_exponent
    hour-grid contract): the window id divides epoch micros with Spark
    ``F.floor`` (floor semantics) while the SQL twin uses ``//``
    (truncates toward zero on negatives), so the grids agree only for
    timestamps at or after 1970-01-01 — pre-epoch rows are out of
    contract for the whole grid family.
    """
    if int(window_s) <= 0:
        raise ValueError(
            f"windowed_distinct_exact: window_s={window_s} must be positive"
        )
    wus = int(window_s) * 1_000_000
    win = (
        (F.floor(F.unix_micros(F.col(ts_col)) / F.lit(wus)) * F.lit(window_s))
        .cast("timestamp")
        .alias("window_start")
    )
    pres = df.groupBy(
        F.col(key_col).alias("__k"), win, F.col(value_col).alias("__v")
    ).agg(F.count(F.lit(1)).cast("long").alias("__n"))
    # both branches re-aggregate this |key·window·distinct| frame
    pres = reuse(pres)
    per_win = pres.groupBy("__k", "window_start").agg(
        F.sum("__n").cast("long").alias("n_events"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
    )
    firsts = (
        pres.groupBy(F.col("__k").alias("__k2"), F.col("__v").alias("__v2"))
        .agg(F.min("window_start").alias("__first_w"))
        .groupBy("__k2", "__first_w")
        .agg(F.count(F.lit(1)).cast("long").alias("n_new"))
    )
    out = per_win.join(
        firsts,
        (F.col("__k") == F.col("__k2"))
        & (F.col("window_start") == F.col("__first_w")),
        "left",
    ).drop("__k2", "__first_w")
    return out.select(
        F.col("__k").alias(key_col),
        "window_start",
        "n_events",
        "n_distinct",
        F.coalesce(F.col("n_new"), F.lit(0)).cast("long").alias("n_new"),
    ).orderBy(key_col, "window_start")
