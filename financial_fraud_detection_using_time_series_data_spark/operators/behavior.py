"""Per-entity behavioral profiles (beyond-reference): category-mix
entropy/concentration, RFM segmentation, inter-arrival burstiness.

The reference's engineered features are per-transaction (expanding
windows over one user's history — ``src/features/engineer.py:72-141``);
these operators summarize each entity's WHOLE behavior into one profile
row — the classic account-level fraud/marketing feature set that sits
next to the transaction-level features in a real scoring stack.

Scale notes (100 TB):
- ``category_entropy``: two chained hash aggregates on prefix keys
  ((entity, cat) → entity). The first shuffle is the only corpus-sized
  one and is map-side combined; the second operates on the distinct
  (entity, cat) frame, bounded by |entities|·|cats|, shuffling on a
  strict prefix of the first key. Entropy/HHI/top-share come from the
  log-sum identity H = ln(N) − Σ n·ln(n)/N, so no per-entity window or
  second pass over raw rows is ever needed.
- ``rfm_segment``: one corpus-sized groupBy(entity); the three axis
  ranks over the per-entity AGGREGATE share a SINGLE cut-point/count
  pass (one percentile_approx agg over all three keys), then an
  exact-count-driven adaptive plan: ≤2M entities rank in one bounded
  task per axis, more take the 32-chunk decomposition with one
  grouping-sets marginal pass. Three chained per-chunk row_number
  windows, no unbounded sort, no join back on the entity key — nothing
  after the first groupBy shuffles more than |entities| rows.
- ``interarrival_stats``: one exchange on entity for the lag window;
  the follow-up groupBy(entity) hashes on the same key so the exchange
  is reused (plan-pinned in tests). Output is |entities| rows.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.lineage import reuse
from ..functions.local import local_frame

# single-bounded-sort budget for rfm_segment's adaptive rank plan: a
# profile at or below this many entities ranks each axis in one task
# (a ≤2M-row sort is tens of MB — well inside one executor); above it
# the 32-chunk decomposition kicks in. Module-level so tests can force
# the chunked branch on small fixtures.
RFM_ROWS_PER_CHUNK = 2_000_000


def category_entropy(
    df: DataFrame,
    entity_col: str = "user_id",
    cat_col: str = "event_type",
) -> DataFrame:
    """Category-mix concentration per entity: Shannon entropy (nats),
    Herfindahl–Hirschman index, distinct-category count, and top-category
    share of each entity's categorical activity distribution.

    A stolen account shifts its merchant/event mix: entropy spikes when
    activity diversifies, HHI → 1 when a fraud script hammers one
    action. Uses H = ln(N) − (Σ n·ln n)/N so both stats fold in ONE
    aggregation over the (entity, cat) counts — no windows, no second
    scan.
    """
    counts = df.groupBy(entity_col, cat_col).agg(F.count(F.lit(1)).alias("n"))
    return _entropy_from_counts(counts, entity_col)


def _entropy_from_counts(counts: DataFrame, entity_col: str) -> DataFrame:
    """Entropy/HHI fold over a prepared per-(entity, category) count
    frame — split out so `behavior_mart` can feed it from its shared
    corpus rollup instead of a second corpus scan."""
    n = F.col("n").cast("double")
    prof = counts.groupBy(entity_col).agg(
        F.sum("n").alias("__tot"),
        F.sum(n * F.log(n)).alias("__nlogn"),
        F.sum(n * n).alias("__nsq"),
        F.count(F.lit(1)).alias("n_categories"),
        F.max("n").alias("__maxn"),
    )
    tot = F.col("__tot").cast("double")
    return prof.select(
        entity_col,
        F.col("__tot").cast("long").alias("n_events"),
        F.col("n_categories").cast("long").alias("n_categories"),
        (F.log(tot) - F.col("__nlogn") / tot).alias("entropy"),
        (F.col("__nsq") / (tot * tot)).alias("hhi"),
        (F.col("__maxn").cast("double") / tot).alias("top_share"),
    )


def rfm_segment(
    df: DataFrame,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    n_tiles: int = 5,
) -> DataFrame:
    """Recency/Frequency/Monetary profile + quintile scores per entity.

    Recency = days between the entity's last event and the dataset's
    max timestamp (computed inside, broadcast as a 1-row dim, so the
    operator is deterministic for an immutable snapshot); frequency =
    event count; monetary = value sum. Each axis gets an ntile score
    (1..n_tiles, 5=best: most recent, most frequent, highest spend),
    tie-broken by entity id so the segmentation is total-order
    deterministic. ``rfm_score`` concatenates the three digits.

    Scale shape: NO unbounded one-task sort. All three axes share ONE
    cut-point/count pass (a single percentile_approx agg over the three
    sort keys + the exact total). That exact count then drives an
    AQE-style runtime decision: a profile within the 2M-row single-sort
    budget ranks each axis in one BOUNDED task (offsets trivially
    zero, no further stats job); a larger profile takes the 32-chunk
    decomposition, with every axis's per-chunk counts from ONE
    grouping-sets pass and the exclusive offsets applied as literal
    maps. Either way the three row_number windows CHAIN over the same
    frame — no per-axis percentile scan, no per-axis totals pass, and
    no join back on the entity key (at 100 TB those three entity joins
    would each shuffle |entities| rows). The ntile id is then computed
    CLOSED-FORM from (row_number, total): with q = ⌊c/n⌋ and
    r = c mod n, the first r tiles hold q+1 rows and the rest hold q —
    exactly SQL ntile, so the output is bit-identical to the
    single-window form at every profile size.
    """
    # decimal monetary: order-invariant exact sum, so the m_score ntile
    # sort order is deterministic even when two entities' sums tie.
    # ONE corpus scan: the dataset as-of instant is max(last_ts) over
    # the per-entity aggregate (identical to a global max(ts)), so no
    # second corpus pass / broadcast-join branch is ever planned.
    agg = df.groupBy(entity_col).agg(
        F.max(ts_col).alias("last_ts"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.col(value_col).cast("decimal(25,2)")).alias("monetary_dec"),
    )
    return _rfm_from_profile(agg, entity_col, n_tiles)


def _rfm_from_profile(
    agg: DataFrame, entity_col: str, n_tiles: int = 5
) -> DataFrame:
    """Rank/score stage of `rfm_segment` over a prepared per-entity
    (last_ts, frequency, monetary_dec) profile frame — split out so
    `behavior_mart` can derive the profile from its shared (entity,
    category) corpus rollup instead of recomposing the full-corpus
    groupBy (a second corpus scan) inside the mart. Decimal sums and
    long counts fold hierarchically without loss, so the output is
    bit-identical either way (test-pinned).
    """
    # 5 = best on every axis: most recent (smallest recency), most
    # frequent, highest spend. Entity id breaks ties → deterministic.
    # Chunked global row numbers instead of partitionless ntile windows;
    # the chunk key is a monotone (non-strict) image of each axis's sort
    # key, so equal keys share a chunk and per-chunk order is exact.
    # the cut points, the marginal counts and the window chain share one groupBy
    agg = reuse(agg)
    n_chunks = 32
    fracs = [i / n_chunks for i in range(1, n_chunks)]
    # second-resolution last-event instant: recency_days is an exact
    # strictly-DECREASING function of this long, so it serves as the
    # recency axis's chunk key directly (recency desc ⇔ __kl asc)
    keyed = agg.select(
        "*",
        F.col("last_ts").cast("long").alias("__kl"),
        F.col("monetary_dec").cast("double").alias("__km"),
    )
    # ONE pass over the profile yields the as-of instant, the cut points
    # for ALL THREE axes, and the exact total (was: a second corpus scan
    # for the as-of max plus three independent global_rank calls = three
    # percentile scans + three totals passes + three joins back on the
    # entity key). Collected: 3·(n_chunks−1) scalars + two scalars —
    # bounded by construction, so the cuts become LITERAL predicates and
    # the chunk ids need no crossJoin at all.
    cuts_row = keyed.agg(
        F.max("__kl").alias("__asof_s"),
        F.percentile_approx("__kl", fracs, 10000).alias("__cuts_r"),
        F.percentile_approx("frequency", fracs, 10000).alias("__cuts_f"),
        F.percentile_approx("__km", fracs, 10000).alias("__cuts_m"),
        F.count(F.lit(1)).cast("long").alias("__n"),
    ).collect()[0]
    n_total = int(cuts_row["__n"] or 0)
    asof_s = int(cuts_row["__asof_s"] or 0)
    keyed = keyed.select(
        entity_col,
        ((F.lit(asof_s) - F.col("__kl")) / F.lit(86400.0)).alias(
            "recency_days"
        ),
        F.col("frequency").cast("long").alias("frequency"),
        "monetary_dec",
        "__kl",
        "__km",
    )

    def _chunk(cut_vals, key: Column) -> Column:
        # all-NULL-key degenerate input → percentile_approx returns NULL
        # cut points → everything in chunk 0 (range_chunk parity); a
        # NULL key row filters to size 0 (same chunk-0 placement)
        if not cut_vals or any(c is None for c in cut_vals):
            return F.lit(0)
        arr = F.array(*[F.lit(c) for c in cut_vals])
        return F.coalesce(F.size(F.filter(arr, lambda c: c < key)), F.lit(0))

    # exact-count-driven adaptivity (the same decision AQE makes from
    # runtime stats, taken here from the cut-point pass's exact count):
    # a profile that fits one bounded sort task skips chunking AND the
    # marginal-count job entirely — its offsets are trivially zero —
    # while a 100 TB-scale profile (|entities| > RFM_ROWS_PER_CHUNK) takes
    # the 32-chunk decomposition. Either way no join, no unbounded
    # one-task sort: the single-chunk sort is capped at ROWS_PER_CHUNK
    # rows by construction (RFM_ROWS_PER_CHUNK is module-level so the
    # parity suite can force the chunked branch on small fixtures).
    if n_total <= RFM_ROWS_PER_CHUNK:
        # degenerate chunk key, written as a data-dependent expression
        # (frequency is a count < 2^62, so the shift is always 0) because
        # a foldable form — Catalyst simplifies even non-null·0 — would
        # be optimized away and re-introduce the partitionless WindowExec
        # this operator exists to avoid; the resulting single hash
        # partition is BOUNDED by the ≤RFM_ROWS_PER_CHUNK gate above
        zero = F.shiftright(F.col("frequency"), 62).cast("int")
        chunked = (
            keyed.withColumn("__ch_r", zero)
            .withColumn("__ch_f", zero)
            .withColumn("__ch_m", zero)
            .drop("__kl", "__km")
        )
        counts: dict[str, dict[int, int]] = {
            a: {0: n_total} for a in ("__ch_r", "__ch_f", "__ch_m")
        }
    else:
        chunked = (
            keyed.withColumn("__ch_r", _chunk(cuts_row["__cuts_r"], F.col("__kl")))
            .withColumn("__ch_f", _chunk(cuts_row["__cuts_f"], F.col("frequency")))
            .withColumn("__ch_m", _chunk(cuts_row["__cuts_m"], F.col("__km")))
            .drop("__kl", "__km")
        )
        # per-chunk counts for every axis from ONE grouping-sets pass; the
        # result is ≤ 3·n_chunks rows — bounded by construction — so the
        # exclusive offsets are computed driver-side and joined back as
        # LITERAL maps (zero joins, zero extra jobs in the final plan)
        marg_rows = (
            chunked.groupingSets(
                [["__ch_r"], ["__ch_f"], ["__ch_m"]], "__ch_r", "__ch_f", "__ch_m"
            )
            .agg(F.count(F.lit(1)).alias("__cnt"), F.grouping_id().alias("__gid"))
            .collect()
        )
        gid_axis = {3: "__ch_r", 5: "__ch_f", 6: "__ch_m"}
        counts = {a: {} for a in gid_axis.values()}
        for row in marg_rows:
            axis = gid_axis[row["__gid"]]
            counts[axis][int(row[axis])] = int(row["__cnt"])

    def _off_expr(axis: str) -> Column:
        acc, offs = 0, {}
        for ch in sorted(counts[axis]):
            offs[ch] = acc
            acc += counts[axis][ch]
        if not offs:
            return F.lit(0).cast("long")
        pairs = []
        for ch, off in offs.items():
            pairs += [F.lit(ch), F.lit(off).cast("long")]
        return F.element_at(F.create_map(*pairs), F.col(axis))

    # three CHAINED per-chunk windows over the same frame — each is
    # |chunks| parallel tasks; global rank = literal-map offset + within
    w_r = Window.partitionBy("__ch_r").orderBy(
        F.col("recency_days").desc(), F.col(entity_col).asc()
    )
    w_f = Window.partitionBy("__ch_f").orderBy(
        F.col("frequency").asc(), F.col(entity_col).asc()
    )
    w_m = Window.partitionBy("__ch_m").orderBy(
        F.col("monetary_dec").asc(), F.col(entity_col).asc()
    )
    ranked = (
        chunked.withColumn("__in_r", F.row_number().over(w_r))
        .withColumn("__in_f", F.row_number().over(w_f))
        .withColumn("__in_m", F.row_number().over(w_m))
        .withColumn("__rn_r", _off_expr("__ch_r") + F.col("__in_r"))
        .withColumn("__rn_f", _off_expr("__ch_f") + F.col("__in_f"))
        .withColumn("__rn_m", _off_expr("__ch_m") + F.col("__in_m"))
        .withColumn("__n", F.lit(n_total).cast("long"))
    )

    def _ntile(rn: Column, c: Column) -> Column:
        # closed-form SQL ntile from global row number + total count:
        # first (c mod n) tiles take ⌊c/n⌋+1 rows, the rest ⌊c/n⌋
        n = F.lit(int(n_tiles))
        q = F.floor(c / n).cast("long")
        r = (c % n).cast("long")
        big = q + F.lit(1)
        return (
            F.when(rn <= r * big, F.floor((rn - 1) / big) + F.lit(1))
            .otherwise(
                r
                + F.floor((rn - r * big - 1) / F.greatest(q, F.lit(1)))
                + F.lit(1)
            )
            .cast("int")
        )

    scored = ranked.select(
        entity_col,
        "recency_days",
        "frequency",
        F.col("monetary_dec").cast("double").alias("monetary"),
        _ntile(F.col("__rn_r"), F.col("__n")).alias("r_score"),
        _ntile(F.col("__rn_f"), F.col("__n")).alias("f_score"),
        _ntile(F.col("__rn_m"), F.col("__n")).alias("m_score"),
    )
    return scored.withColumn(
        "rfm_score",
        (
            F.col("r_score") * F.lit(100)
            + F.col("f_score") * F.lit(10)
            + F.col("m_score")
        ).cast("int"),
    )


def interarrival_stats(
    df: DataFrame,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    *tiebreak: str,
) -> DataFrame:
    """Inter-arrival-time profile per entity: mean/std/min/max gap in
    seconds plus two dimensionless regularity stats — the coefficient of
    variation (σ/μ; 1 for a Poisson process) and the burstiness measure
    B = (σ−μ)/(σ+μ) of Goh & Barabási (EPL 81, 2008): −1 for a perfectly
    periodic stream, 0 for Poisson, → 1 for extreme burst-silence
    alternation. Card-testing scripts are near-periodic (B ≪ 0); human
    activity is bursty (B > 0) — the gap profile separates them.

    Entities with fewer than 2 events have no gaps and are excluded.
    Sample (n−1) std; single-gap entities get std 0 via coalesce so the
    ratio stats stay defined.
    """
    w = Window.partitionBy(entity_col).orderBy(ts_col, *tiebreak)
    gaps = df.select(
        F.col(entity_col),
        (
            F.col(ts_col).cast("double") - F.lag(F.col(ts_col).cast("double")).over(w)
        ).alias("gap_s"),
    ).where(F.col("gap_s").isNotNull())
    prof = gaps.groupBy(entity_col).agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.avg("gap_s").alias("mean_gap_s"),
        F.coalesce(F.stddev_samp("gap_s"), F.lit(0.0)).alias("std_gap_s"),
        F.min("gap_s").alias("min_gap_s"),
        F.max("gap_s").alias("max_gap_s"),
    )
    mu, sd = F.col("mean_gap_s"), F.col("std_gap_s")
    return prof.select(
        entity_col,
        F.col("n_gaps").cast("long").alias("n_gaps"),
        "mean_gap_s",
        "std_gap_s",
        "min_gap_s",
        "max_gap_s",
        F.when(mu != 0.0, sd / mu).otherwise(F.lit(0.0)).alias("cv"),
        F.when((sd + mu) != 0.0, (sd - mu) / (sd + mu))
        .otherwise(F.lit(0.0))
        .alias("burstiness"),
    )


def gini(
    df: DataFrame,
    group_col: str = "event_type",
    value_col: str = "value",
    id_col: str = "event_id",
    n_chunks: int = 32,
) -> DataFrame:
    """Gini concentration coefficient of ``value_col`` within each group
    — 0 when every member contributes equally, → 1 when one member holds
    everything. The population-level concentration counterpart of the
    per-entity HHI in `category_entropy` (is fraud loss concentrated in
    a few accounts? is revenue concentrated in a few customers?).

    Uses the rank formulation G = (2·Σ rᵢxᵢ)/(n·Σxᵢ) − (n+1)/n over
    values sorted ascending (rᵢ = 1..n, ties broken by ``id_col`` —
    the formula is tie-order invariant because equal x share any rank
    permutation's sum).

    Parallel-rank decomposition: a plain per-group rank window collapses
    each group into ONE task, and Gini's natural group columns are
    LOW-cardinality (6 event types, a handful of segments) — measured
    ×17.9 at 10M rows while every other profile op stayed ≤×3.4. So the
    per-group rank is decomposed with the `chunked` machinery instead:
    one `percentile_approx` pass cuts the VALUE axis into ``n_chunks``
    ranges (equal values share a chunk), `row_number` runs per (group,
    chunk) — |groups|·|chunks| parallel tasks — and each chunk's rank
    offset within its group comes from a window over the tiny
    (group, chunk) totals frame. Σrx then folds exactly:
    Σ (offset + local_r)·x = offset·Σx_chunk + Σ local_r·x. All partials
    are decimal-exact, so the result is bit-identical to the single-
    window form (test-pinned) and reduction-order invariant. Negative
    values are invalid for Gini and excluded; zero-sum groups yield NULL.
    """
    from .chunked import range_chunk

    base = df.where(F.col(value_col) >= 0).select(
        group_col,
        F.col(value_col).alias("__v"),
        F.col(id_col).alias("__id"),
        F.col(value_col).cast("decimal(25,6)").alias("__x"),
    )
    chunked = range_chunk(base, "__v", n_chunks=n_chunks)
    w_local = Window.partitionBy(group_col, "__chunk").orderBy("__v", "__id")
    ranked = chunked.withColumn("__r", F.row_number().over(w_local))
    per_gc = ranked.groupBy(group_col, "__chunk").agg(
        F.count(F.lit(1)).alias("__n_gc"),
        F.sum("__x").alias("__sx_gc"),
        F.sum((F.col("__r") * F.col("__x")).cast("decimal(38,8)")).alias("__srx_gc"),
    )
    w_off = (
        Window.partitionBy(group_col)
        .orderBy("__chunk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = per_gc.withColumn(
        "__off", F.coalesce(F.sum("__n_gc").over(w_off), F.lit(0))
    )
    agg = off.groupBy(group_col).agg(
        F.sum("__n_gc").alias("n"),
        F.sum("__sx_gc").alias("__sx"),
        F.sum(
            (
                F.col("__srx_gc")
                + (F.col("__off") * F.col("__sx_gc")).cast("decimal(38,8)")
            ).cast("decimal(38,8)")
        ).alias("__srx"),
    )
    n = F.col("n").cast("double")
    sx = F.col("__sx").cast("double")
    srx = F.col("__srx").cast("double")
    return agg.select(
        group_col,
        F.col("n").cast("long").alias("n"),
        sx.alias("total"),
        F.when(sx > 0, F.lit(2.0) * srx / (n * sx) - (n + 1) / n).alias("gini"),
    )


def survival_curve(
    df: DataFrame,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    churn_gap_days: float = 7.0,
) -> DataFrame:
    """Kaplan–Meier retention curve over entity lifetimes: S(t) = Π_{tᵢ≤t}
    (1 − dᵢ/nᵢ), the standard estimator for "what fraction of accounts
    survive past day t" under right censoring.

    Lifetime = whole days between an entity's first and last event. An
    entity is a CHURN EVENT if its last event precedes the dataset's max
    timestamp by more than ``churn_gap_days`` (it had the chance to act
    again and didn't); otherwise the lifetime is CENSORED — still alive
    at the observation boundary, so it contributes to the at-risk count
    but not to the hazard. Ignoring censoring (the naive "fraction still
    active" curve) biases survival down; KM is the fix.

    Scale shape: one groupBy(entity) collapses the corpus to per-entity
    lifetimes; day-level aggregation reduces that to ≤|days| rows; the
    at-risk suffix count, the hazard, and the cumulative product (as
    exp Σ ln(1−d/n), since no engine has a product aggregate) are all
    windows over that tiny ordered frame. Output: one row per distinct
    lifetime day with (n_at_risk, n_events, n_censored, survival).
    """
    per = df.groupBy(entity_col).agg(
        F.min(ts_col).alias("__first"),
        F.max(ts_col).alias("__last"),
    )
    end = df.agg(F.max(ts_col).alias("__end"))
    life = per.join(F.broadcast(end)).select(
        F.floor(
            (F.col("__last").cast("long") - F.col("__first").cast("long"))
            / F.lit(86400.0)
        ).alias("day"),
        (
            (F.col("__end").cast("long") - F.col("__last").cast("long"))
            > F.lit(float(churn_gap_days) * 86400.0)
        ).cast("int").alias("churned"),
    )
    daily = life.groupBy("day").agg(
        F.sum("churned").alias("n_events"),
        F.sum(F.lit(1) - F.col("churned")).alias("n_censored"),
        F.count(F.lit(1)).alias("__n_day"),
    )
    w_all = Window.partitionBy()
    w_before = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_cum = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    staged = daily.select(
        "day",
        "n_events",
        "n_censored",
        (
            F.sum("__n_day").over(w_all)
            - F.coalesce(F.sum("__n_day").over(w_before), F.lit(0))
        ).alias("n_at_risk"),
    )
    hazard_ln = F.log(
        F.lit(1.0)
        - F.col("n_events").cast("double") / F.col("n_at_risk").cast("double")
    )
    return staged.select(
        F.col("day").cast("long").alias("day"),
        F.col("n_at_risk").cast("long").alias("n_at_risk"),
        F.col("n_events").cast("long").alias("n_events"),
        F.col("n_censored").cast("long").alias("n_censored"),
        F.when(
            F.col("n_events") < F.col("n_at_risk"),
            F.exp(F.sum(hazard_ln).over(w_cum)),
        ).otherwise(F.lit(0.0)).alias("survival"),
    )


def behavior_mart(
    df: DataFrame,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    cat_col: str = "event_type",
    value_col: str = "value",
    id_col: str = "event_id",
) -> DataFrame:
    """The daily per-entity profile mart: category entropy/HHI, RFM
    segmentation, and inter-arrival burstiness joined into ONE row per
    entity — what a scoring stack actually materializes each day.

    Composition shape: the entropy AND RFM branches share ONE corpus
    scan — a per-(entity, category) rollup (count, max ts, decimal
    value sum) materialized once, from which the entropy fold reads the
    counts directly and the RFM profile is a hierarchical re-aggregate
    (decimal sums and long counts fold losslessly, so the scores are
    bit-identical to `rfm_segment` on the raw events — test-pinned).
    Only the interarrival branch re-reads events: consecutive-gap stats
    are irreducibly event-level (a lag window), not derivable from any
    aggregate. All branches collapse to |entities|-sized frames before
    any join, so the joins move profile rows, never events. Inner-join
    on RFM (every entity has ≥1 event ⇒ RFM row always exists);
    interarrival is left-joined because single-event entities have no
    gaps — their burstiness columns stay NULL rather than fabricating a
    0 gap.
    """
    percat = df.groupBy(entity_col, cat_col).agg(
        F.count(F.lit(1)).alias("n"),
        F.max(ts_col).alias("__last"),
        F.sum(F.col(value_col).cast("decimal(25,2)")).alias("__mon"),
    )
    # both branches share one corpus groupBy
    percat = reuse(percat)
    ent = _entropy_from_counts(
        percat.select(entity_col, cat_col, "n"), entity_col
    )
    prof = percat.groupBy(entity_col).agg(
        F.max("__last").alias("last_ts"),
        F.sum("n").alias("frequency"),
        F.sum("__mon").alias("monetary_dec"),
    )
    rfm = _rfm_from_profile(prof, entity_col)
    inter = interarrival_stats(df, entity_col, ts_col, id_col)
    return (
        rfm.join(ent, entity_col, "inner")
        .join(inter, entity_col, "left")
        .select(
            entity_col,
            # RFM axes
            "recency_days",
            "frequency",
            "monetary",
            "rfm_score",
            # category mix
            "n_categories",
            "entropy",
            "hhi",
            "top_share",
            # pacing
            "n_gaps",
            "mean_gap_s",
            "cv",
            "burstiness",
        )
    )


def lorenz_deciles(
    df: DataFrame,
    group_col: str = "event_type",
    value_col: str = "value",
    id_col: str = "event_id",
    n_chunks: int = 32,
) -> DataFrame:
    """Lorenz curve at decile resolution per group: cumulative share of
    total value held by the bottom 10%, 20%, ... of members — the curve
    whose area deficit IS the Gini (`gini` reports the scalar; this
    reports the shape, which tells you WHERE the concentration lives:
    one whale vs a heavy top quintile).

    Deciles come from the same parallel-rank decomposition as `gini`
    (value-range chunks + exact offset fold — no one-task-per-group
    window): member i's decile is ⌈10·rᵢ/n⌉ over ascending value rank.
    That formula (not ntile) keeps the decile boundary a pure function
    of (rank, n), identical in any engine. Output: one row per (group,
    decile) with exact-decimal share sums and the cumulative share.
    """
    from .chunked import range_chunk

    base = df.where(F.col(value_col) >= 0).select(
        group_col,
        F.col(value_col).alias("__v"),
        F.col(id_col).alias("__id"),
        F.col(value_col).cast("decimal(25,6)").alias("__x"),
    )
    chunked = range_chunk(base, "__v", n_chunks=n_chunks)
    w_local = Window.partitionBy(group_col, "__chunk").orderBy("__v", "__id")
    ranked = chunked.withColumn("__lr", F.row_number().over(w_local))
    per_gc = ranked.groupBy(group_col, "__chunk").agg(
        F.count(F.lit(1)).alias("__n_gc")
    )
    w_off = (
        Window.partitionBy(group_col)
        .orderBy("__chunk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = per_gc.select(
        group_col,
        "__chunk",
        F.coalesce(F.sum("__n_gc").over(w_off), F.lit(0)).alias("__off"),
    )
    totals = base.groupBy(group_col).agg(F.count(F.lit(1)).alias("__n"))
    globaled = (
        ranked.join(offs, [group_col, "__chunk"])
        .join(F.broadcast(totals), group_col)
        .select(
            group_col,
            "__x",
            F.ceil(
                F.lit(10) * (F.col("__off") + F.col("__lr")) / F.col("__n")
            ).cast("int").alias("decile"),
        )
    )
    per_d = globaled.groupBy(group_col, "decile").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.sum("__x").alias("__sx"),
    )
    w_cum = (
        Window.partitionBy(group_col)
        .orderBy("decile")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy(group_col)
    tot = F.sum("__sx").over(w_all).cast("double")
    return per_d.select(
        group_col,
        "decile",
        F.col("n_members").cast("long").alias("n_members"),
        F.col("__sx").cast("double").alias("decile_total"),
        F.when(
            tot > 0, F.sum("__sx").over(w_cum).cast("double") / tot
        ).alias("cum_share"),
    )


def linear_trend(
    df: DataFrame,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Per-entity OLS trend of value over time: slope (per day),
    intercept (level at the entity's first event), and R² — "is this
    account's spend drifting up, and how cleanly?" The closed-form
    regression from sufficient statistics; no iteration, no MLlib.

    Time is centered per entity (x = seconds since the entity's FIRST
    event) so the decimal products stay small and the intercept is
    interpretable. All six sums (n, Σx, Σy, Σxy, Σx², Σy²) fold as
    decimals — reduction-order invariant — and the slope/R² assemble in
    one double expression. One window exchange for the per-entity min;
    the same-key groupBy reuses it. Entities with <2 events or zero
    time-variance yield NULL slope/R².
    """
    w = Window.partitionBy(entity_col)
    staged = df.select(
        entity_col,
        (
            F.col(ts_col).cast("long") - F.min(F.col(ts_col).cast("long")).over(w)
        ).alias("__xs"),
        F.col(value_col).cast("decimal(25,6)").alias("__y"),
    )
    x = F.col("__xs").cast("decimal(25,6)")
    agg = staged.groupBy(entity_col).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("__sx"),
        F.sum("__y").alias("__sy"),
        F.sum((x * F.col("__y")).cast("decimal(38,8)")).alias("__sxy"),
        F.sum((x * x).cast("decimal(38,8)")).alias("__sxx"),
        F.sum((F.col("__y") * F.col("__y")).cast("decimal(38,8)")).alias("__syy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("__sx").cast("double")
    sy = F.col("__sy").cast("double")
    sxy = F.col("__sxy").cast("double")
    sxx = F.col("__sxx").cast("double")
    syy = F.col("__syy").cast("double")
    vx = n * sxx - sx * sx
    vy = n * syy - sy * sy
    cov = n * sxy - sx * sy
    slope_s = F.when((F.col("n") >= 2) & (vx > 0), cov / vx)
    return agg.select(
        entity_col,
        F.col("n").cast("long").alias("n"),
        (slope_s * F.lit(86400.0)).alias("slope_per_day"),
        F.when(
            slope_s.isNotNull(), (sy - slope_s * sx) / n
        ).alias("intercept"),
        F.when(
            slope_s.isNotNull() & (vy > 0), cov * cov / (vx * vy)
        ).alias("r2"),
    )


def dormancy_reactivation(
    df: DataFrame,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    value_col: str = "value",
    dormant_days: float = 30.0,
) -> DataFrame:
    """Dormancy-reactivation events: every event that follows ≥
    ``dormant_days`` of silence on its account, with the dormancy length,
    how much history preceded it, and how the wake-up amount compares to
    the account's pre-dormancy average. A long-quiet account suddenly
    transacting — especially above its old average — is the classic
    account-takeover signature; it is invisible to plain velocity
    features because the rate BEFORE the gap was zero.

    One entity-key window exchange carries the lag, the strictly-past
    event count, and the decimal-exact expanding sum (for the prior
    average) — three frames, one shuffle. Output is only the
    reactivation rows.
    """
    w = Window.partitionBy(entity_col).orderBy(ts_col, id_col)
    past = w.rowsBetween(Window.unboundedPreceding, -1)
    gap_s = F.col(ts_col).cast("double") - F.lag(F.col(ts_col).cast("double")).over(w)
    staged = df.select(
        entity_col,
        F.col(id_col),
        F.col(ts_col),
        F.col(value_col).cast("double").alias("amount"),
        gap_s.alias("__gap_s"),
        F.count(F.lit(1)).over(past).alias("n_prior_events"),
        F.sum(F.col(value_col).cast("decimal(25,2)"))
        .over(past)
        .cast("double")
        .alias("__prior_sum"),
    )
    prior_avg = F.col("__prior_sum") / F.col("n_prior_events")
    return staged.where(
        F.col("__gap_s") >= F.lit(float(dormant_days) * 86400.0)
    ).select(
        entity_col,
        F.col(id_col).alias("reactivation_id"),
        F.col(ts_col).alias("reactivation_ts"),
        (F.col("__gap_s") / F.lit(86400.0)).alias("dormant_days"),
        F.col("n_prior_events").cast("long").alias("n_prior_events"),
        "amount",
        prior_avg.alias("prior_avg_amount"),
        F.when(prior_avg > 0, F.col("amount") / prior_avg).alias(
            "amount_vs_prior"
        ),
    )


def activity_streaks(
    df: DataFrame,
    entity_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Consecutive-day activity streaks per entity (the SQL
    islands-and-gaps problem): longest run of back-to-back active days,
    number of distinct runs, and total active days. Unbroken daily
    cadence is a strong bot/automation signature on accounts that
    humans operate in bursts; the longest-streak feature separates the
    two where total counts cannot.

    The island trick: with active days deduplicated and ranked per
    entity, ``epoch_day − row_number`` is constant within a consecutive
    run. One corpus-sized distinct on (entity, day); the rank window and
    both follow-up groupBys hash on the entity key, so the distinct's
    exchange is reused end-to-end.
    """
    days = df.select(
        entity_col,
        F.date_trunc("day", F.col(ts_col)).cast("long").alias("__d"),
    ).distinct()
    w = Window.partitionBy(entity_col).orderBy("__d")
    grouped = days.select(
        entity_col,
        (
            (F.col("__d") / 86400).cast("long") - F.row_number().over(w)
        ).alias("__island"),
    )
    streaks = grouped.groupBy(entity_col, "__island").agg(
        F.count(F.lit(1)).alias("__len")
    )
    return streaks.groupBy(entity_col).agg(
        F.max("__len").cast("long").alias("longest_streak_days"),
        F.count(F.lit(1)).cast("long").alias("n_streaks"),
        F.sum("__len").cast("long").alias("total_active_days"),
    )


def theil_sen_trend(
    df: DataFrame,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    max_points: int = 200,
) -> DataFrame:
    """Per-entity Theil–Sen robust trend: the MEDIAN of all pairwise
    slopes (v_j − v_i)/(t_j − t_i) — the standard outlier-resistant
    complement to `linear_trend` (a single fat-finger transaction can
    drag an OLS slope arbitrarily; it moves the pairwise-slope median
    by at most one rank).

    Pair generation is O(n²) per entity — so the operator first keeps
    only each entity's ``max_points`` MOST RECENT points (one window
    top-n, the deterministic cap that bounds per-entity pair volume at
    C(max_points, 2) whatever the skew; the cap is part of the contract
    and the oracle applies the identical rule).

    ONE exchange total: the top-n window partitions by entity and the
    same-key groupBy collects the capped point array riding that
    exchange; the C(n,2) slope enumeration + median then run as a
    vectorized Arrow pandas UDF over the per-entity arrays (an
    upper-triangle numpy broadcast, ≤ max_points² doubles per entity —
    measured ~5× faster than the equivalent Catalyst array-lambda
    chain, whose higher-order functions evaluate interpreted, outside
    whole-stage codegen). No self-join, no second shuffle.

    Bit parity with the SQL oracle: values carry exact scale-6 integer
    micro-units and times exact integer microseconds into the UDF, so
    diffs are exact int64; each slope is (dv/1e6 → correctly-rounded
    double) · 86400e6 / dt in that fixed order, and the median
    interpolates the two middle order statistics as
    lower + (upper−lower)·0.5 — DuckDB's quantile_cont form (NOT
    np.median's (a+b)/2). Pairs with equal timestamps are skipped
    (vertical slope); entities with no valid pair drop out.

    Returns (entity, n_pairs, slope_per_day).
    """
    from ..functions.exprs import epoch_us

    w = Window.partitionBy(entity_col).orderBy(
        F.col("__t").desc(), F.col("__v").desc()
    )
    recent = (
        df.select(
            entity_col,
            epoch_us(F.col(ts_col)).alias("__t"),
            F.col(value_col).cast("decimal(25,6)").alias("__v"),
        )
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= max_points)
        .drop("__rn")
    )
    pts = recent.groupBy(entity_col).agg(
        F.collect_list(
            F.struct(
                F.col("__t"),
                (F.col("__v") * 1_000_000).cast("long").alias("__vi"),
            )
        ).alias("__pts")
    )
    arrs = pts.select(
        entity_col,
        F.expr("transform(__pts, p -> p.__t)").alias("__ts"),
        F.expr("transform(__pts, p -> p.__vi)").alias("__vs"),
    )

    @F.pandas_udf("struct<n_pairs: long, slope_per_day: double>")
    def _theil(ts_s: pd.Series, vs_s: pd.Series) -> pd.DataFrame:
        n_out = np.zeros(len(ts_s), dtype=np.int64)
        med_out = np.full(len(ts_s), np.nan)
        for r in range(len(ts_s)):
            t = np.asarray(ts_s.iloc[r], dtype=np.int64)
            v = np.asarray(vs_s.iloc[r], dtype=np.int64)
            iu, ju = np.triu_indices(len(t), 1)
            dt = t[ju] - t[iu]
            dv = v[ju] - v[iu]
            # pair orientation: earlier-time minus later-time flips sign
            # on both diffs, so slope is orientation-invariant; enforce
            # dt > 0 by sign flip, skip dt == 0
            sign = np.sign(dt)
            keep = sign != 0
            dt = np.abs(dt[keep])
            dv = (dv[keep] * sign[keep]).astype(np.float64)
            if not len(dt):
                continue
            s = np.sort((dv / 1e6) * 86400000000.0 / dt.astype(np.float64))
            n = len(s)
            n_out[r] = n
            lo = s[(n - 1) // 2]
            hi = s[n // 2]
            med_out[r] = lo if n % 2 == 1 else lo + (hi - lo) * 0.5
        return pd.DataFrame({"n_pairs": n_out, "slope_per_day": med_out})

    scored = arrs.select(
        entity_col, _theil(F.col("__ts"), F.col("__vs")).alias("__r")
    )
    return (
        scored.where(F.col("__r.n_pairs") > 0)
        .select(
            entity_col,
            F.col("__r.n_pairs").alias("n_pairs"),
            F.col("__r.slope_per_day").alias("slope_per_day"),
        )
    )


def cohort_ltv(
    df: DataFrame,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Weekly-cohort lifetime value: entities cohorted by the ISO week
    of their first event; for each (cohort, age-in-weeks) cell, the
    cohort's cumulative spend through that age divided by the cohort's
    entity count — the avg-cumulative-revenue-per-user curve marketing
    reads next to `cohort_retention`.

    Shape: ONE entity-partitioned window assigns cohorts (the same
    exchange the first-week min rides), one groupBy reduces the corpus
    to |cohorts|·|ages| cells with EXACT decimal spend sums, and the
    cumulative + size normalization run on that tiny frame (cohort
    sizes via a same-keyed window, no second corpus pass). The decimal
    cumulative is reduction-order invariant, so the LTV hash cannot
    drift with partitioning.

    Returns (cohort, age_weeks, n_users, cum_revenue, ltv).
    """
    w = Window.partitionBy(entity_col)
    week = F.date_trunc("week", F.col(ts_col)).cast("date")
    staged = df.select(
        F.col(entity_col).alias("__e"),
        week.alias("__w"),
        F.min(week).over(w).alias("__cohort"),
        F.col(value_col).cast("decimal(25,2)").alias("__v"),
    )
    cells = staged.groupBy(
        F.col("__cohort").alias("cohort"),
        (F.datediff(F.col("__w"), F.col("__cohort")) / 7).cast("int").alias("age_weeks"),
    ).agg(
        F.sum("__v").alias("__rev"),
        F.count_distinct("__e").alias("__active"),
    )
    sizes = staged.groupBy(F.col("__cohort").alias("cohort")).agg(
        F.count_distinct("__e").alias("n_users")
    )
    cum_w = (
        Window.partitionBy("cohort")
        .orderBy("age_weeks")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        cells.join(sizes, "cohort")
        .select(
            "cohort",
            "age_weeks",
            "n_users",
            F.sum("__rev").over(cum_w).alias("__cum"),
        )
        .select(
            "cohort",
            "age_weeks",
            "n_users",
            F.col("__cum").cast("double").alias("cum_revenue"),
            (F.col("__cum").cast("double") / F.col("n_users")).alias("ltv"),
        )
    )


def audience_overlap(
    df: DataFrame,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    bucket: str = "week",
) -> DataFrame:
    """Week-over-week audience dynamics: for each consecutive bucket
    pair, the retained / new / churned entity counts and the Jaccard
    overlap of the two active sets — the engagement-health table that
    cohort retention (fixed birth cohorts) does not give you (here the
    comparison is between ADJACENT periods' full active sets).

    Shape: the corpus collapses to distinct (bucket, entity) rows in one
    map-side-combined distinct; the consecutive-pair join is an
    equi-join of that reduced frame with itself on bucket+1; counts are
    exact integers end-to-end. Output is |buckets|−1 rows.
    """
    b = F.date_trunc(bucket, F.col(ts_col)).cast("date")
    active = df.select(b.alias("__b"), F.col(entity_col).alias("__e")).distinct()
    step = {"week": 7, "day": 1}[bucket]
    cur = active.select(F.col("__b"), F.col("__e"))
    # shift the previous bucket forward and equi-join on BOTH (bucket,
    # entity) — a bucket-only join would go |active_b|² per bucket
    prv = active.select(F.date_add(F.col("__b"), step).alias("__b"), F.col("__e"))
    sizes = active.groupBy("__b").agg(F.count(F.lit(1)).alias("__n"))
    prev_sizes = sizes.select(
        F.date_add(F.col("__b"), step).alias("__b"), F.col("__n").alias("__np")
    )
    retained = (
        cur.join(prv, ["__b", "__e"])
        .groupBy("__b")
        .agg(F.count(F.lit(1)).alias("__ret"))
    )
    out = (
        sizes.join(prev_sizes, "__b")
        .join(retained, "__b", "left")
        .select(
            F.col("__b").alias("bucket"),
            F.col("__np").cast("long").alias("n_prev"),
            F.col("__n").cast("long").alias("n_cur"),
            F.coalesce(F.col("__ret"), F.lit(0)).cast("long").alias("n_retained"),
        )
    )
    union_n = F.col("n_prev") + F.col("n_cur") - F.col("n_retained")
    return out.select(
        "bucket",
        "n_prev",
        "n_cur",
        "n_retained",
        (F.col("n_cur") - F.col("n_retained")).alias("n_new"),
        (F.col("n_prev") - F.col("n_retained")).alias("n_churned"),
        (F.col("n_retained").cast("double") / union_n.cast("double")).alias("jaccard"),
    )


def stickiness(
    df: DataFrame,
    entity_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """DAU/MAU stickiness per calendar month: monthly active entities,
    mean daily active entities, and their ratio — the engagement
    metric every product review opens with (MAU alone hides whether
    users come back daily or monthly).

    The corpus collapses to distinct (entity, day) once — the same
    reduction audience_overlap uses — then everything is counting on
    that frame: DAU per day, MAU per month (distinct over the month),
    stickiness = avg(DAU)/MAU. All inputs exact integers; the ratio is
    one double division per month row.
    """
    ed = df.select(
        F.col(entity_col).alias("__e"),
        F.date_trunc("day", F.col(ts_col)).alias("__d"),
    ).distinct()
    withm = ed.select(
        "__e", "__d", F.date_trunc("month", F.col("__d")).alias("__m")
    )
    dau = withm.groupBy("__m", "__d").agg(
        F.count(F.lit(1)).alias("__dau")
    )
    per_month_dau = dau.groupBy("__m").agg(
        F.sum("__dau").alias("__sum_dau"), F.count(F.lit(1)).alias("__days")
    )
    mau = withm.groupBy("__m").agg(
        F.countDistinct("__e").alias("__mau")
    )
    return (
        per_month_dau.join(mau, "__m")
        .select(
            F.col("__m").alias("month"),
            F.col("__days").cast("long").alias("active_days"),
            F.col("__mau").cast("long").alias("mau"),
            (F.col("__sum_dau").cast("double") / F.col("__days")).alias("avg_dau"),
            (
                F.col("__sum_dau").cast("double")
                / F.col("__days")
                / F.col("__mau")
            ).alias("stickiness"),
        )
        .orderBy("month")
    )


def missing_buckets(
    df: DataFrame,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    min_span_days: int = 30,
) -> DataFrame:
    """Calendar-completeness audit per entity: expected days between
    first and last activity vs days actually observed — the series-
    gap check a feature pipeline runs before trusting per-day rollups
    (silent gaps turn 'daily average' features into lies).

    One distinct-(entity, day) reduction, then a single entity
    aggregate: span from min/max (exact integer datediff), observed =
    count of distinct days, coverage = observed/span. Entities with a
    span shorter than ``min_span_days`` are dropped (coverage on a
    3-day account is noise).
    """
    ed = df.select(
        F.col(entity_col).alias("__e"),
        F.date_trunc("day", F.col(ts_col)).alias("__d"),
    ).distinct()
    agg = ed.groupBy("__e").agg(
        F.min("__d").alias("__first"),
        F.max("__d").alias("__last"),
        F.count(F.lit(1)).alias("__observed"),
    )
    span = F.datediff(F.col("__last"), F.col("__first")) + F.lit(1)
    return (
        agg.where(span >= F.lit(min_span_days))
        .select(
            F.col("__e").alias(entity_col),
            F.col("__first").alias("first_day"),
            F.col("__last").alias("last_day"),
            span.cast("long").alias("span_days"),
            F.col("__observed").cast("long").alias("observed_days"),
            (span - F.col("__observed")).cast("long").alias("missing_days"),
            (F.col("__observed").cast("double") / span).alias("coverage"),
        )
        .orderBy("coverage", entity_col)
    )


def decile_migration(
    df: DataFrame,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    grain: str = "week",
) -> DataFrame:
    """Period-over-period spend-decile migration matrix: where did last
    period's decile-k entities land this period — the portfolio-risk view
    behind vintage analysis and limit management (a heavy top-decile →
    bottom-decile flow is churn; upward drift is growth or bust-out).

    Decile assignment is THRESHOLD-based, not rank-based: per period the
    nine exact deciles of the entity-spend distribution are ONE
    |periods|×9 aggregate broadcast back, and an entity's decile is
    1 + Σ [spend > q_k] — so the big frame never feeds a per-period rank
    window (periods are low-cardinality: a rank window would funnel each
    period's entire entity population through one task; SURVEY §2's
    chunked-rank trap). Spark's exact `percentile` and DuckDB's
    `quantile_cont` share linear interpolation, so thresholds — and
    therefore every assignment — match bit-exactly. At extreme scale
    swap in `percentile_approx` (documented sketch twin discipline).

    Consecutive periods join per entity (calendar step — +7 DAY for
    ``grain="week"``, +1 MONTH for ``grain="month"`` — not a row lag);
    entities absent either period drop out. Output: one row per
    observed (from_decile, to_decile) with the transition count and its
    share of the from-decile's total.
    """
    if grain not in ("week", "month"):
        raise ValueError(f"decile_migration: unsupported grain {grain!r}")
    step = "INTERVAL 7 DAY" if grain == "week" else "INTERVAL 1 MONTH"
    m = F.date_trunc(grain, F.col(ts_col)).alias("month")
    # spend feeds the deciles and the assignment; dec both period-join sides
    spend = df.groupBy(F.col(entity_col).alias("__e"), m).agg(
        F.sum(F.col(value_col).cast("decimal(25,2)")).cast("double").alias("__s")
    ).transform(reuse)
    qs = spend.groupBy("month").agg(
        F.percentile("__s", F.array(*[F.lit(k / 10.0) for k in range(1, 10)])).alias(
            "__q"
        )
    )
    dec = spend.join(F.broadcast(qs), "month").select(
        "__e",
        "month",
        (
            F.lit(1)
            + F.aggregate(
                "__q",
                F.lit(0),
                lambda acc, q: acc + F.when(F.col("__s") > q, 1).otherwise(0),
            )
        ).alias("decile"),
    ).transform(reuse)
    nxt = dec.select(
        "__e",
        (F.col("month") + F.expr(step)).alias("month"),
        F.col("decile").alias("from_decile"),
    )
    trans = (
        nxt.join(dec, ["__e", "month"])
        .groupBy("from_decile", F.col("decile").alias("to_decile"))
        .agg(F.count(F.lit(1)).alias("n_entities"))
    )
    tot = trans.groupBy("from_decile").agg(
        F.sum("n_entities").alias("__tot")
    )
    return trans.join(F.broadcast(tot), "from_decile").select(
        F.col("from_decile").cast("int").alias("from_decile"),
        F.col("to_decile").cast("int").alias("to_decile"),
        F.col("n_entities").cast("long").alias("n_entities"),
        (F.col("n_entities").cast("double") / F.col("__tot")).alias("share_of_from"),
    )


def ipf_weights(
    df: DataFrame,
    row_col: str,
    col_col: str,
    iters: int = 10,
    max_cells: int = 100_000,
) -> DataFrame:
    """Iterative proportional fitting (raking, Deming-Stephan 1940):
    reweight the observed (row, col) contingency table so BOTH margins
    hit uniform targets — the survey-statistics move a training-data
    pipeline uses to balance a corpus mixture across two axes at once
    (e.g. source × time bucket) without resampling.

    Exactness: cell weights live as 1e-9-grid INTEGER micro-units end
    to end — margin sums are exact integer folds, each scaling step is
    floor(w·target/margin + ½) in IEEE double over exact integers (no
    libm), so every iterate is bit-reproducible and the recursive-CTE
    oracle replays it identically. Uniform targets compute as rounded
    integer division, overflow-safe past 2^53.

    Scale shape: ONE map-side-combined corpus rollup to |rows|·|cols|
    cells; the ``iters`` IPF iterations run driver-side on that bounded
    frame (same contract as `em_weights`' sufficient-statistic EM and
    `attribution_markov`'s chain solve — ``max_cells`` makes the bound
    loud, not silent). Returns one row per observed cell: n_obs, the
    fitted weight, and the raking factor weight/n_obs.
    """
    cells = [
        (r[0], r[1], r[2])
        for r in df.groupBy(row_col, col_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    ]
    if len(cells) > max_cells:
        raise ValueError(
            f"ipf_weights: {len(cells)} cells exceeds max_cells={max_cells}; "
            "coarsen the axes or raise max_cells explicitly."
        )
    rows = sorted({c[0] for c in cells})
    cols = sorted({c[1] for c in cells})
    n_total = sum(c[2] for c in cells)
    # uniform targets in micro-units, exact integer arithmetic
    rt = {r: (n_total * 1_000_000_000 + len(rows) // 2) // len(rows) for r in rows}
    ct = {c: (n_total * 1_000_000_000 + len(cols) // 2) // len(cols) for c in cols}
    w = {(r, c): n * 1_000_000_000 for r, c, n in cells}
    for _ in range(int(iters)):
        rsum: dict = {}
        for (r, c), v in w.items():
            rsum[r] = rsum.get(r, 0) + v
        w = {
            (r, c): int((float(v) * float(rt[r]) / float(rsum[r])) + 0.5)
            for (r, c), v in w.items()
        }
        csum: dict = {}
        for (r, c), v in w.items():
            csum[c] = csum.get(c, 0) + v
        w = {
            (r, c): int((float(v) * float(ct[c]) / float(csum[c])) + 0.5)
            for (r, c), v in w.items()
        }
    spark = df.sparkSession
    out = [
        (r, c, int(n), w[(r, c)] / 1e9, None)
        for r, c, n in cells
    ]
    out = [
        (r, c, n, wt, (float(int(wt / n * 1e6 + 0.5)) / 1e6) if n else None)
        for r, c, n, wt, _ in out
    ]
    return local_frame(
        spark, out, f"{row_col} string, {col_col} long, n_obs long, "
        "weight double, raking_factor double"
    )


def theil_atkinson(
    df: DataFrame,
    entity_col: str = "user_id",
    value_col: str = "value",
    epsilon: float = 0.5,
) -> DataFrame:
    """Theil T and Atkinson inequality indices over per-entity value
    totals — the decomposable/welfare-weighted companions to `gini`
    (Gini ranks; Theil weighs by share-of-total and ADDS across
    subgroups; Atkinson makes the inequality-aversion ε explicit).

    T = (1/n)·Σ (x/μ)·ln(x/μ);  A_ε = 1 − ((1/n)·Σ (x/μ)^(1−ε))^(1/(1−ε))
    (ε ≠ 1). The corpus collapses to the per-entity decimal-exact total
    frame in one map-side-combined shuffle, which the 1-row mean fold
    and the per-row terms both read; ln/pow terms
    micro-fold on the 1e-9 grid. Non-positive totals drop (ln/pow
    undefined) and are reported as ``n_dropped``. Returns one row.
    """
    if epsilon == 1.0:
        raise ValueError(
            "theil_atkinson: epsilon = 1 needs the geometric-mean form; "
            "pass epsilon != 1"
        )
    per = df.groupBy(F.col(entity_col).alias("__e")).agg(
        F.sum(F.col(value_col).cast("decimal(25,2)")).alias("__x_dec")
    )
    pos = per.where(F.col("__x_dec").cast("double") > 0)
    mu = pos.agg(
        (F.sum("__x_dec").cast("double") / F.count(F.lit(1))).alias("__mu"),
        F.count(F.lit(1)).cast("long").alias("__n"),
    )
    dropped = per.agg(
        F.sum(
            (F.col("__x_dec").cast("double") <= 0).cast("long")
        ).alias("n_dropped")
    )
    ratio = F.col("__x_dec").cast("double") / F.col("__mu")
    t_term = ratio * F.log(ratio)
    a_term = F.pow(ratio, F.lit(1.0 - float(epsilon)))
    micro = lambda c: F.sum(
        F.floor(c * F.lit(1e9) + F.lit(0.5)).cast("decimal(38,0)")
    ).cast("double") / F.lit(1e9)
    agg = (
        pos.crossJoin(F.broadcast(mu))
        .groupBy()
        .agg(
            F.max("__n").alias("__n"),
            F.max("__mu").alias("__mu"),
            micro(t_term).alias("__t_sum"),
            micro(a_term).alias("__a_sum"),
        )
    )
    n = F.col("__n").cast("double")
    theil = F.col("__t_sum") / n
    atk = F.lit(1.0) - F.pow(
        F.col("__a_sum") / n, F.lit(1.0 / (1.0 - float(epsilon)))
    )
    r6_ = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    return agg.crossJoin(F.broadcast(dropped)).select(
        F.col("__n").alias("n_entities"),
        "n_dropped",
        r6_(F.col("__mu")).alias("mean_value"),
        r6_(F.when(n > 0, theil)).alias("theil_t"),
        r6_(F.when(n > 0, atk)).alias("atkinson"),
    )


def cumulative_hazard(
    df: DataFrame,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    churn_gap_days: float = 7.0,
) -> DataFrame:
    """Nelson-Aalen cumulative hazard over entity lifetimes:
    H(t) = Σ_{tᵢ≤t} dᵢ/nᵢ with variance Σ dᵢ/nᵢ² — the additive
    companion to `survival_curve`'s Kaplan-Meier product (hazard is
    what a churn model regresses on; H is ADDITIVE across disjoint
    cohorts where S multiplies, so it decomposes cleanly in reports).
    Same censoring contract: the last event preceding the dataset
    watermark by more than ``churn_gap_days`` marks a churn event,
    otherwise the lifetime is censored.

    Scale shape (the `survival_curve` plan): one groupBy(entity) to
    lifetimes, a ≤|days| daily rollup, then suffix counts and the two
    cumulative sums as windows over that tiny ordered frame. Hazard
    terms dᵢ/nᵢ ≤ 1 fold on the 1e-9 grid (bounded — magnitude-safe).
    Output per distinct lifetime day: (day, n_at_risk, n_events,
    cum_hazard, cum_hazard_var).
    """
    per = df.groupBy(entity_col).agg(
        F.min(ts_col).alias("__first"),
        F.max(ts_col).alias("__last"),
    )
    end = df.agg(F.max(ts_col).alias("__end"))
    life = per.join(F.broadcast(end)).select(
        F.floor(
            (F.col("__last").cast("long") - F.col("__first").cast("long"))
            / F.lit(86400.0)
        ).alias("day"),
        (
            (F.col("__end").cast("long") - F.col("__last").cast("long"))
            > F.lit(float(churn_gap_days) * 86400.0)
        ).cast("int").alias("churned"),
    )
    daily = life.groupBy("day").agg(
        F.sum("churned").alias("n_events"),
        F.count(F.lit(1)).alias("__n_day"),
    )
    w_before = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_all = Window.partitionBy()
    staged = daily.select(
        "day",
        "n_events",
        (
            F.sum("__n_day").over(w_all)
            - F.coalesce(F.sum("__n_day").over(w_before), F.lit(0))
        ).alias("n_at_risk"),
    )
    h_term = F.col("n_events").cast("double") / F.col("n_at_risk").cast(
        "double"
    )
    v_term = F.col("n_events").cast("double") / (
        F.col("n_at_risk").cast("double") * F.col("n_at_risk").cast("double")
    )
    nano = lambda c: F.floor(c * F.lit(1e9) + F.lit(0.5)).cast(
        "decimal(38,0)"
    )
    w_cum = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    r6_ = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    return staged.select(
        F.col("day").cast("long").alias("day"),
        F.col("n_at_risk").cast("long").alias("n_at_risk"),
        F.col("n_events").cast("long").alias("n_events"),
        r6_(
            F.sum(nano(h_term)).over(w_cum).cast("double") / F.lit(1e9)
        ).alias("cum_hazard"),
        r6_(
            F.sum(nano(v_term)).over(w_cum).cast("double") / F.lit(1e9)
        ).alias("cum_hazard_var"),
    ).orderBy("day")
