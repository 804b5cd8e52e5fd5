"""Event-sequence analytics (beyond-reference): Markov transition
matrices, ordered funnels, cohort retention.

The reference's behavioral features (``src/features/engineer.py:72-141``)
treat each user's event stream as an ordered series; these operators mine
the same streams at the *population* level — which event follows which,
how users progress through an ordered goal funnel, and how cohorts decay
over calendar time. All three are single-pass window/agg compositions:
the event table is shuffled at most once (on the entity key), and every
output is a tiny aggregate frame.

Scale notes (100 TB):
- ``transition_matrix``: one exchange on the entity key for the lag
  window, then a groupBy on (prev, next) whose cardinality is |types|²
  — map-side combine collapses it before the second (tiny) shuffle. The
  probability normalization runs on the aggregated frame (|types|² rows),
  not the corpus.
- ``funnel``: one exchange on the entity key; the K per-step windows are
  all unordered frames over the SAME partitioning, so Catalyst reuses a
  single exchange for every step, and the follow-up per-entity groupBy
  reuses it again (same hash key). Output is K rows.
- ``cohort_retention``: one exchange on the entity key for the cohort
  window, one distinct on (entity, cohort, period) — bounded by active
  entity-periods, not events — then a groupBy on (cohort, age) which is
  O(weeks²) tiny. Retention normalizes against the age-0 row via a
  window over the aggregate frame.
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ByteType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
)

from ..functions import exprs as E
from ..functions import local
from ..functions.lineage import reuse
from ..functions.local import fetch_bounded, local_frame


# rounds between lineage breaks in the distributed iterations: a break
# bounds the plan depth of the next round and costs one job for the
# compact |nodes|-row frame
_PAGERANK_BREAK_EVERY = 3
_LABEL_PROP_BREAK_EVERY = 2

# attr types whose driver-side grouping equals Spark's exactly (floats
# after NaN / -0.0 normalization), plus the default-collation string
# (grouped by its UTF-8 bytes); any other attr, or a non-integral
# entity, takes the Spark-built route
_DRIVER_ATTR_TYPES = (
    ByteType, ShortType, IntegerType, LongType, FloatType, DoubleType
)
_DRIVER_ENTITY_TYPES = (ByteType, ShortType, IntegerType, LongType)


def _driver_edges(edges: DataFrame) -> tuple | None:
    """The undirected edge list ``edges`` (u, v) as two numpy arrays
    when its symmetrized form (2·|edges| rows) has at most
    T = `local.DRIVER_ROWS` rows, else None: one Spark job fetches at
    most T // 2 + 1 rows (2·n ≤ T ⟺ n ≤ T // 2)."""
    table = fetch_bounded(edges, local.DRIVER_ROWS // 2)
    if table is None:
        return None
    return table.column("u").to_numpy(), table.column("v").to_numpy()


def _group_codes(col: pa.ChunkedArray) -> np.ndarray:
    """Dense codes of a non-NULL attr column, equal exactly where
    Spark's grouping keys are equal: every NaN is one group and -0.0
    groups with 0.0, as `NormalizeFloatingNumbers` makes them."""
    if pa.types.is_floating(col.type):
        x = col.to_numpy().astype(np.float64) + 0.0  # -0.0 + 0.0 is 0.0
        x[np.isnan(x)] = np.nan
        values = x.view(np.int64)
    elif pa.types.is_string(col.type):
        values = np.asarray(col.to_pylist(), dtype=object)
    else:
        values = col.to_numpy().astype(np.int64)
    return np.unique(values, return_inverse=True)[1].astype(np.int64)


def _driver_graph(
    df: DataFrame,
    attr,
    entity_col: str,
    min_degree: int,
    max_degree: int,
) -> tuple | None:
    """`_capped_edges`' exact edge set as numpy arrays (u, v), u < v,
    built on the driver from one bounded fetch of the non-NULL
    (attr, entity) rows. With T = `local.DRIVER_ROWS`: None — take the
    Spark-built route — when there are more than T // 2 rows, when the
    graph has more than T symmetric edges (or its per-attr pair emission
    more than T rows), or when the attr / entity types are not grouped
    here exactly as Spark does.

    The fetch reads the rows through one partition, so ONE job reads at
    most T // 2 + 1 rows whatever the input's partitioning. Degrees
    follow `_capped_members`: a NULL entity is one distinct member and
    counts toward its attr's degree, yet emits no pair (`collect_list`
    skips NULLs)."""
    rows = df.select(
        attr.alias("attr"), F.col(entity_col).alias("u")
    ).where(F.col("attr").isNotNull())
    at, ut = rows.schema["attr"].dataType, rows.schema["u"].dataType
    if not (
        isinstance(at, _DRIVER_ATTR_TYPES) or at == StringType()
    ) or not isinstance(ut, _DRIVER_ENTITY_TYPES):
        return None
    table = fetch_bounded(rows.coalesce(1), local.DRIVER_ROWS // 2)
    if table is None:
        return None
    a = _group_codes(table.column("attr"))
    null_u = pc.is_null(table.column("u")).to_numpy(zero_copy_only=False)
    uval = pc.fill_null(table.column("u"), 0).to_numpy().astype(np.int64)
    # node codes ascend with the entity values, so a pair's smaller code
    # is `least(x, y)`; the NULL entity takes the code after every node
    nodes, ucode = np.unique(uval[~null_u], return_inverse=True)
    n = len(nodes)
    code = np.full(len(a), n, dtype=np.int64)
    code[~null_u] = ucode
    # the distinct (attr, entity) rows, attr-major, entity ascending
    member = np.unique(a * (n + 1) + code)
    ga, gu = np.divmod(member, n + 1)
    _, deg = np.unique(ga, return_counts=True)
    capped = (deg >= min_degree) & (deg <= max_degree)
    keep = np.repeat(capped, deg) & (gu < n)
    ga, gu = ga[keep], gu[keep]
    _, size = np.unique(ga, return_counts=True)
    if int((size * (size - 1) // 2).sum()) > local.DRIVER_ROWS:
        return None
    # every in-group pair: members d apart in the attr-major order
    lo = [gu[:0]]
    hi = [gu[:0]]
    for d in range(1, int(size.max(initial=0))):
        same = ga[d:] == ga[:-d]
        lo.append(gu[:-d][same])
        hi.append(gu[d:][same])
    edge = np.unique(np.concatenate(lo) * n + np.concatenate(hi))
    if 2 * len(edge) > local.DRIVER_ROWS:
        return None
    lo_code, hi_code = np.divmod(edge, max(n, 1))
    return nodes[lo_code], nodes[hi_code]


def _graph_route(
    df: DataFrame,
    attr,
    entity_col: str,
    min_degree: int,
    max_degree: int,
) -> tuple:
    """``(pairs, edges)`` for the capped shared-attribute graph:
    ``pairs`` is the (u, v) numpy edge list when the rounds run on the
    driver, else None; ``edges`` is the Spark-built edge list (None when
    the driver built the graph). Routes as the comment on
    `local.DRIVER_ROWS` says."""
    pairs = _driver_graph(df, attr, entity_col, min_degree, max_degree)
    if pairs is not None:
        return pairs, None
    # a graph above the bound reuses what the fetch materialized
    edges = reuse(_capped_edges(df, attr, entity_col, min_degree, max_degree))
    return _driver_edges(edges), edges


def _symmetric(u: np.ndarray, v: np.ndarray) -> tuple:
    """(nodes, src, dst): the undirected edge list (u, v) in both
    directions over dense node indices; ``nodes`` ascends, so index
    order is value order."""
    nodes, idx = np.unique(np.concatenate([u, v]), return_inverse=True)
    idx_u, idx_v = idx[: len(u)], idx[len(u):]
    return (
        nodes,
        np.concatenate([idx_u, idx_v]),
        np.concatenate([idx_v, idx_u]),
    )


def _capped_members(
    df: DataFrame,
    attr,
    entity_col: str,
    min_degree: int,
    max_degree: int,
) -> DataFrame:
    """Shared graph prologue: distinct (attr, entity) pairs restricted
    to attr values held by ``min_degree``..``max_degree`` entities.

    Degree comes from a map-side-combined groupBy, not a window count
    (`count(*) OVER (PARTITION BY attr)` has no partial aggregation, so
    a hub attr — a default device ID shared by millions of entities —
    would funnel ALL its distinct rows through ONE window task before
    the cap discards it; here the hub key reaches the reducer as
    ≤ #map-tasks partial counts). The degree frame is joined back onto
    the SAME distinct frame: the two references share exprIds, so AQE's
    ReuseExchange executes the corpus distinct once, and the join side
    is AQE-skew-splittable (windows are not). Output columns: (attr, u).
    """
    a = df.select(
        attr.alias("attr"), F.col(entity_col).alias("u")
    ).where(F.col("attr").isNotNull()).distinct()
    ok = (
        a.groupBy("attr")
        .agg(F.count(F.lit(1)).alias("__n_u"))
        .where(
            (F.col("__n_u") >= min_degree) & (F.col("__n_u") <= max_degree)
        )
        .select("attr")
    )
    return a.join(ok, "attr")


def _capped_edges(
    df: DataFrame,
    attr,
    entity_col: str,
    min_degree: int,
    max_degree: int,
) -> DataFrame:
    """Distinct undirected (u < v) edge list of the capped shared-
    attribute graph — the construction every graph operator shares.

    The capped membership is grouped per attr (≤ ``max_degree`` members
    by construction, so the per-value array is BOUNDED) and pairs are
    emitted map-side from the array — C(n, 2) per value, no self-join;
    least/greatest canonicalizes and the final distinct dedups pairs
    linked through several values. The lineage is not broken here: a
    caller that reads the edge list more than once wraps it in `reuse`.
    """
    members = _capped_members(df, attr, entity_col, min_degree, max_degree)
    # the per-attr array is ≤ max_degree elements by the cap; a sort-
    # merge membership join leaves the frame attr-partitioned, so this
    # groupBy rides that exchange
    g = members.groupBy("attr").agg(F.collect_list("u").alias("__us"))
    pairs = F.expr(
        "flatten(transform(__us, (x, i) -> "
        "transform(slice(__us, i + 2, size(__us)), y -> "
        "struct(least(x, y) AS u, greatest(x, y) AS v))))"
    )
    return (
        g.select(F.explode(pairs).alias("__p"))
        .select("__p.u", "__p.v")
        .distinct()
    )


def transition_matrix(
    df: DataFrame,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    *tiebreak: str,
) -> DataFrame:
    """First-order Markov transition counts + probabilities between
    consecutive event types within each entity's timeline.

    Returns (prev_type, next_type, n, p) where p is row-normalized per
    prev_type (each prev row sums to 1). First event per entity has no
    predecessor and is excluded.
    """
    w = Window.partitionBy(entity_col).orderBy(ts_col, *tiebreak)
    pairs = (
        df.select(
            F.lag(type_col).over(w).alias("prev_type"),
            F.col(type_col).alias("next_type"),
        )
        .where(F.col("prev_type").isNotNull())
    )
    counts = pairs.groupBy("prev_type", "next_type").agg(F.count("*").alias("n"))
    per_prev = Window.partitionBy("prev_type")
    return counts.select(
        "prev_type",
        "next_type",
        "n",
        E.r6(F.col("n") / F.sum("n").over(per_prev)).alias("p"),
    )


def funnel(
    df: DataFrame,
    steps: list[str],
    entity_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Ordered funnel: how many entities completed step[0], then step[1]
    strictly AFTER their first step[0], then step[2] strictly after that
    step[1], and so on. An out-of-order occurrence (e.g. a purchase before
    the signup) does not count toward the later step.

    Returns one row per step: (step, step_idx, entities_reached,
    conversion) where conversion is relative to step[0]'s count.
    """
    if not steps:
        raise ValueError("funnel needs at least one step")
    w = Window.partitionBy(entity_col)
    cur = df.select(entity_col, ts_col, type_col)
    prev_t = None
    t_cols = []
    for i, step in enumerate(steps):
        cond = F.col(type_col) == F.lit(step)
        if prev_t is not None:
            cond = cond & F.col(prev_t).isNotNull() & (F.col(ts_col) > F.col(prev_t))
        t_col = f"__t{i}"
        # Unordered min-over-partition; every step shares one exchange.
        cur = cur.withColumn(t_col, F.min(F.when(cond, F.col(ts_col))).over(w))
        prev_t = t_col
        t_cols.append(t_col)
    per_entity = cur.groupBy(entity_col).agg(
        *[F.max(t).alias(t) for t in t_cols]
    )
    totals = per_entity.agg(
        *[F.count(t).alias(f"__c{i}") for i, t in enumerate(t_cols)]
    )
    # build the K rows with explode(array(struct(...))) — step names pass
    # through as literal VALUES, never through SQL text, so no quoting or
    # backslash escaping can corrupt the plan
    rows = totals.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("step"),
                        F.lit(i + 1).alias("step_idx"),
                        F.col(f"__c{i}").alias("entities_reached"),
                    )
                    for i, s in enumerate(steps)
                ]
            )
        ).alias("__r")
    ).select("__r.step", "__r.step_idx", "__r.entities_reached")
    first = Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return rows.select(
        "step",
        F.col("step_idx").cast("int").alias("step_idx"),
        F.col("entities_reached").cast("long").alias("entities_reached"),
        E.r6(
            F.try_divide(
                F.col("entities_reached"),
                F.max(F.when(F.col("step_idx") == 1, F.col("entities_reached"))).over(first),
            )
        ).alias("conversion"),
    )


def cohort_retention(
    df: DataFrame,
    entity_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Weekly cohort retention: entities are cohorted by the ISO week of
    their first event; for each (cohort, age-in-weeks) cell, count the
    distinct entities active that week and normalize by the cohort's
    age-0 size.

    Returns (cohort, age_weeks, n_active, retention).
    """
    w = Window.partitionBy(entity_col)
    week = F.date_trunc("week", F.col(ts_col)).cast("date")
    activity = (
        df.select(
            F.col(entity_col).alias("__e"),
            week.alias("week"),
            F.min(week).over(w).alias("cohort"),
        )
        .distinct()
    )
    cells = (
        activity.groupBy(
            "cohort",
            (F.datediff(F.col("week"), F.col("cohort")) / 7).cast("int").alias("age_weeks"),
        )
        .agg(F.count_distinct("__e").alias("n_active"))
    )
    per_cohort = Window.partitionBy("cohort")
    return cells.select(
        "cohort",
        "age_weeks",
        "n_active",
        E.r6(
            F.col("n_active")
            / F.max(F.when(F.col("age_weeks") == 0, F.col("n_active"))).over(per_cohort)
        ).alias("retention"),
    )


def shared_attribute_degree(
    df: DataFrame,
    attr,
    entity_col: str = "user_id",
    id_col: str = "event_id",
    broadcast_dim: bool = True,
) -> DataFrame:
    """Fraud-ring linking signal: for each event, how many DISTINCT
    entities share the event's attribute value (device id, card hash,
    IP...). Degree ≫ 1 on an attribute that should be personal is the
    classic shared-infrastructure flag.

    Plan shape: distinct (attr, entity) — two-phase agg — collapses the
    corpus to the linking graph's edge list before the degree count; the
    (attr, degree) dim is |attr values| rows and broadcast back onto the
    fact, so the full table is never shuffled. For an attribute with
    unbounded cardinality drop ``broadcast_dim`` and let AQE pick the
    join (the dim is still edge-list-sized, not corpus-sized).
    """
    from pyspark.sql import functions as F

    base = df.select(F.col(id_col), F.col(entity_col), attr.alias("__attr"))
    deg = (
        base.select("__attr", entity_col)
        .distinct()
        .groupBy("__attr")
        .agg(F.count(F.lit(1)).alias("n_entities_sharing"))
    )
    d = F.broadcast(deg) if broadcast_dim else deg
    return base.join(d, "__attr", "left").select(
        id_col,
        entity_col,
        F.col("__attr").alias("attr_value"),
        F.coalesce("n_entities_sharing", F.lit(0)).alias("n_entities_sharing"),
        (F.coalesce("n_entities_sharing", F.lit(0)) > F.lit(1)).alias("is_shared"),
    )


def fraud_rings(
    df: DataFrame,
    attr,
    entity_col: str = "user_id",
    min_degree: int = 2,
    max_degree: int = 10,
    max_iter: int = 20,
) -> DataFrame:
    """Fraud-ring detection: entities transitively linked through shared
    attribute values (same card hash, device id, or — here — the same
    exact transaction amounts) are collapsed into rings via connected
    components. Returns (entity, ring_id, ring_size); singletons are
    excluded (they're not rings).

    ``[min_degree, max_degree]`` bounds which attribute values LINK:
    degree 1 links nothing, and a high-degree value (a default amount, a
    shared office IP) is noise, not a ring — dropping it also removes the
    quadratic-edge hazard, the same degenerate-bucket discipline as the
    LSH dedup caps. Each linking value emits STAR edges to its min
    entity (degree-1 fan-out, never u² pairs).

    Plan shape: distinct (attr, entity) collapses the corpus first; the
    degree/hub dim is |linking values| rows; edges are edge-list-sized.
    Components run on the existing min-label + pointer-jumping engine
    (`dedup.connected_components` — O(log diameter) rounds, broken
    lineage); ring size is one window over the (entity, ring) result.
    """
    from pyspark.sql import functions as F

    from . import dedup

    a = (
        df.select(attr.alias("__attr"), F.col(entity_col))
        .where(F.col("__attr").isNotNull())
        .distinct()
    )
    d = (
        a.groupBy("__attr")
        .agg(F.count(F.lit(1)).alias("deg"), F.min(entity_col).alias("hub"))
        .where((F.col("deg") >= min_degree) & (F.col("deg") <= max_degree))
    )
    edges = (
        a.join(d, "__attr")
        .where(F.col(entity_col) != F.col("hub"))
        .select(F.col("hub").alias("id_a"), F.col(entity_col).alias("id_b"))
        .distinct()
    )
    cc = dedup.connected_components(edges, "id_a", "id_b", max_iter=max_iter)
    ring = Window.partitionBy("component")
    return cc.select(
        F.col("node").alias(entity_col),
        F.col("component").alias("ring_id"),
        F.count(F.lit(1)).over(ring).alias("ring_size"),
    )


def conversion_latency(
    df: DataFrame,
    from_step: str,
    to_step: str,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Per-entity conversion latency: time from the FIRST ``from_step``
    to the FIRST ``to_step`` at a strictly later timestamp. Entities
    that never reach ``from_step`` are excluded; entities that reach it
    but never convert stay with NULL latency (right-censored — dropping
    them would bias any downstream survival/latency statistic).

    Returns (entity, converted, latency_us). Latency is exact integer
    microseconds — no float rounding to reconcile across engines.

    Plan shape: two unordered min-over-partition windows + the
    per-entity rollup, all hashed on the entity key — one exchange over
    the event table, same contract as `funnel` (it IS the two-step
    funnel, keeping the per-entity rows instead of the K-row summary).
    """
    w = Window.partitionBy(entity_col)
    t0 = F.min(
        F.when(F.col(type_col) == F.lit(from_step), F.col(ts_col))
    ).over(w)
    step2 = (
        (F.col(type_col) == F.lit(to_step))
        & F.col("__t0").isNotNull()
        & (F.col(ts_col) > F.col("__t0"))
    )
    cur = (
        df.select(entity_col, ts_col, type_col)
        .withColumn("__t0", t0)
        .withColumn("__t1", F.min(F.when(step2, F.col(ts_col))).over(w))
    )
    per_entity = (
        cur.groupBy(entity_col)
        .agg(F.max("__t0").alias("__t0"), F.max("__t1").alias("__t1"))
        .where(F.col("__t0").isNotNull())
    )
    return per_entity.select(
        entity_col,
        F.col("__t1").isNotNull().alias("converted"),
        (E.epoch_us(F.col("__t1")) - E.epoch_us(F.col("__t0"))).alias("latency_us"),
    )


def scd2_history(
    df: DataFrame,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    attr_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """Slowly-changing-dimension type-2 builder: collapse each entity's
    attribute timeline into versioned validity intervals.

    Emits one row per *change* of ``attr_col`` (consecutive duplicates
    collapsed) with ``valid_from`` / ``valid_to`` (NULL = current),
    ``version`` (1-based per entity) and ``is_current``. This is the
    standard warehouse pattern the reference's eager pipeline has no
    analog for — it re-derives state by rescanning history
    (``src/features/engineer.py:72-141``); a 100 TB pipeline maintains
    the SCD2 table instead and joins it as a dimension.

    Scale: one exchange on the entity key; the change filter collapses
    the frame to |changes| rows BEFORE the second window, which reuses
    the same partitioning (no new shuffle — plan-asserted in tests).
    NULL attribute values are legal and compared null-safely.
    """
    w = Window.partitionBy(entity_col).orderBy(ts_col, id_col)
    marked = df.select(
        entity_col, ts_col, id_col, F.col(attr_col).alias("attr_value")
    ).withColumn(
        "__chg",
        (F.row_number().over(w) == 1)
        | ~F.lag("attr_value").over(w).eqNullSafe(F.col("attr_value")),
    )
    changes = marked.where("__chg").drop("__chg")
    w2 = Window.partitionBy(entity_col).orderBy(ts_col, id_col)
    return changes.select(
        entity_col,
        "attr_value",
        F.col(ts_col).alias("valid_from"),
        F.lead(ts_col).over(w2).alias("valid_to"),
        F.row_number().over(w2).alias("version"),
        F.lead(ts_col).over(w2).isNull().alias("is_current"),
    )


def peak_concurrency(
    intervals: DataFrame,
    start_col: str = "start_ts",
    end_col: str = "end_ts",
    bucket: str = "hour",
) -> DataFrame:
    """Sweep-line peak concurrency per time bucket — how many intervals
    (sessions, loans, rentals) are simultaneously active, without the
    interval-overlap cross join.

    Classic two-level prefix-sum: every interval contributes (+1 at
    start, -1 at end, end-inclusive); deltas are partitioned by the time
    bucket and running-summed inside each bucket; the per-bucket peaks
    and totals collapse to |buckets| rows, and the cross-bucket carry-in
    is a cumulative sum over that aggregate frame. The output is
    DENSIFIED over the full [first, last] bucket span: a bucket an
    interval covers without starting or ending in it still gets a row
    (peak = carry_in — the concurrency is constant across it).

    Scale: the corpus shuffles once (hash by bucket) for the in-bucket
    running sums; everything after the per-bucket groupBy — spine
    generation, carry cumsum, final joins — runs over |buckets| rows.
    At equal timestamps +1 sorts before -1 (inclusive ends), and within
    a tie group the max is permutation-invariant, so peaks are
    deterministic.
    """
    step_s = {"minute": 60, "hour": 3600, "day": 86400, "week": 604800}[
        bucket
    ]
    starts = intervals.select(
        F.col(start_col).alias("t"), F.lit(1).alias("d")
    )
    ends = intervals.select(F.col(end_col).alias("t"), F.lit(-1).alias("d"))
    deltas = starts.unionAll(ends).withColumn(
        "bucket", F.date_trunc(bucket, F.col("t"))
    )
    wloc = (
        Window.partitionBy("bucket")
        .orderBy(F.col("t"), F.col("d").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = deltas.withColumn("local_run", F.sum("d").over(wloc))
    per_bucket = local.groupBy("bucket").agg(
        F.max("local_run").alias("mx"), F.sum("d").alias("tot")
    )
    span = per_bucket.agg(
        F.min("bucket").alias("lo"), F.max("bucket").alias("hi")
    )
    spine = span.select(
        F.explode(
            F.sequence("lo", "hi", F.expr(f"INTERVAL {step_s} SECONDS"))
        ).alias("bucket")
    )
    base = spine.join(per_bucket, "bucket", "left").select(
        "bucket",
        F.coalesce(F.col("tot"), F.lit(0)).alias("tot"),
        F.coalesce(F.col("mx"), F.lit(0)).alias("mx"),
    )
    # |buckets|-row frame: the unpartitioned window is aggregate-sized
    wcum = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    # the carried-in level holds from bucket start until the first delta,
    # so it bounds the peak from below: a bucket containing only ends
    # still peaked at carry_in before the first -1 landed
    return base.select(
        "bucket",
        (
            F.coalesce(F.sum("tot").over(wcum), F.lit(0))
            + F.greatest(F.col("mx"), F.lit(0))
        ).alias("peak_concurrency"),
    )


def triangle_count(
    df: DataFrame,
    attr,
    entity_col: str = "user_id",
    min_degree: int = 2,
    max_degree: int = 10,
) -> DataFrame:
    """Global triangle census over the shared-attribute entity graph —
    the density signal that separates organized rings (cliques) from
    coincidental links (stars have zero triangles).

    Graph: entities are adjacent when they share an ``attr`` value held
    by 2..``max_degree`` distinct entities (same degree-cap discipline as
    ``fraud_rings`` — popular values are noise, and the cap bounds
    per-value pair emission at C(max_degree, 2)). Counting uses the
    degree-ordered orientation (each edge directed from its
    lower-(degree, id) endpoint), which bounds every out-neighborhood by
    O(sqrt(|E|)) — the standard guarantee that the wedge join cannot
    quadratically explode on hub nodes at 100 TB. Each triangle is
    counted exactly once; the count is orientation-invariant, so the
    DuckDB oracle can use plain id-ordering.

    Returns a single row (n_nodes, n_edges, n_triangles).
    """
    # degree, orientation, closing probe and edge count share one expansion
    edges = reuse(_capped_edges(df, attr, entity_col, min_degree, max_degree))
    both = edges.unionAll(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    ndeg = both.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    e = (
        edges.join(ndeg.withColumnRenamed("u", "u_").withColumnRenamed("deg", "deg_u"),
                   F.col("u") == F.col("u_")).drop("u_")
        .join(ndeg.withColumnRenamed("u", "v_").withColumnRenamed("deg", "deg_v"),
              F.col("v") == F.col("v_")).drop("v_")
    )
    # orient: src = endpoint with smaller (deg, id)
    fwd = (F.col("deg_u") < F.col("deg_v")) | (
        (F.col("deg_u") == F.col("deg_v")) & (F.col("u") < F.col("v"))
    )
    directed = e.select(
        F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("dst"),
        F.when(fwd, F.col("deg_v")).otherwise(F.col("deg_u")).alias("deg_dst"),
        F.when(fwd, F.struct("deg_v", "v")).otherwise(F.struct(F.col("deg_u").alias("deg_v"), F.col("u").alias("v"))).alias("__ord_dst"),
    ).select("src", "dst", "__ord_dst")
    d1 = directed.select("src", F.col("dst").alias("b"), F.col("__ord_dst").alias("ob"))
    d2 = directed.select("src", F.col("dst").alias("c"), F.col("__ord_dst").alias("oc"))
    wedges = d1.join(d2, "src").where(F.col("ob") < F.col("oc")).select("b", "c")
    closing = directed.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    tris = wedges.join(closing, ["b", "c"]).agg(
        F.count(F.lit(1)).alias("n_triangles")
    )
    nn = both.select("u").distinct().agg(F.count(F.lit(1)).alias("n_nodes"))
    ne = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    return nn.crossJoin(ne).crossJoin(tris).select(
        "n_nodes", "n_edges", "n_triangles"
    )


def seasonal_naive_backtest(
    df: DataFrame,
    ts_col: str = "ts",
    type_col: str = "event_type",
    value_col: str = "value",
    bucket: str = "hour",
    season_lag: int = 168,
) -> DataFrame:
    """Forecast-quality backtest for the seasonal-naive baseline
    (ŷ_t = y_{t−season}): per-type hourly actuals vs the value one season
    (default: 168 hours = 1 week) earlier, scored by MAE — the sanity
    baseline every forecasting pipeline must beat before anything fancier
    ships.

    Two stages, both bounded: the corpus collapses to |types|·|buckets|
    exact-decimal actuals (one map-side-combined shuffle), then the
    seasonal match is a TIME-SHIFTED self-join on (type, bucket−season)
    over the rollup frame — not a row lag, which silently misaligns when
    buckets are sparse (a series with gaps would compare against the
    168th prior *row*, not the same hour last week). Buckets without a
    seasonal predecessor are excluded from the score (n_eval reports
    coverage).
    """
    b = F.date_trunc(bucket, F.col(ts_col)).alias("bucket")
    actuals = (
        df.groupBy(type_col, b)
        .agg(
            F.sum(F.col(value_col).cast("decimal(25,2)"))
            .cast("double")
            .alias("actual")
        )
    )
    prev = actuals.select(
        type_col,
        (F.col("bucket") + E.bucket_interval(bucket, season_lag)).alias("bucket"),
        F.col("actual").alias("forecast"),
    )
    scored = actuals.join(prev, [type_col, "bucket"])
    return scored.groupBy(type_col).agg(
        F.count(F.lit(1)).alias("n_eval"),
        F.avg(F.abs(F.col("actual") - F.col("forecast"))).alias("mae"),
    )


def pagerank(
    df: DataFrame,
    attr,
    entity_col: str = "user_id",
    min_degree: int = 2,
    max_degree: int = 10,
    damping: float = 0.85,
    n_iter: int = 10,
) -> DataFrame:
    """PageRank centrality over the shared-attribute entity graph — the
    ring-CENTRALITY complement to `fraud_rings` (membership) and
    `triangle_count` (density): which entities sit at the hub of the
    linking structure, weighted by how central their neighbors are.

    Graph: same capped construction as `triangle_count` — entities are
    adjacent when they share an ``attr`` value held by 2..``max_degree``
    distinct entities (pair emission bounded at C(max_degree, 2) per
    value, so no hub value can go quadratic). Undirected: each edge
    contributes in both directions.

    Power iteration with a FIXED ``n_iter`` round count and the
    unnormalized teleport form rank' = (1−d) + d·Σ_in rank/outdeg (ranks
    sum to N instead of 1), so the distributed rounds need no driver-side
    action — the final rank is normalized by a single 1-row aggregate
    broadcast over the |nodes|-sized result. Every node
    in an undirected graph has in-edges, so no dangling-mass term is
    needed. Per round: one join of the edge list against the |nodes|
    rank frame + one map-side-combined groupBy; the rank frame's lineage
    is broken every `_PAGERANK_BREAK_EVERY` rounds to bound plan depth.

    Small inputs and graphs of at most `local.DRIVER_ROWS` symmetric
    edges run the same rounds on the driver and return a local relation
    (routes as that constant's comment says).

    ORDER-INVARIANT iterates: each round's in-contributions
    fold as 1e-9-grid integer micro-units (floor(rank/outdeg·1e9 + 0.5)
    summed exactly as decimal), so every iterate — and hence the final
    ranks — is bit-identical across partitionings AND engines; a
    recursive-CTE SQL twin replaying the same fixed-iteration folds
    lands on identical rows (the same contract as `em_weights` /
    `kalman_smooth`). The normalization total folds the same way.

    Returns (entity, rank, rank_norm, out_degree) for every node in the
    capped graph.
    """
    # HYBRID driver-iterate path (routes at `local.DRIVER_ROWS`):
    # the per-edge contribution floor, the integer Σ fold and the
    # rank/normalization float assembly are the SAME IEEE and integer
    # ops as the distributed aggregates, so every iterate is
    # bit-identical (path parity test-pinned); 10×(2 joins + 1 groupBy)
    # rounds collapse to numpy arrays and a local relation.
    pairs, edges = _graph_route(df, attr, entity_col, min_degree, max_degree)
    if pairs is not None:
        nodes, src, dst = _symmetric(*pairs)
        odeg = np.bincount(src, minlength=len(nodes))
        # in-edges grouped by destination: one integer fold per node
        # (every node has in-edges in an undirected graph)
        order = np.argsort(dst, kind="stable")
        starts = np.flatnonzero(np.diff(dst[order], prepend=-1))
        src_in = src[order]
        odeg_in = odeg[src_in]
        rk = np.ones(len(nodes))
        for _ in range(n_iter if len(nodes) else 0):
            cu = np.floor(rk[src_in] / odeg_in * 1e9 + 0.5).astype(np.int64)
            s_in = np.add.reduceat(cu, starts)
            rk = (1.0 - damping) + damping * (s_in.astype(np.float64) / 1e9)
        tot = float(np.floor(rk * 1e9 + 0.5).astype(np.int64).sum()) / 1e9
        ddl = df.schema[entity_col].dataType.simpleString()
        return local_frame(
            df.sparkSession,
            list(zip(
                nodes.tolist(), rk.tolist(), (rk / tot).tolist(), odeg.tolist()
            )),
            f"{entity_col} {ddl}, rank double, rank_norm double, "
            "out_degree long",
        )

    both = edges.unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    outdeg = both.groupBy("u").agg(F.count(F.lit(1)).alias("outdeg"))
    # static per-round join input: edge list pre-joined with the source
    # outdegree ONCE (a per-round `.join(outdeg, "u")` would re-run the
    # degree aggregation every iteration)
    both_od = both.join(outdeg, "u").transform(reuse)
    ranks = outdeg.select("u", F.lit(1.0).alias("rank"))
    for i in range(n_iter):
        # 1e-9-grid integer fold: the per-edge contribution is floored
        # to micro-units BEFORE the sum, so the reduction is exact
        # integer arithmetic — order-invariant and engine-reproducible
        contribs = (
            both_od.join(ranks, "u")
            .select(
                F.col("v").alias("u"),
                F.floor(
                    F.col("rank") / F.col("outdeg") * F.lit(1e9) + F.lit(0.5)
                ).cast("decimal(38,0)").alias("cu"),
            )
        )
        ranks = contribs.groupBy("u").agg(
            (
                F.lit(1.0 - damping)
                + F.lit(damping)
                * (F.sum("cu").cast("double") / F.lit(1e9))
            ).alias("rank")
        )
        if (i + 1) % _PAGERANK_BREAK_EVERY == 0:
            ranks = reuse(ranks)
    # normalization via 1-row agg + broadcast crossJoin — NOT a
    # partitionless window: the rank frame is |nodes|-sized (corpus-scale
    # for a near-unique entity column), so a single-partition Window here
    # would funnel every node through one task at 100 TB. The total
    # folds the same 1e-9 grid as the iterates (order-invariant).
    tot = ranks.agg(
        (
            F.sum(
                F.floor(F.col("rank") * F.lit(1e9) + F.lit(0.5)).cast(
                    "decimal(38,0)"
                )
            ).cast("double")
            / F.lit(1e9)
        ).alias("__rank_total")
    )
    return (
        ranks.join(outdeg, "u")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("u").alias(entity_col),
            "rank",
            (F.col("rank") / F.col("__rank_total")).alias("rank_norm"),
            F.col("outdeg").cast("long").alias("out_degree"),
        )
    )


def match_pattern(
    df: DataFrame,
    pattern,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
    max_span_s: float | None = None,
) -> DataFrame:
    """Contiguous sequence-pattern matching (MATCH_RECOGNIZE-lite): find
    every place an entity's stream runs EXACTLY the K event types of
    ``pattern`` back-to-back, optionally within ``max_span_s`` seconds —
    "login, then error, then purchase, consecutively and fast" is a
    fraud playbook signature that per-event features can't see.

    Implementation: K−1 lead() columns over one per-entity window
    exchange — no self-joins, no explosion; each input row is tested
    once, so cost is O(K) state per row however long the stream.
    Contiguity is strict (an intervening event of another type breaks
    the match); use `funnel` for the non-contiguous reach semantics.
    Returns one row per match: (entity, start id/ts, end ts, span_s).
    """
    k = len(pattern)
    if k < 2:
        raise ValueError("pattern needs at least 2 steps")
    w = Window.partitionBy(entity_col).orderBy(ts_col, id_col)
    cols = [
        df[c] for c in (entity_col, id_col)
    ] + [
        F.col(ts_col).alias("__t0"),
        F.col(type_col).alias("__s0"),
    ]
    for i in range(1, k):
        cols.append(F.lead(type_col, i).over(w).alias(f"__s{i}"))
    cols.append(F.lead(F.col(ts_col), k - 1).over(w).alias("__tend"))
    staged = df.select(*cols)
    cond = F.lit(True)
    for i, step in enumerate(pattern):
        cond = cond & (F.col(f"__s{i}") == F.lit(step))
    span = F.col("__tend").cast("double") - F.col("__t0").cast("double")
    if max_span_s is not None:
        cond = cond & (span <= F.lit(float(max_span_s)))
    return staged.where(cond).select(
        entity_col,
        F.col(id_col).alias("start_id"),
        F.col("__t0").alias("start_ts"),
        F.col("__tend").alias("end_ts"),
        span.alias("span_s"),
    )


def cooccurrence_lift(
    df: DataFrame,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    bucket: str = "hour",
    max_basket: int = 64,
) -> DataFrame:
    """Market-basket co-occurrence over (entity, time-bucket) baskets:
    for every unordered pair of event types appearing in the same
    basket, the basket-support counts and the lift
    n_ab·N / (n_a·n_b) — lift ≫ 1 flags types that travel together
    (error+purchase in the same hour is a dispute-pattern signature).

    Plan shape: the corpus collapses to DISTINCT (entity, bucket, type)
    first — basket rows, not events; the pair join is a self-join on the
    basket key whose per-key fan-out is bounded by the basket size, and
    baskets larger than ``max_basket`` distinct types are dropped whole
    (logged in the output's census row count, not silently — they are
    degenerate "did everything" entities, the same cap discipline as the
    LSH buckets; with |types| = 6 here the cap never binds). Marginals
    and N are basket-frame aggregates; the final lift table is
    |types|² rows.
    """
    b = F.date_trunc(bucket, F.col(ts_col))
    # the basket-size window keeps baskets within the cap in one pass
    items = (
        df.select(
            F.col(entity_col).alias("__e"),
            b.alias("__b"),
            F.col(type_col).alias("item"),
        )
        .distinct()
    )
    sz = F.count(F.lit(1)).over(Window.partitionBy("__e", "__b"))
    kept = (
        items.withColumn("__sz", sz)
        .where(F.col("__sz") <= max_basket)
        .drop("__sz")
        .transform(reuse)  # the census, the marginals and the pair join
    )
    # surviving-basket census straight from the kept frame
    # (distinct (e, b) of kept ≡ baskets within the cap)
    n_baskets = (
        kept.select("__e", "__b")
        .distinct()
        .agg(F.count(F.lit(1)).alias("__N"))
    )
    marg = kept.groupBy("item").agg(F.count(F.lit(1)).alias("n_item"))
    other = kept.select("__e", "__b", F.col("item").alias("item_b"))
    pairs = (
        kept.join(other, ["__e", "__b"])
        .where(F.col("item") < F.col("item_b"))
        .groupBy(F.col("item").alias("item_a"), "item_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    ma = marg.select(F.col("item").alias("item_a"), F.col("n_item").alias("n_a"))
    mb = marg.select(F.col("item").alias("item_b"), F.col("n_item").alias("n_b"))
    return (
        pairs.join(F.broadcast(ma), "item_a")
        .join(F.broadcast(mb), "item_b")
        .crossJoin(F.broadcast(n_baskets))
        .select(
            "item_a",
            "item_b",
            F.col("n_ab").cast("long").alias("n_ab"),
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            (F.col("n_ab").cast("double") / F.col("__N")).alias("support"),
            (
                F.col("n_ab").cast("double") * F.col("__N")
                / (F.col("n_a").cast("double") * F.col("n_b"))
            ).alias("lift"),
        )
    )


def session_paths(
    df: DataFrame,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
    gap_s: int = 1800,
    max_steps: int = 5,
    top_n: int = 20,
) -> DataFrame:
    """Clickstream path analysis: the ``top_n`` most common session
    journeys, where a journey is the ordered sequence of the session's
    first ``max_steps`` event types joined with '>' — "view>view>click>
    purchase" vs "signup>error>error" tells you how cohorts actually
    move, and which paths precede fraud flags.

    Plan shape: gap sessionization (lag + cumsum, one entity-key
    exchange), then the path string folds per session via a row-bounded
    collect over the SAME exchange (truncated at ``max_steps`` — the
    cap bounds per-session state regardless of session length), one
    groupBy on the path string (map-side combined, cardinality ≤
    |types|^max_steps but concentrated by Zipf in practice), and a
    TakeOrdered top-n — no global sort.
    """
    from .windows import sessionize

    sess = sessionize(df, entity_col, ts_col, id_col, gap_s=gap_s)
    w = Window.partitionBy(entity_col, "session_idx").orderBy(ts_col, id_col)
    stepped = sess.select(
        entity_col,
        "session_idx",
        F.col(type_col).alias("__t"),
        F.row_number().over(w).alias("__step"),
        F.count(F.lit(1))
        .over(
            Window.partitionBy(entity_col, "session_idx").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .alias("session_len"),
    ).where(F.col("__step") <= max_steps)
    paths = stepped.groupBy(entity_col, "session_idx", "session_len").agg(
        F.concat_ws(
            ">", F.array_sort(F.collect_list(F.struct("__step", "__t"))).getField("__t")
        ).alias("path")
    )
    counts = paths.groupBy("path").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.avg(F.col("session_len").cast("double")).alias("avg_session_len"),
    )
    return (
        counts.orderBy(F.col("n_sessions").desc(), F.col("path"))
        .limit(top_n)
    )


def attribution_last_touch(
    df: DataFrame,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    type_col: str = "event_type",
    value_col: str = "value",
    conversion_type: str = "purchase",
) -> DataFrame:
    """Last-touch attribution: credit each conversion's value to the
    most recent PRECEDING non-conversion event type on the same entity
    (back-to-back conversions look past each other to the true last
    touch — a plain lag(1) would credit 'purchase' to 'purchase').
    Returns revenue, conversion count, and share per attributed channel;
    conversions with no prior touch land in the NULL channel row rather
    than vanishing.

    ``last(..., ignorenulls)`` over a strictly-past frame on one
    entity-key exchange; the channel rollup reduces to |types| rows and
    the share denominator broadcasts.
    """
    w = (
        Window.partitionBy(entity_col)
        .orderBy(ts_col, id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.last(
        F.when(F.col(type_col) != conversion_type, F.col(type_col)),
        ignorenulls=True,
    ).over(w)
    conv = (
        df.withColumn("__touch", touch)
        .where(F.col(type_col) == conversion_type)
        .groupBy(F.col("__touch").alias("channel"))
        .agg(
            F.sum(F.col(value_col).cast("decimal(25,2)"))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_conversions"),
        )
    )
    total = conv.agg(
        F.sum(F.col("revenue").cast("decimal(25,2)")).cast("double").alias("__t")
    )
    return conv.crossJoin(F.broadcast(total)).select(
        "channel",
        "revenue",
        F.col("n_conversions").cast("long").alias("n_conversions"),
        (F.col("revenue") / F.col("__t")).alias("revenue_share"),
    )


def label_propagation(
    df: DataFrame,
    attr,
    entity_col: str = "user_id",
    min_degree: int = 2,
    max_degree: int = 10,
    n_iter: int = 5,
) -> DataFrame:
    """Community detection by synchronous label propagation over the
    shared-attribute entity graph — the soft-clustering complement to
    `fraud_rings`' connected components: CC fuses everything touching
    anything, LPA splits a blob into densely-linked cores, which is
    what an investigator actually triages. Each node starts as its own
    label and repeatedly adopts the most common label among neighbors
    (ties → smallest label), a FIXED ``n_iter`` rounds — synchronous
    update + deterministic tie-break makes the result reproducible,
    unlike the async shuffled variant in the literature.

    Graph: the same degree-capped construction as `triangle_count` /
    `pagerank` (attr values shared by 2..max_degree entities; pair
    emission bounded per value). Per round: one join of the edge list
    against the |nodes| label frame + one (node, label) count + one
    integer-struct argmax — all exact integer arithmetic, no float
    nondeterminism anywhere. The label frame's lineage is broken every
    `_LABEL_PROP_BREAK_EVERY` rounds to bound plan depth. Small inputs
    and graphs of at most `local.DRIVER_ROWS` symmetric edges run the
    same rounds on the driver and return a local relation (routes as
    that constant's comment says).

    Returns (entity, community, community_size).
    """
    # HYBRID driver-iterate path (routes at `local.DRIVER_ROWS`):
    # synchronous label updates with the (count, smallest-label) argmax
    # are pure integer ops, so a small graph's trajectory is
    # bit-identical on numpy arrays (path parity test-pinned) while
    # 5×(join + 2 groupBys) collapse to a local relation. Labels are
    # node indices, whose order is the entity order.
    pairs, edges = _graph_route(df, attr, entity_col, min_degree, max_degree)
    if pairs is not None:
        nodes, src, dst = _symmetric(*pairs)
        n = len(nodes)
        lab = np.arange(n)
        for _ in range(n_iter if n else 0):
            key, cnt = np.unique(src * n + lab[dst], return_counts=True)
            node, label = np.divmod(key, n)
            # per node, the first of (count desc, label asc)
            best = np.lexsort((label, -cnt, node))
            lab = label[best[np.flatnonzero(np.diff(node[best], prepend=-1))]]
        size = np.bincount(lab, minlength=n)[lab]
        ddl = df.schema[entity_col].dataType.simpleString()
        return local_frame(
            df.sparkSession,
            list(zip(nodes.tolist(), nodes[lab].tolist(), size.tolist())),
            f"{entity_col} {ddl}, community {ddl}, community_size long",
        )

    both = edges.unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    labels = both.select("u").distinct().select(
        "u", F.col("u").alias("label")
    )
    for i in range(n_iter):
        neigh = both.join(
            labels.select(F.col("u").alias("v"), "label"), "v"
        ).select("u", "label")
        counted = neigh.groupBy("u", "label").agg(
            F.count(F.lit(1)).alias("__c")
        )
        labels = counted.groupBy("u").agg(
            (
                -F.max(F.struct(F.col("__c"), (-F.col("label")).alias("__nl")))[
                    "__nl"
                ]
            ).alias("label")
        )
        if (i + 1) % _LABEL_PROP_BREAK_EVERY == 0:
            labels = reuse(labels)
    sizes = labels.groupBy("label").agg(F.count(F.lit(1)).alias("community_size"))
    return labels.join(sizes, "label").select(
        F.col("u").alias(entity_col),
        F.col("label").alias("community"),
        F.col("community_size").cast("long").alias("community_size"),
    )


def shared_attr_edges(
    df: DataFrame,
    attr,
    entity_col: str = "user_id",
    min_degree: int = 2,
    max_degree: int = 10,
) -> DataFrame:
    """Capped shared-attribute edge construction (the graph under
    `fraud_rings` / `triangle_count` / `pagerank`): entities are adjacent
    when they share an ``attr`` value held by ``min_degree``..
    ``max_degree`` distinct entities. The cap bounds per-value pair
    emission at C(max_degree, 2) — no hub value goes quadratic at
    100 TB. Returns distinct undirected edges (u < v) with the lineage
    broken (`reuse`), since every consumer joins the edge list repeatedly."""
    return _capped_edges(
        df, attr, entity_col, min_degree, max_degree
    ).transform(reuse)


def adamic_adar(
    edges: DataFrame,
    max_wedge_degree: int = 64,
) -> DataFrame:
    """Adamic–Adar link prediction over an undirected edge list
    (u < v): for each NON-adjacent pair with at least one common
    neighbor, score Σ_{w ∈ N(u)∩N(v)} 1/ln(deg(w)) — the classic
    "which entities are about to be linked" signal (ring-growth
    prediction when run on the fraud graph).

    Plan shape: symmetrize once, broadcast the |nodes|-row degree dim
    onto it, then ONE self-equi-join on the common-neighbor key emits
    every wedge (u, w, v), u < v; groupBy (u, v) sums the 1/ln(deg w)
    contributions; a final left-anti join against the edge list drops
    pairs that are already adjacent.

    Skew guard: a node of degree d emits C(d, 2) wedges as the middle
    vertex, so hub nodes explode the join quadratically.
    ``max_wedge_degree`` drops nodes above the cap from serving as the
    COMMON NEIGHBOR (they still appear as endpoints) — the standard
    hub-capped variant; a deg-10k hub contributes only 1/ln(10k) ≈ 0.11
    per pair anyway, so the cap trades negligible score mass for a
    bounded join. The cap is part of the operator contract (the oracle
    applies the identical rule).
    """
    both = edges.unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = both.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    # wedges through w: neighbors (w, x); pair x's per w
    nb = both.select(F.col("u").alias("w"), F.col("v").alias("x")).join(
        F.broadcast(
            deg.where(F.col("deg") <= max_wedge_degree).select(
                F.col("u").alias("w"), "deg"
            )
        ),
        "w",
    )
    nb2 = nb.select("w", F.col("x").alias("y"), "deg")
    pair_scores = (
        nb.join(nb2, ["w", "deg"])
        .where(F.col("x") < F.col("y"))
        .groupBy(F.col("x").alias("u"), F.col("y").alias("v"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_common"),
            F.sum(F.lit(1.0) / F.log(F.col("deg").cast("double"))).alias("aa_score"),
        )
    )
    return pair_scores.join(edges, ["u", "v"], "left_anti")


def kcore(
    edges: DataFrame,
    k: int = 3,
    max_iter: int = 50,
) -> DataFrame:
    """k-core decomposition by iterative peeling: repeatedly remove
    every node of degree < k (with its edges) until none remains — the
    densest-backbone extraction that separates a ring's committed core
    from its one-link periphery (a triangle-free star has an empty
    2-core; a clique survives any k ≤ size−1).

    Each round is one degree aggregation over the surviving symmetrized
    edge list + one semi-join filter — no windows, no collect of data
    rows. Convergence uses the monotone survivor COUNT (strictly
    decreasing until fixpoint, one scalar agg per round — same
    discipline as `dedup.connected_components`); `reuse` breaks the
    iterative lineage. Peeling rounds are bounded by the
    degeneracy ordering depth — tiny for capped fraud graphs; at
    extreme scale each round is shuffle-bounded by the CURRENT core,
    which only shrinks. Graphs whose symmetrized edge list has at most
    `local.DRIVER_ROWS` rows peel driver-side over one bounded fetch and
    return a local relation. ``edges`` should be lineage-broken, as
    `shared_attr_edges` returns it: the fetch and the distributed rounds
    both read it.

    Returns surviving nodes with their within-core degree.
    """
    # HYBRID driver peel (same contract as `pagerank` /
    # `connected_components`): the peel is pure integer counting, so a
    # small graph's fixpoint is identical on numpy arrays — one bounded
    # fetch replaces up-to-max_iter (agg + count + 2 semi-joins) rounds.
    # Exact loop-state semantics replicated, incl. the n_alive==prev_n
    # early return and the max_iter fallthrough; a node counts only
    # while it keeps an edge, as in the grouped degree frame.
    pairs = _driver_edges(edges)
    if pairs is not None:
        nodes, src, dst = _symmetric(*pairs)
        k_live = max(k, 1)
        prev_n = None
        for _ in range(max_iter):
            deg = np.bincount(src, minlength=len(nodes))
            alive = deg >= k_live
            n_alive = int(alive.sum())
            if n_alive == 0 or n_alive == prev_n:
                break
            prev_n = n_alive
            keep = alive[src] & alive[dst]
            src, dst = src[keep], dst[keep]
        else:
            deg = np.bincount(src, minlength=len(nodes))
        core = np.flatnonzero(deg >= k_live)
        ddl = edges.schema["u"].dataType.simpleString()
        return local_frame(
            edges.sparkSession,
            list(zip(nodes[core].tolist(), deg[core].tolist())),
            f"u {ddl}, core_degree long",
        )

    cur = edges.unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    prev_n = None
    for _ in range(max_iter):
        deg = cur.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
        alive = deg.where(F.col("deg") >= k).select("u")
        n_alive = alive.count()
        if n_alive == 0:
            return deg.where(F.lit(False)).select(
                "u", F.col("deg").cast("long").alias("core_degree")
            )
        if prev_n is not None and n_alive == prev_n:
            return deg.where(F.col("deg") >= k).select(
                "u", F.col("deg").cast("long").alias("core_degree")
            )
        prev_n = n_alive
        cur = (
            cur.join(alive, "u", "left_semi")
            .join(alive.select(F.col("u").alias("v")), "v", "left_semi")
            .transform(reuse)
        )
    deg = cur.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    return deg.where(F.col("deg") >= k).select(
        "u", F.col("deg").cast("long").alias("core_degree")
    )


def transition_entropy(
    df: DataFrame,
    entity_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    order_col: str = "event_id",
) -> DataFrame:
    """Information-theoretic summary of the event-type process: marginal
    entropy H(next), conditional entropy H(next|current) over observed
    per-entity transitions, and their difference (the mutual information
    between consecutive states). H(next|current) ≪ H(next) means the
    process is predictable from one step of memory — the single number
    that says whether sequence models (reference
    ``src/models/lstm_model.py``'s premise) have signal to learn.

    Shape: one window pass builds per-entity (current → next) pairs
    (lead over (ts, id) — deterministic under ts ties), then everything
    is bigram-count aggregates: |types|² cells, |types| marginals, one
    scalar. Entropy folds integer micro-nats (``floor(term·1e12+0.5)``
    summed as DECIMAL(38,0)) over the cells, so the result is exact and
    order-invariant — a float Σ p·ln p drifts with aggregation order.
    At 100 TB the window is the only full-corpus pass; the entropy math
    runs on a |types|²-row frame.
    """
    w = Window.partitionBy(entity_col).orderBy(ts_col, order_col)
    pairs = (
        df.select(
            F.col(type_col).alias("__cur"),
            F.lead(type_col).over(w).alias("__nxt"),
        )
        .where(F.col("__nxt").isNotNull())
    )
    # both marginals, the total and the entropy join share one window+groupBy
    cells = pairs.groupBy("__cur", "__nxt").agg(
        F.count(F.lit(1)).alias("__nxy")
    ).transform(reuse)
    row_m = cells.groupBy("__cur").agg(F.sum("__nxy").alias("__nx"))
    col_m = cells.groupBy("__nxt").agg(F.sum("__nxy").alias("__ny"))
    tot = cells.agg(F.sum("__nxy").alias("__n"))

    def _micro(term):
        return F.sum(
            F.floor(term * F.lit(1e12) + F.lit(0.5)).cast("decimal(38,0)")
        )

    cond_term = -(F.col("__nxy") / F.col("__n")) * F.log(
        F.col("__nxy") / F.col("__nx")
    )
    h_cond = (
        cells.join(F.broadcast(row_m), "__cur")
        .crossJoin(F.broadcast(tot))
        .agg(
            _micro(cond_term).alias("__hc"),
            F.first("__n").alias("__n"),
            F.count(F.lit(1)).alias("__cells"),
        )
    )
    marg_term = -(F.col("__ny") / F.col("__n")) * F.log(
        F.col("__ny") / F.col("__n")
    )
    h_next = (
        col_m.crossJoin(F.broadcast(tot))
        .agg(_micro(marg_term).alias("__hn"), F.count(F.lit(1)).alias("__states"))
    )
    return (
        h_cond.crossJoin(F.broadcast(h_next))
        .select(
            F.col("__n").cast("long").alias("n_transitions"),
            F.col("__states").cast("long").alias("n_states"),
            F.col("__cells").cast("long").alias("n_cells"),
            (F.col("__hn").cast("double") / F.lit(1e12)).alias("h_next"),
            (F.col("__hc").cast("double") / F.lit(1e12)).alias("h_cond"),
            (
                (F.col("__hn").cast("double") - F.col("__hc").cast("double"))
                / F.lit(1e12)
            ).alias("mi_onestep"),
        )
    )


def neighbor_jaccard(
    edges: DataFrame,
    max_wedge_degree: int = 64,
) -> DataFrame:
    """Neighborhood-Jaccard link prediction over an undirected edge list
    (u < v): for each non-adjacent pair with ≥1 common neighbor,
    |N(u)∩N(v)| / |N(u)∪N(v)| — the normalized companion to
    ``adamic_adar`` (same wedge machinery, but every input to the score
    is an exact integer count, so the ranking is bit-deterministic).

    Plan shape is identical to adamic_adar: symmetrize, degree dim,
    one self-equi-join on the hub-capped common-neighbor key, groupBy
    pair, anti-join out existing edges. The union size assembles from
    deg(u)+deg(v)−common (no second pass); endpoint degrees arrive via
    two broadcast joins of the |nodes|-row degree dim. The hub cap
    applies to the middle vertex only and is part of the operator
    contract (oracle applies the identical rule).
    """
    both = edges.unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = both.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    nb = both.select(F.col("u").alias("w"), F.col("v").alias("x")).join(
        F.broadcast(
            deg.where(F.col("deg") <= max_wedge_degree).select(
                F.col("u").alias("w")
            )
        ),
        "w",
    )
    nb2 = nb.select("w", F.col("x").alias("y"))
    pairs = (
        nb.join(nb2, "w")
        .where(F.col("x") < F.col("y"))
        .groupBy(F.col("x").alias("u"), F.col("y").alias("v"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    du = deg.select(F.col("u"), F.col("deg").alias("deg_u"))
    dv = deg.select(F.col("u").alias("v"), F.col("deg").alias("deg_v"))
    return (
        pairs.join(edges, ["u", "v"], "left_anti")
        .join(F.broadcast(du), "u")
        .join(F.broadcast(dv), "v")
        .select(
            "u",
            "v",
            "n_common",
            F.col("deg_u").cast("long").alias("deg_u"),
            F.col("deg_v").cast("long").alias("deg_v"),
            (
                F.col("n_common")
                / (F.col("deg_u") + F.col("deg_v") - F.col("n_common"))
            ).alias("jaccard"),
        )
    )


def attribution_markov(
    df: DataFrame,
    entity_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    order_col: str = "event_id",
    conv_type: str = "purchase",
    max_channels: int = 512,
    method: str = "solve",
    n_iter: int = 256,
) -> DataFrame:
    """Markov removal-effect attribution — the data-driven alternative
    to ``attribution_last_touch``: model journeys as a first-order
    chain over channels with absorbing CONV/NULL states, and credit
    each channel by how much total conversion probability disappears
    when it is removed (its removal effect), normalized to shares.

    Journey construction: per entity, events are split into journeys
    at each conversion (strictly-preceding-conversion count —
    window cumsum); each journey contributes START→first,
    channel→channel, channel→CONV (on conversion) or channel→NULL
    (journey never converts) transitions. The corpus collapses to the
    ≤(|channels|+2)² transition-count matrix in one window pass + one
    groupBy; the absorption solve and the per-channel removal re-solves
    run driver-side on that tiny matrix via numpy ``linalg.solve``
    (LAPACK, O(k³) per re-solve with a far smaller constant than the
    previous pure-Python elimination; singular systems fall back to the
    zero-pivot-tolerant elimination so degenerate chains keep their
    t=0 convention).

    The driver solve is O(|channels|·k³): ``max_channels`` (default 512)
    bounds it so a pathological ``type_col`` cardinality (IDs leaking
    into the channel column, say) raises a clear ValueError instead of
    wedging the driver for hours — at 512 the re-solve loop is ~10⁸ flops
    in LAPACK, well under a second.

    Returns one row per channel: transitions through it, its removal
    effect (1 − p_conv_without / p_conv_base), and the normalized
    attribution share. Baseline conversion probability rides along for
    context.

    ``method="power"`` replaces the LAPACK solve with
    ``n_iter`` fixed power iterations on the 1e-9 integer grid —
    t′ = r + Q·t with every Q_ij·t_j term floored to integer units
    individually, so the iterate is reduction-order invariant and the
    whole fit (including the removal re-solves) replays as a
    recursive CTE in an external SQL engine (the em_weights/pagerank
    treatment). Absorbing chains give ‖Q‖ < 1, so 256 iterations sit
    far below the 1e-6 output grid; the default ``solve`` path is
    unchanged and remains the production mode. Grid-mode removal
    effects/attributions derive from unit integers end-to-end.
    """
    w = Window.partitionBy(entity_col).orderBy(ts_col, order_col)
    is_conv = (F.col(type_col) == conv_type).cast("long")
    ev = df.select(
        F.col(entity_col).alias("__e"),
        F.col(type_col).alias("__t"),
        F.col(ts_col).alias("__ts"),
        F.col(order_col).alias("__o"),
        (F.sum(is_conv).over(w) - is_conv).alias("__j"),
    )
    wj = Window.partitionBy("__e", "__j").orderBy("__ts", "__o")
    seq = ev.select(
        "__e",
        "__j",
        F.col("__t").alias("cur"),
        F.lead("__t").over(wj).alias("nxt"),
        F.row_number().over(wj).alias("__rn"),
    )
    starts = seq.where(F.col("__rn") == 1).select(
        F.lit("START").alias("cur"),
        # a journey whose first event IS the conversion converts
        # immediately: START→CONV, not START→<conv_type-as-channel>
        F.when(F.col("cur") == conv_type, F.lit("CONV"))
        .otherwise(F.col("cur"))
        .alias("nxt"),
    )
    mids = seq.where(F.col("nxt").isNotNull()).select(
        "cur",
        F.when(F.col("nxt") == conv_type, F.lit("CONV")).otherwise(
            F.col("nxt")
        ).alias("nxt"),
    ).where(F.col("cur") != conv_type)
    ends = seq.where(F.col("nxt").isNull() & (F.col("cur") != conv_type)).select(
        "cur", F.lit("NULL").alias("nxt")
    )
    trans = (
        starts.unionByName(mids)
        .unionByName(ends)
        .groupBy("cur", "nxt")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )

    counts: dict = {}
    for r in trans:
        counts[(r["cur"], r["nxt"])] = counts.get((r["cur"], r["nxt"]), 0) + int(r["n"])
    channels = sorted(
        {c for c, _ in counts} | {n for _, n in counts} - {"CONV", "NULL", "START"}
    )
    channels = [c for c in channels if c not in ("CONV", "NULL", "START")]
    if len(channels) > max_channels:
        raise ValueError(
            f"attribution_markov: {len(channels)} channels exceeds "
            f"max_channels={max_channels}; the per-channel removal "
            "re-solve is O(k^3) on the driver. Bucket the channel column "
            "or raise max_channels explicitly."
        )

    import numpy as np

    def _p_conv(removed: str | None) -> float:
        states = ["START"] + [c for c in channels if c != removed]
        idx = {s: i for i, s in enumerate(states)}
        k = len(states)
        q = np.zeros((k, k))
        r_conv = np.zeros(k)
        for s in states:
            row = {
                n: c for (cc, n), c in counts.items() if cc == s
            }
            tot = sum(row.values())
            if tot == 0:
                continue
            for n, c in row.items():
                p = c / tot
                if n == removed:
                    continue  # removed channel's inbound mass -> NULL
                if n == "CONV":
                    r_conv[idx[s]] += p
                elif n in idx:
                    q[idx[s]][idx[n]] += p
        # absorption probabilities: solve (I - Q) t = r_conv. The LAPACK
        # fast path is gated on a conditioning check, not just the
        # exact-singular LinAlgError: a NEAR-singular chain (disconnected
        # states plus float dust) passes solve() but returns
        # ill-conditioned garbage, and must take the zero-pivot-tolerant
        # elimination that preserves the t=0 convention instead.
        m = np.eye(k) - q
        t = None
        # SVD-based cond: returns inf (never raises) on exact singularity
        if 1.0 / np.linalg.cond(m) >= 1e-12:
            try:
                t = np.linalg.solve(m, r_conv)
            except np.linalg.LinAlgError:
                t = None
        if t is None:
            # (near-)singular chain: zero-pivot-tolerant elimination
            # preserving the t=0 convention for unreachable rows —
            # matches the pre-numpy behavior exactly
            a = np.concatenate([m, r_conv[:, None]], axis=1)
            for col in range(k):
                piv = col + int(np.argmax(np.abs(a[col:, col])))
                if abs(a[piv, col]) < 1e-12:
                    continue
                a[[col, piv]] = a[[piv, col]]
                for i in range(k):
                    if i != col and a[i, col] != 0.0:
                        a[i, col:] -= (a[i, col] / a[col, col]) * a[col, col:]
            t = np.where(np.abs(np.diag(a[:, :k])) > 1e-12,
                         a[:, k] / np.diag(a[:, :k]), 0.0)
        return float(t[idx["START"]])

    SCALE = 1_000_000_000

    def _p_conv_units(removed: str | None) -> int:
        # integer-grid power iteration: every Q_ij·t_j term floors to
        # unit integers individually, so the sum is order-invariant and
        # the SQL twin replays it term-for-term
        states = ["START"] + [c for c in channels if c != removed]
        k = len(states)
        tot = {
            s: sum(c for (cc, _n), c in counts.items() if cc == s)
            for s in states
        }
        r_u = [
            (counts.get((s, "CONV"), 0) * SCALE) // tot[s]
            if tot[s] > 0
            else 0
            for s in states
        ]
        mat = [
            [
                counts.get((s, j), 0) if tot[s] > 0 else 0
                for j in states
            ]
            for s in states
        ]
        t_div = [tot[s] if tot[s] > 0 else 1 for s in states]
        tv = [0] * k
        for _ in range(int(n_iter)):
            tv = [
                r_u[i]
                + sum((mat[i][j] * tv[j]) // t_div[i] for j in range(k))
                for i in range(k)
            ]
        return tv[0]  # states[0] == "START"

    through = {
        c: sum(n for (cc, nn), n in counts.items() if cc == c or nn == c)
        for c in channels
    }

    if method == "power":
        base_u = _p_conv_units(None)
        re_units = []
        for c in channels:
            pr_u = _p_conv_units(c)
            re = max(0.0, 1.0 - pr_u / base_u) if base_u > 0 else 0.0
            re_units.append((c, math.floor(re * SCALE + 0.5)))
        tot_re_u = sum(u for _, u in re_units)
        out = [
            (
                c,
                int(through[c]),
                u / SCALE,
                (u / tot_re_u) if tot_re_u > 0 else 0.0,
                base_u / SCALE,
            )
            for c, u in re_units
        ]
    else:
        base = _p_conv(None)
        effects = []
        for c in channels:
            pr = _p_conv(c)
            re = 1.0 - (pr / base) if base > 0 else 0.0
            effects.append((c, max(re, 0.0)))
        tot_re = sum(e for _, e in effects)
        out = [
            (
                c,
                int(through[c]),
                float(re),
                float(re / tot_re) if tot_re > 0 else 0.0,
                float(base),
            )
            for c, re in effects
        ]
    return local_frame(
        df.sparkSession,
        out,
        "channel string, n_transitions long, removal_effect double, "
        "attribution double, p_conv_base double",
    )


def two_hop_reach(
    edges: DataFrame,
    max_wedge_degree: int = 64,
) -> DataFrame:
    """Two-hop reach per node: distinct neighbors-of-neighbors
    (excluding the node itself and its direct neighbors) — the
    influence-radius metric behind "how far can money move in two
    transfers" on the fraud graph, and the denominator behind
    friend-of-friend recommendation coverage.

    Same hub-capped wedge machinery as adamic_adar/neighbor_jaccard
    (the middle vertex is capped, and the cap is part of the operator
    contract); the distinct (node, 2hop) reduction happens BEFORE the
    anti-joins, so every count is an exact integer over a bounded
    wedge set.
    """
    both = edges.unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = both.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    mid = deg.where(F.col("deg") <= max_wedge_degree).select(
        F.col("u").alias("w")
    )
    nb = both.select(F.col("u").alias("w"), F.col("v").alias("x")).join(
        F.broadcast(mid), "w"
    )
    hops = (
        nb.select("w", F.col("x").alias("a"))
        .join(nb.select("w", F.col("x").alias("b")), "w")
        .where(F.col("a") != F.col("b"))
        .select(F.col("a").alias("u"), F.col("b").alias("h2"))
        .distinct()
    )
    # drop direct neighbors: (u, h2) that are already edges
    direct = both.select("u", F.col("v").alias("h2"))
    pure = hops.join(direct, ["u", "h2"], "left_anti")
    return (
        pure.groupBy("u")
        .agg(F.count(F.lit(1)).alias("reach_2hop"))
        .join(F.broadcast(deg), "u")
        .select(
            "u",
            F.col("deg").cast("long").alias("degree"),
            F.col("reach_2hop").cast("long").alias("reach_2hop"),
        )
        .orderBy("u")
    )


def _shared_attr_edges(
    df: DataFrame,
    attr,
    entity_col: str,
    min_degree: int,
    max_degree: int,
) -> DataFrame:
    """Distinct undirected (u < v) edge list of the shared-attribute
    entity graph under the repo's degree-cap discipline (attr values
    held by min..max distinct entities; popular values are noise and
    the cap bounds per-value pair emission at C(max_degree, 2)) — the
    construction `fraud_rings` / `triangle_count` / `adamic_adar`
    share."""
    return _capped_edges(df, attr, entity_col, min_degree, max_degree)


def assortativity(
    df: DataFrame,
    attr,
    entity_col: str = "user_id",
    min_degree: int = 2,
    max_degree: int = 10,
) -> DataFrame:
    """Degree assortativity of the shared-attribute entity graph
    (Newman 2002): the Pearson correlation of endpoint degrees over
    edges — positive means hubs link to hubs (a coordinated ring built
    around shared identifiers), negative means hub-and-spoke (one mule
    account fanning out) — the one-number structure summary next to
    `triangle_count`'s density.

    Computed over the DOUBLED edge list (both directions, the standard
    symmetric estimator): all five moment sums of (deg_u, deg_v) are
    exact BIGINT folds (degrees are integers), so r assembles bit-
    identically in closed form. The capped edge list is broken once
    and feeds degrees + the moment pass. Returns one row:
    (n_nodes, n_edges, assortativity) — NULL r for a degree-regular
    graph (zero variance).
    """
    edges = _shared_attr_edges(df, attr, entity_col, min_degree, max_degree)
    edges = reuse(edges)
    both = edges.unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    ndeg = both.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    pairs = (
        both.join(ndeg, "u")
        .join(
            ndeg.select(F.col("u").alias("v"), F.col("deg").alias("deg_v")),
            "v",
        )
        .select(F.col("deg").alias("dx"), F.col("deg_v").alias("dy"))
    )
    d38 = "decimal(38,0)"
    dx = F.col("dx").cast(d38)
    dy = F.col("dy").cast(d38)
    agg = pairs.agg(
        F.count(F.lit(1)).alias("__m2"),
        F.sum(dx).alias("__sx"),
        F.sum(dy).alias("__sy"),
        F.sum(dx * dy).alias("__sxy"),
        F.sum(dx * dx).alias("__sxx"),
        F.sum(dy * dy).alias("__syy"),
    )
    m = F.col("__m2").cast("double")
    sx = F.col("__sx").cast("double")
    sy = F.col("__sy").cast("double")
    cov = m * F.col("__sxy").cast("double") - sx * sy
    vx = m * F.col("__sxx").cast("double") - sx * sx
    vy = m * F.col("__syy").cast("double") - sy * sy
    nn = both.select("u").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes")
    )
    ok = (vx > 0) & (vy > 0)
    r6_ = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    return nn.crossJoin(F.broadcast(agg)).select(
        "n_nodes",
        (F.col("__m2") / F.lit(2)).cast("long").alias("n_edges"),
        r6_(F.when(ok, cov / F.sqrt(vx * vy))).alias("assortativity"),
    )


def degree_distribution(
    df: DataFrame,
    attr,
    entity_col: str = "user_id",
    min_degree: int = 2,
    max_degree: int = 10,
) -> DataFrame:
    """Degree histogram of the shared-attribute entity graph: node
    count and share per degree — the scale-free-vs-bounded fingerprint
    read next to `assortativity` (fraud rings are dense-regular; mule
    fan-outs put mass on degree 1 plus one hub).

    The capped edge list collapses to per-node degrees (one groupBy),
    then to the |distinct degrees| histogram (second tiny groupBy);
    shares divide exact counts. Returns (degree, n_nodes, share)
    ordered by degree.
    """
    edges = _shared_attr_edges(df, attr, entity_col, min_degree, max_degree)
    both = edges.unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    ndeg = both.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    hist = ndeg.groupBy("deg").agg(F.count(F.lit(1)).alias("n_nodes"))
    wtot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    tot = F.sum("n_nodes").over(wtot).cast("double")
    r6_ = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    return hist.select(
        F.col("deg").cast("long").alias("degree"),
        F.col("n_nodes").cast("long").alias("n_nodes"),
        r6_(F.col("n_nodes") / tot).alias("share"),
    ).orderBy("degree")


def window_funnel(
    df: DataFrame,
    steps: list[str],
    window_s: float,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Time-constrained funnel (the ClickHouse `windowFunnel` shape):
    deepest ordered step an entity reaches with EVERY step inside
    ``window_s`` seconds of its step-0 anchor — plain `funnel` answers
    "ever converted, in order"; this answers "converted within the
    session/campaign window", which is the number growth teams act on.

    Anchor semantics: the chain is greedily rooted at the entity's FIRST
    step-0 event (the standard min-chain construction; a restart-scan
    per later anchor needs per-entity state and is the documented
    `applyInPandasWithState` escape hatch in streaming). Each t_i is the
    earliest step-i event strictly after t_{i−1} and ≤ anchor + window.

    One exchange on the entity (every step's min-over-partition shares
    it), one per-entity rollup, then a ≤k-row depth histogram. Output
    rows cover depths 1..k over entities with at least one step-0
    event: depth d = number of chain steps completed (the anchor itself
    counts as step 1, so every anchored entity lands at depth ≥ 1), and
    no depth-0 row is ever emitted — entities without an anchor are
    excluded entirely.
    """
    if not steps:
        raise ValueError("window_funnel needs at least one step")
    w = Window.partitionBy(entity_col)
    cur = df.select(entity_col, ts_col, type_col)
    t_cols = []
    prev_t = None
    for i, step in enumerate(steps):
        cond = F.col(type_col) == F.lit(step)
        if prev_t is not None:
            cond = (
                cond
                & F.col(prev_t).isNotNull()
                & (F.col(ts_col) > F.col(prev_t))
                & (
                    F.col(ts_col)
                    <= F.col("__t0")
                    + F.expr(
                        f"INTERVAL {int(window_s * 1e6)} MICROSECONDS"
                    )
                )
            )
        t_col = f"__t{i}"
        cur = cur.withColumn(t_col, F.min(F.when(cond, F.col(ts_col))).over(w))
        prev_t = t_col
        t_cols.append(t_col)
    per_entity = cur.groupBy(entity_col).agg(
        *[F.max(t).alias(t) for t in t_cols]
    )
    depth = None
    for t in t_cols:
        d = F.col(t).isNotNull().cast("int")
        depth = d if depth is None else depth + d
    depths = (
        per_entity.where(F.col("__t0").isNotNull())
        .select(depth.alias("depth"))
        .groupBy("depth")
        .agg(F.count(F.lit(1)).cast("long").alias("n_entities"))
    )
    wtot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    tot = F.sum("n_entities").over(wtot).cast("double")
    return depths.select(
        F.col("depth").cast("int").alias("depth"),
        "n_entities",
        (F.floor(F.col("n_entities") / tot * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)).alias(
            "share"
        ),
    ).orderBy("depth")


def attribution_position_based(
    df: DataFrame,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    type_col: str = "event_type",
    value_col: str = "value",
    conversion_type: str = "purchase",
    first_w: float = 0.4,
    last_w: float = 0.4,
) -> DataFrame:
    """Position-based (U-shaped) multi-touch attribution: each
    conversion's value splits 40% to the FIRST touch of its journey,
    40% to the LAST, and 20% evenly across the middle touches (one
    touch takes 100%, two split 50/50 — the standard degenerate-path
    rules). Journeys reset at each conversion: a touch belongs to the
    journey of the NEXT conversion on its entity. The multi-touch
    complement of `attribution_last_touch` (which over-credits the
    final channel) and `attribution_markov` (whose removal effects
    need the full transition solve).

    Exactness contract: journey ids are integer conversion-prefix
    counts; positions are per-journey row numbers; per-touch credit
    weights are closed-form rationals of (position, journey size) and
    each credit·value term quantizes to the 1e-6 micro-grid BEFORE the
    channel fold — order-invariant, SQL-replayable.

    Scale shape: two bounded window passes (entity exchange for the
    journey id, (entity, journey) exchange for positions), one
    co-partitioned join of touches to their journey's conversion on
    (entity, journey) — both sides shuffle on the same key — and one
    |channels|-row rollup.
    """
    mid_w = 1.0 - float(first_w) - float(last_w)
    w_ent = Window.partitionBy(entity_col).orderBy(ts_col, id_col)
    is_conv = (F.col(type_col) == conversion_type).cast("long")
    # journey id = conversions strictly BEFORE this row: touches between
    # conversion k and k+1 share id k with conversion k+1 itself
    base = df.select(
        entity_col,
        ts_col,
        id_col,
        type_col,
        value_col,
        (
            F.sum(is_conv).over(
                w_ent.rowsBetween(Window.unboundedPreceding, -1)
            )
        ).alias("__jid"),
    ).withColumn("__jid", F.coalesce(F.col("__jid"), F.lit(0)))
    touches = base.where(F.col(type_col) != conversion_type)
    w_j = Window.partitionBy(entity_col, "__jid").orderBy(ts_col, id_col)
    w_jall = Window.partitionBy(entity_col, "__jid").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    pos = touches.select(
        entity_col,
        "__jid",
        F.col(type_col).alias("channel"),
        F.row_number().over(w_j).alias("__p"),
        F.count(F.lit(1)).over(w_jall).alias("__m"),
    )
    convs = base.where(F.col(type_col) == conversion_type).select(
        entity_col,
        "__jid",
        F.col(value_col).cast("decimal(25,2)").alias("__v"),
    )
    p, m = F.col("__p"), F.col("__m")
    credit = (
        F.when(m == 1, F.lit(1.0))
        .when(m == 2, F.lit(0.5))
        .when(p == 1, F.lit(float(first_w)))
        .when(p == m, F.lit(float(last_w)))
        .otherwise(F.lit(mid_w) / (m - F.lit(2)).cast("double"))
    )
    joined = pos.join(convs, [entity_col, "__jid"]).select(
        "channel",
        F.floor(
            credit * F.col("__v").cast("double") * F.lit(1e6) + F.lit(0.5)
        )
        .cast("decimal(38,0)")
        .alias("__cr_micro"),
    )
    out = joined.groupBy("channel").agg(
        F.count(F.lit(1)).cast("long").alias("n_touchpoints"),
        F.sum("__cr_micro").alias("__cm"),
    )
    tot = out.agg(F.sum("__cm").alias("__t"))
    r6_ = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    return out.crossJoin(F.broadcast(tot)).select(
        "channel",
        "n_touchpoints",
        r6_(F.col("__cm").cast("double") / F.lit(1e6)).alias(
            "credited_revenue"
        ),
        # guarded: all-zero-value conversions make the total 0 and ANSI
        # mode would fail the job on the share division
        F.when(
            F.col("__t") > 0,
            r6_(F.col("__cm").cast("double") / F.col("__t").cast("double")),
        ).alias("credit_share"),
    )


def lateness_profile(
    df: DataFrame,
    ts_col: str = "ts",
    series_col: str = "event_type",
    arrival_col: str = "event_id",
    thresholds_s: tuple[int, ...] = (60, 300, 3600),
) -> DataFrame:
    """Event-lateness profile per series — the report that SIZES a
    streaming watermark: processing events in ARRIVAL order
    (``arrival_col``; monotone ingest id standing in for arrival time,
    the convention a replayed log gives you), an event is LATE by how
    far its event time trails the maximum event time already seen in
    its series. `withWatermark(delay)` drops exactly the events whose
    lateness exceeds the delay, so the per-threshold retention shares
    here ARE the data-loss curve for candidate delays. Emits one row
    per series: n_events, n_late (lateness > 0), max/avg lateness in
    seconds, and n_late_over_{t}s per threshold.

    Exactness contract: lateness is an exact microsecond integer (the
    running max and the subtraction never leave int64 — epoch_us of
    valid timestamps is ≪ 2^62); the average alone is r6-rounded from
    the decimal-exact sum. Scale shape: one shuffle on the series key,
    one ordered window pass (O(1) running-max state per row), one
    map-side-combined aggregate to |series| rows. No collect, no join.
    """
    ts_list = [int(t) for t in thresholds_s]
    if len(set(ts_list)) != len(ts_list) or any(t <= 0 for t in ts_list):
        raise ValueError(
            f"lateness_profile: thresholds_s={thresholds_s} must be "
            "distinct positive seconds (duplicates would collide on the "
            "output column names)"
        )
    us = E.epoch_us(F.col(ts_col))
    w = (
        Window.partitionBy(series_col)
        .orderBy(F.col(arrival_col))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    late_us = F.greatest(
        F.coalesce(F.max(us).over(w) - us, F.lit(0)), F.lit(0)
    )
    staged = df.select(
        F.col(series_col), late_us.alias("__late_us")
    )
    r6_ = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    aggs = [
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum((F.col("__late_us") > 0).cast("long")).cast("long").alias("n_late"),
        (F.max("__late_us") / F.lit(1_000_000.0)).alias("__mx"),
        F.sum(F.col("__late_us").cast("decimal(38,0)")).alias("__sum_us"),
    ]
    for t in thresholds_s:
        aggs.append(
            F.sum((F.col("__late_us") > F.lit(int(t) * 1_000_000)).cast("long"))
            .cast("long")
            .alias(f"n_late_over_{int(t)}s")
        )
    out = staged.groupBy(series_col).agg(*aggs)
    return out.select(
        series_col,
        "n_events",
        "n_late",
        r6_(F.col("__mx")).alias("max_lateness_s"),
        r6_(
            F.col("__sum_us").cast("double")
            / F.lit(1e6)
            / F.col("n_events").cast("double")
        ).alias("avg_lateness_s"),
        *[f"n_late_over_{int(t)}s" for t in thresholds_s],
    ).orderBy(series_col)
