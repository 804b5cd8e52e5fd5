"""Dataset profiling (reference ``loader.py:197-207``, ``train_pipeline.py:57-84``).

One wide aggregate pass — a single job regardless of column count, instead
of pandas' per-column ``isnull().sum()`` over an in-RAM frame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.lineage import reuse
from ..functions.local import local_frame


def null_profile(df: DataFrame) -> DataFrame:
    """Per-column null counts + percentages, sorted desc — tall format
    (column, null_count, null_pct). Single wide agg then unpivot via stack."""
    total = df.count()
    aggs = [F.sum(F.col(c).isNull().cast("long")).alias(c) for c in df.columns]
    wide = df.agg(*aggs)
    n = len(df.columns)
    stack_expr = ", ".join(f"'{c}', `{c}`" for c in df.columns)
    tall = wide.selectExpr(f"stack({n}, {stack_expr}) as (col_name, null_count)")
    pct = F.col("null_count") / F.lit(max(total, 1)) * 100.0
    return tall.withColumn(
        "null_pct", F.floor(pct * 1e6 + F.lit(0.5)) / F.lit(1e6)
    ).orderBy(F.desc("null_count"), "col_name")


def profile(df: DataFrame) -> dict:
    """Shape/columns/dtypes summary (driver-side dict, like get_data_info)."""
    return {
        "rows": df.count(),
        "columns": len(df.columns),
        "dtypes": dict(df.dtypes),
    }


def check_expectations(df: DataFrame, rules: dict[str, "F.Column"]) -> DataFrame:
    """Declarative data-quality gate (deequ-lite): each rule is a boolean
    Column that every GOOD row satisfies; the result is one tall row per
    rule with its violation count and fraction — the contract a 100 TB
    ingest job asserts before publishing a partition.

    ONE wide aggregate pass (a single scan regardless of rule count,
    map-side combined); null rule results count as violations, matching
    SQL three-valued logic pitfalls rather than hiding them."""
    total_col = F.count(F.lit(1)).alias("__total")
    aggs = [
        F.sum((~F.coalesce(cond, F.lit(False))).cast("long")).alias(name)
        for name, cond in rules.items()
    ]
    wide = df.agg(total_col, *aggs)
    n = len(rules)
    stack_expr = ", ".join(f"'{name}', `{name}`" for name in rules)
    return (
        wide.selectExpr(
            "__total", f"stack({n}, {stack_expr}) as (rule, n_violations)"
        )
        .select(
            "rule",
            F.col("n_violations").cast("long").alias("n_violations"),
            (
                F.floor(
                    F.col("n_violations") / F.col("__total") * 1e6 + F.lit(0.5)
                )
                / 1e6
            ).alias("violation_frac"),
            (F.col("n_violations") == 0).alias("passed"),
        )
        .orderBy("rule")
    )


def kfold_assign(
    df: DataFrame, id_col: str, k: int = 5, salt: str = "fold"
) -> DataFrame:
    """Deterministic k-fold assignment for distributed cross-validation:
    fold = md5(salt:id) bucket mod k — engine-stable like
    `sample_by_hash`, so folds are reproducible across runs/engines and
    a fold's train/holdout split can be recomputed anywhere. Map-only."""
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"{salt}:"), F.col(id_col).cast("string"))), 1, 8
        ),
        16,
        10,
    ).cast("long")
    return df.withColumn("fold", (h % k).cast("int"))


def fd_check(
    df,
    determinant_cols: list[str],
    dependent_col: str,
):
    """Functional-dependency audit: does ``determinant_cols`` uniquely
    determine ``dependent_col``? Returns one row — group count, how many
    determinant groups map to MORE than one dependent value, the worst
    group's distinct count, and the violation rate. The schema contract
    check behind "order_id should determine customer": a nonzero
    violation count means upstream produced conflicting facts, which
    silently corrupts any downstream join that assumes uniqueness.

    Two chained hash aggregates on prefix keys — the (determinants,
    dependent) distinct is the only corpus-sized shuffle and is
    map-side combined; the second agg folds the distinct frame.
    """
    per_group = (
        df.select(*determinant_cols, dependent_col)
        .distinct()
        .groupBy(*determinant_cols)
        .agg(F.count(F.lit(1)).alias("__nd"))
    )
    return per_group.agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum((F.col("__nd") > 1).cast("long")).cast("long").alias("n_violating"),
        F.max("__nd").cast("long").alias("max_distinct"),
        (
            F.sum((F.col("__nd") > 1).cast("long")) / F.count(F.lit(1))
        ).alias("violation_rate"),
    )


def schema_diff(before: DataFrame, after: DataFrame) -> DataFrame:
    """Data-contract schema drift between two frames (yesterday's
    snapshot vs today's ingest): one row per column that was ADDED,
    REMOVED, TYPE_CHANGED, or NULLABILITY_CHANGED. Pure metadata — no
    data is scanned, so it is free to run before every pipeline stage
    and cheap to gate ingestion on (`schema_diff(...).isEmpty()`).

    Column ORDER changes are deliberately not flagged (Spark reads by
    name); a renamed column surfaces as one REMOVED + one ADDED row,
    which is the honest answer without content analysis.
    """
    spark = before.sparkSession
    b = {f.name: f for f in before.schema.fields}
    a = {f.name: f for f in after.schema.fields}
    rows = []
    for name in sorted(set(b) | set(a)):
        fb, fa = b.get(name), a.get(name)
        if fb is None:
            rows.append((name, "ADDED", None, fa.dataType.simpleString()))
        elif fa is None:
            rows.append((name, "REMOVED", fb.dataType.simpleString(), None))
        elif fb.dataType != fa.dataType:
            rows.append(
                (name, "TYPE_CHANGED", fb.dataType.simpleString(), fa.dataType.simpleString())
            )
        elif fb.nullable != fa.nullable:
            rows.append(
                (
                    name,
                    "NULLABILITY_CHANGED",
                    f"nullable={fb.nullable}",
                    f"nullable={fa.nullable}",
                )
            )
    return local_frame(
        spark,
        rows,
        "col_name string, change string, before string, after string",
    )


def sketch_accuracy_audit(
    df,
    group_col: str = "event_type",
    value_col: str = "value",
    probs=(0.5, 0.9, 0.99),
    accuracy: int = 10_000,
):
    """Exact-vs-sketch quantile audit: per group and probability, the
    exact interpolated percentile, the KLL-sketch estimate
    (``percentile_approx`` at the given accuracy), and their absolute /
    relative gap. This is the governance table behind every
    exact↔sketch switch in the engine (`psi_bins(exact_edges=False)`,
    `_edges`, approx profiling): before flipping a 100 TB pipeline to
    the sketch path, measure what the sketch costs on YOUR
    distribution. Rows-only by design — the sketch side is
    engine-specific (that is the point of auditing it).

    Both statistics ride ONE aggregate over the group key; output is
    |groups|·|probs| rows.
    """
    from pyspark.sql import functions as F

    parr = F.array(*[F.lit(float(p)) for p in probs])
    agg = df.groupBy(group_col).agg(
        F.percentile(F.col(value_col), parr).alias("__exact"),
        F.percentile_approx(F.col(value_col), parr, accuracy).alias("__approx"),
        F.count(F.lit(1)).alias("__n"),
    )
    fan = agg.select(
        group_col,
        F.col("__n").cast("long").alias("n_rows"),
        F.posexplode(
            F.arrays_zip(
                F.lit(list(float(p) for p in probs)).alias("p"),
                F.col("__exact").alias("exact"),
                F.col("__approx").cast("array<double>").alias("approx"),
            )
        ).alias("__i", "__z"),
    )
    exact = F.col("__z.exact")
    approx = F.col("__z.approx")
    return fan.select(
        group_col,
        "n_rows",
        F.col("__z.p").alias("p"),
        exact.alias("exact_q"),
        approx.alias("approx_q"),
        F.abs(approx - exact).alias("abs_err"),
        F.when(
            exact != 0, F.abs(approx - exact) / F.abs(exact)
        ).alias("rel_err"),
    ).orderBy(group_col, "p")


def referential_integrity(
    edges: dict[str, tuple[DataFrame, str, DataFrame, str]],
) -> DataFrame:
    """Foreign-key orphan audit over a schema's FK graph: for each named
    edge (child_df, fk_col, parent_df, pk_col), how many child rows
    reference a missing parent? The precondition check for every join
    the warehouse assumes lossless — an inner join silently DROPS
    orphans, which reads as "pipeline works" while rows vanish.

    Scale shape: each child first collapses to its DISTINCT fk frame
    with counts (map-side combined — the only corpus-sized pass), then
    LEFT joins the parent's distinct key projection tagged with a hit
    marker; n_child / n_orphans / n_null_fk fold in ONE aggregate off
    the |distinct keys| frame (a NULL fk never equi-matches, so
    hit-IS-NULL on a non-null fk ≡ the old LEFT ANTI membership). NULL
    fks are counted separately (`n_null_fk`) — SQL FK semantics exempt
    NULLs from the constraint. One output row per edge, unioned on the
    driver (|edges| plans).
    """
    if not edges:
        raise ValueError("referential_integrity: edges must be non-empty")
    outs = []
    for name, (child, fk, parent, pk) in edges.items():
        # round 13 (guide §2.4): the round-12 shape split the audit into
        # null/total/orphan branches off a checkpointed distinct-fk frame
        # — 2 scans + 1 checkpoint-materialization job + 3 single-row
        # aggregates + 2 cross-joins PER EDGE. One left join + one
        # multi-conditional aggregate computes all three counts in a
        # single pass; no lineage break needed because nothing is
        # referenced twice.
        keyed = child.groupBy(F.col(fk).alias("__fk")).agg(
            F.count(F.lit(1)).alias("__n")
        )
        pkeys = (
            parent.select(F.col(pk).alias("__fk"))
            .distinct()
            .withColumn("__hit", F.lit(1))
        )
        outs.append(
            keyed.join(pkeys, "__fk", "left")
            .agg(
                F.coalesce(F.sum("__n"), F.lit(0))
                .cast("long")
                .alias("n_child"),
                F.coalesce(
                    F.sum(
                        F.when(
                            F.col("__fk").isNotNull()
                            & F.col("__hit").isNull(),
                            F.col("__n"),
                        )
                    ),
                    F.lit(0),
                )
                .cast("long")
                .alias("n_orphans"),
                F.coalesce(
                    F.sum(F.when(F.col("__fk").isNull(), F.col("__n"))),
                    F.lit(0),
                )
                .cast("long")
                .alias("n_null_fk"),
            )
            .select(
                F.lit(name).alias("edge"),
                "n_child",
                "n_orphans",
                "n_null_fk",
                F.when(
                    F.col("n_child") > 0,
                    F.col("n_orphans") / F.col("n_child"),
                ).alias("orphan_rate"),
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


def pk_candidates(
    df: DataFrame,
    candidates: list[list[str]],
) -> DataFrame:
    """Primary-key candidate audit: for each candidate column set, is it
    unique (and non-null) enough to be a key? Reports row count,
    distinct count, duplicate rows, null-bearing rows, and the verdict
    — the discovery step before `fd_check` pins a dependency and before
    any MERGE/upsert keys on a column that only LOOKS unique.

    One hash aggregate per candidate (map-side combined to the distinct
    frame, then a single fold); candidates run as separate bounded
    plans unioned on the driver.
    """
    if not candidates:
        raise ValueError("pk_candidates: candidates must be non-empty")
    outs = []
    for cols in candidates:
        any_null = None
        for c in cols:
            cond = F.col(c).isNull()
            any_null = cond if any_null is None else (any_null | cond)
        per = df.groupBy(*cols).agg(
            F.count(F.lit(1)).alias("__n"),
            F.max(any_null.cast("int")).alias("__has_null"),
        )
        outs.append(
            per.agg(
                F.lit(",".join(cols)).alias("candidate"),
                F.coalesce(F.sum("__n"), F.lit(0)).cast("long").alias("n_rows"),
                F.count(F.lit(1)).cast("long").alias("n_distinct"),
                F.coalesce(
                    F.sum(F.when(F.col("__n") > 1, F.col("__n"))), F.lit(0)
                )
                .cast("long")
                .alias("n_duplicated_rows"),
                F.coalesce(
                    F.sum(
                        F.when(F.col("__has_null") == 1, F.col("__n"))
                    ),
                    F.lit(0),
                )
                .cast("long")
                .alias("n_null_rows"),
            ).select(
                "*",
                (
                    (F.col("n_distinct") == F.col("n_rows"))
                    & (F.col("n_null_rows") == 0)
                ).alias("is_key"),
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


def freshness_lag(
    df: DataFrame,
    series_col: str,
    ts_col: str,
    stale_after_s: float = 86400.0,
) -> DataFrame:
    """Per-series freshness audit against the dataset watermark: every
    series' latest timestamp, its lag behind the GLOBAL max (the
    "high-water mark" an incremental pipeline just wrote), event count
    on the watermark's CALENDAR DAY, and a staleness verdict — the
    first thing an on-call checks when one source silently stops.

    ONE corpus pass collapses to the (series, day) rollup (map-side
    combined); the per-series stats, the 1-row watermark fold, and the
    watermark-day counts all derive from that frame (the watermark-day
    definition is deliberately calendar-anchored so it folds off the
    rollup instead of re-scanning the corpus for a sliding 24 h). Lags
    are exact integer microseconds.
    """
    ts = F.col(ts_col).cast("timestamp")  # NTZ-robust for unix_micros
    rolled = df.groupBy(
        F.col(series_col).alias("__s"),
        F.date_trunc("day", ts).alias("__d"),
    ).agg(
        F.max(ts).alias("__last"),
        F.count(F.lit(1)).cast("long").alias("__n"),
    )
    # per-series stats, the watermark fold and its day counts share one scan
    rolled = reuse(rolled)
    per = rolled.groupBy("__s").agg(
        F.max("__last").alias("last_ts"),
        F.sum("__n").cast("long").alias("n_total"),
    )
    glob = per.agg(F.max("last_ts").alias("__wm"))
    staged = per.crossJoin(F.broadcast(glob))
    wm_day = rolled.join(F.broadcast(glob)).where(
        F.col("__d") == F.date_trunc("day", F.col("__wm"))
    ).groupBy("__s").agg(
        F.sum("__n").cast("long").alias("n_watermark_day")
    )
    lag_us = F.unix_micros(F.col("__wm")) - F.unix_micros(F.col("last_ts"))
    return (
        staged.join(wm_day, "__s", "left")
        .select(
            F.col("__s").alias(series_col),
            "last_ts",
            "n_total",
            F.coalesce(F.col("n_watermark_day"), F.lit(0))
            .cast("long")
            .alias("n_watermark_day"),
            (lag_us.cast("double") / F.lit(1e6)).alias("lag_s"),
            (
                lag_us.cast("double") / F.lit(1e6)
                > F.lit(float(stale_after_s))
            ).alias("is_stale"),
        )
    )


def pattern_profile(
    df: DataFrame,
    col: str,
    top_n: int = 10,
) -> DataFrame:
    """Value-shape profile of a string column: digits→9, lowercase→a,
    uppercase→A (punctuation/whitespace kept literal), then the top-N
    masks by frequency — the data-quality fingerprint that catches a
    mixed-format column (two date styles, a stray currency symbol, an
    unpadded id) that null/numeric profiles cannot see.

    Map-only regexp mask + one hash aggregate to the |masks| frame;
    top-N compiles to TakeOrderedAndProject (per-partition heaps, never
    a global sort). NULLs report as the literal mask '<null>'.
    Returns (mask, n_rows, share, example) — `example` is the MIN raw
    value per mask (deterministic, engine-stable).
    """
    from pyspark.sql import Window

    mask = F.when(F.col(col).isNull(), F.lit("<null>")).otherwise(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.col(col).cast("string"), "[0-9]", "9"),
                "[a-z]",
                "a",
            ),
            "[A-Z]",
            "A",
        )
    )
    staged = df.select(
        mask.alias("mask"), F.col(col).cast("string").alias("__v")
    )
    counts = staged.groupBy("mask").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.min("__v").alias("example"),
    )
    wtot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    tot = F.sum("n_rows").over(wtot).cast("double")
    return (
        counts.select(
            "mask",
            "n_rows",
            (
                F.floor(F.col("n_rows") / tot * F.lit(1e6) + F.lit(0.5))
                / F.lit(1e6)
            ).alias("share"),
            "example",
        )
        .orderBy(F.col("n_rows").desc(), F.col("mask").asc())
        .limit(int(top_n))
    )
