"""Privacy auditing for training-data pipelines (beyond-reference §2.13):
k-anonymity equivalence-class audits, l-diversity, quasi-identifier
uniqueness risk, and seeded differentially-private noisy counts.

A 100 TB corpus destined for model training carries re-identification
risk that `redact_pii` (pattern scrubbing) alone cannot bound: the
combination of innocuous columns (nation × segment × balance band) can
single out an individual even with every direct identifier removed.
These operators measure that risk the way the anonymity literature
defines it (Sweeney's k-anonymity, Machanavajjhala's l-diversity) and
demonstrate the DP release mechanism for aggregate sharing.

Scale shape: every operator here is ONE map-side-combined groupBy over
the quasi-identifier tuple (plus, for summaries, a second tiny agg over
the |classes| frame) — the cheapest distributed shape there is, linear
in rows, shuffle bounded by |classes|. No windows, no joins, no Python.

Reference scope note: the reference engine has no privacy surface; this
family is part of the beyond-reference training-data-pipeline layer the
build brief names first-class.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.lineage import reuse


def _micro_sum(col: Column) -> Column:
    """Order-invariant float fold: per-row 1e-9-grid integer micro-units
    summed exactly (decimal), divided back once — the repo-wide pattern
    for cross-engine float aggregation parity."""
    return (
        F.sum(F.floor(col * F.lit(1e9) + F.lit(0.5)).cast("decimal(38,0)"))
        .cast("double")
        / F.lit(1e9)
    )


def k_anonymity(df: DataFrame, qi_cols: list[str], k: int = 5) -> DataFrame:
    """Per-equivalence-class k-anonymity audit: group on the
    quasi-identifier tuple and flag classes smaller than ``k`` — each
    flagged row is a set of records an adversary joining on the QI
    columns narrows to fewer than k candidates.

    Returns one row per equivalence class: the QI values, ``class_size``
    and ``meets_k``. A dataset is k-anonymous iff every row meets_k.
    One exact-count groupBy; |classes| output rows.
    """
    if not qi_cols:
        raise ValueError("k_anonymity: qi_cols must be non-empty")
    return df.groupBy(*qi_cols).agg(
        F.count(F.lit(1)).alias("class_size"),
    ).withColumn("meets_k", F.col("class_size") >= F.lit(int(k)))


def l_diversity(
    df: DataFrame,
    qi_cols: list[str],
    sensitive_col: str,
    l: int = 3,
) -> DataFrame:
    """l-diversity audit: k-anonymity is not enough when everyone in an
    equivalence class shares the same SENSITIVE value (the homogeneity
    attack) — the class leaks the secret without identifying anyone.
    Per class this computes

    - ``distinct_l``   distinct sensitive values (distinct l-diversity)
    - ``entropy_l``    exp(H(sensitive | class)), the entropy-l measure
      (≥ distinct-l is stricter; equals distinct_l when uniform)
    - ``meets_l``      distinct_l >= l

    Two-phase exact aggregation: first (QI, sensitive) counts — map-side
    combined — then the per-class entropy fold on the collapsed frame.
    Entropy terms fold on the 1e-9 micro-grid so the float is
    reduction-order invariant (oracle-exact cross-engine).
    """
    if not qi_cols:
        raise ValueError("l_diversity: qi_cols must be non-empty")
    cell = df.groupBy(*qi_cols, sensitive_col).agg(
        F.count(F.lit(1)).alias("__n_sv")
    )
    tot = F.sum("__n_sv")
    # H = ln(total) - sum(n*ln(n))/total, exact-count arithmetic with one
    # micro-grid fold of the n*ln(n) terms
    nlogn = _micro_sum(F.col("__n_sv").cast("double") * F.log("__n_sv"))
    per_class = cell.groupBy(*qi_cols).agg(
        F.count(F.lit(1)).cast("long").alias("distinct_l"),
        tot.cast("long").alias("class_size"),
        nlogn.alias("__nlogn"),
    )
    h = F.log(F.col("class_size")) - F.col("__nlogn") / F.col("class_size")
    return per_class.select(
        *qi_cols,
        "class_size",
        "distinct_l",
        (F.floor(F.exp(h) * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)).alias(
            "entropy_l"
        ),
        (F.col("distinct_l") >= F.lit(int(l))).alias("meets_l"),
    )


def qi_uniqueness(df: DataFrame, qi_cols: list[str]) -> DataFrame:
    """Quasi-identifier uniqueness risk profile: the headline numbers a
    privacy review asks for — how many records are UNIQUE on the QI tuple
    (size-1 classes: directly re-identifiable), and how the rest spread
    across risk bands. Returns one row per band (``1``, ``2-5``,
    ``6-20``, ``>20``) with class and record counts and the record share.

    Two aggs: rows → |classes| (map-side combined), |classes| → 4 bands.
    The share divides exact counts, then rounds to the 1e-6 grid.
    """
    if not qi_cols:
        raise ValueError("qi_uniqueness: qi_cols must be non-empty")
    classes = df.groupBy(*qi_cols).agg(F.count(F.lit(1)).alias("__sz"))
    band = (
        F.when(F.col("__sz") == 1, F.lit("1"))
        .when(F.col("__sz") <= 5, F.lit("2-5"))
        .when(F.col("__sz") <= 20, F.lit("6-20"))
        .otherwise(F.lit(">20"))
    )
    banded = classes.groupBy(band.alias("class_size_band")).agg(
        F.count(F.lit(1)).cast("long").alias("n_classes"),
        F.sum("__sz").cast("long").alias("n_records"),
    )
    total = df.count()  # one scalar job; embeds as a literal like nb in
    # record_linkage_scaled (the oracle computes it as a scalar subquery)
    return banded.select(
        "class_size_band",
        "n_classes",
        "n_records",
        (
            F.floor(
                F.col("n_records") / F.lit(float(total)) * F.lit(1e6) + F.lit(0.5)
            )
            / F.lit(1e6)
        ).alias("record_share"),
    )


def dp_noisy_count(
    df: DataFrame,
    group_cols: list[str],
    epsilon: float = 1.0,
    seed: str = "dp",
) -> DataFrame:
    """Differentially-private release mechanism for group counts:
    count + Laplace(1/ε) noise via inverse-CDF sampling,
    noise = −(1/ε)·sign(u−½)·ln(1−2|u−½|), u ∈ (0,1).

    The uniform u is SEEDED, not random: the md5-prefix BIGINT of
    ``seed:group`` scaled to (0,1) — the repo's engine-portable hash
    (`sample_by_hash` uses the identical construction), so the release
    is reproducible, testable, and oracle-exact. A production release
    would swap the seeded u for a secure RNG; everything else — the
    sensitivity-1 count, the ε-calibrated scale, the post-processing
    floor at 0 — is the real mechanism. Noisy counts round to the 1e-6
    grid (micro-grid convention) and clamp at 0 (post-processing keeps
    ε-DP).

    One exact groupBy; noise is a codegen'd expression on the
    |groups|-row result. Linear, shuffle bounded by |groups|.
    """
    if epsilon <= 0:
        raise ValueError("dp_noisy_count: epsilon must be > 0")
    if not group_cols:
        raise ValueError("dp_noisy_count: group_cols must be non-empty")
    counts = df.groupBy(*group_cols).agg(F.count(F.lit(1)).alias("true_count"))
    key = F.concat_ws(":", F.lit(seed), *[F.col(c).cast("string") for c in group_cols])
    # 8 hex chars -> [0, 2^32); +0.5 shifts off exact 0 so ln(1-2|u-.5|)
    # is finite for every bucket value
    u = (F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("double") + F.lit(0.5)) / F.lit(
        4294967296.0
    )
    centered = u - F.lit(0.5)
    noise = (
        -F.lit(1.0 / float(epsilon))
        * F.signum(centered)
        * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(centered))
    )
    noisy = F.greatest(
        F.floor((F.col("true_count") + noise) * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6),
        F.lit(0.0),
    )
    return counts.select(
        *group_cols,
        "true_count",
        noisy.alias("noisy_count"),
    )


def t_closeness(
    df: DataFrame,
    qi_cols: list[str],
    sensitive_col: str,
    t: float = 0.2,
    n_bins: int = 20,
) -> DataFrame:
    """t-closeness audit for a NUMERIC sensitive attribute: even an
    l-diverse equivalence class leaks when its sensitive DISTRIBUTION
    skews far from the table's (the skewness attack — "this class is
    diverse, but 90% of it is the rare disease"). Per class this
    computes the ordered Earth Mover's Distance between the class and
    global distributions over ``n_bins`` fixed-width bins:

        EMD = Σ_b |CumP_class(b) − CumP_global(b)| / (n_bins − 1)

    — the standard ordered-attribute EMD (Li, Li & Venkatasubramanian
    2007), on a fixed bin grid rather than raw distinct values so the
    frame stays |classes|·n_bins at any corpus size. Bin edges derive
    from the global min/max in one 1-row aggregate (broadcast back);
    both engines compute identical IEEE bin ids.

    Scale shape: one (QI, bin) rollup (map-side combined) is the only
    corpus-sized pass; classes densify against the bin range via an
    explode (so absent bins still carry their cumulative gap), the
    per-class cumulative runs partitioned by class, and the global
    cumulative is a window over exactly n_bins rows (bounded by
    construction). |diff| terms fold on the 1e-9 micro-grid.
    Returns per class: QI cols, class_size, emd, meets_t.
    """
    if not qi_cols:
        raise ValueError("t_closeness: qi_cols must be non-empty")
    if n_bins < 2:
        raise ValueError("t_closeness: n_bins must be >= 2")
    from pyspark.sql import Window

    b = int(n_bins)
    base = df.where(F.col(sensitive_col).isNotNull())
    rng = base.agg(
        F.min(sensitive_col).cast("double").alias("__lo"),
        F.max(sensitive_col).cast("double").alias("__hi"),
    )
    v = F.col(sensitive_col).cast("double")
    width = F.col("__hi") - F.col("__lo")
    bin_id = F.when(width > 0,
        F.least(
            F.floor((v - F.col("__lo")) / width * F.lit(float(b))).cast(
                "int"
            ),
            F.lit(b - 1),
        ),
    ).otherwise(F.lit(0))
    counts = (
        base.crossJoin(F.broadcast(rng))
        .groupBy(*qi_cols, bin_id.alias("__bin"))
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    # class sizes, the densify join and the global histogram share one scan
    counts = reuse(counts)
    classes = counts.groupBy(*qi_cols).agg(
        F.sum("__n").cast("long").alias("class_size")
    )
    bins = F.explode(F.sequence(F.lit(0), F.lit(b - 1))).alias("__bin")
    dense = (
        classes.select(*qi_cols, "class_size", bins)
        .join(counts, [*qi_cols, "__bin"], "left")
        .withColumn("__n", F.coalesce(F.col("__n"), F.lit(0)))
    )
    wc = (
        Window.partitionBy(*qi_cols)
        .orderBy("__bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    staged = dense.withColumn(
        "__cum_c",
        F.sum("__n").over(wc).cast("double") / F.col("class_size"),
    )
    gtot = counts.groupBy("__bin").agg(F.sum("__n").alias("__gn"))
    # global cumulative + total: windows over exactly n_bins rows
    # (bounded by construction — no unbounded-input window, no action)
    wg = Window.orderBy("__bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.orderBy("__bin").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    gcum = (
        counts.sparkSession.range(b)
        .select(F.col("id").cast("int").alias("__bin"))
        .join(gtot, "__bin", "left")
        .withColumn("__gn", F.coalesce(F.col("__gn"), F.lit(0)))
        .withColumn(
            "__cum_g",
            F.sum("__gn").over(wg).cast("double")
            / F.sum("__gn").over(wall).cast("double"),
        )
        .select("__bin", "__cum_g")
    )
    term = F.abs(F.col("__cum_c") - F.col("__cum_g"))
    out = (
        staged.join(F.broadcast(gcum), "__bin")
        .groupBy(*qi_cols)
        .agg(
            F.max("class_size").cast("long").alias("class_size"),
            (_micro_sum(term) / F.lit(float(b - 1))).alias("__emd_raw"),
        )
    )
    emd = F.floor(F.col("__emd_raw") * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    return out.select(
        *qi_cols,
        "class_size",
        emd.alias("emd"),
        (emd <= F.lit(float(t))).alias("meets_t"),
    )
