"""Distribution-drift monitoring (V3 adjunct — SURVEY §2.11).

The reference tracks running score stats in its serving layer
(``api/main.py`` stats endpoint) but has no drift detector; any
production fraud scorer needs one — score/feature distributions shifting
between the training window and live traffic is the canonical model-decay
signal. PSI (population stability index) is the industry-standard
measure: decile the reference window, compare bin proportions,
``PSI = Σ (p_cur − p_ref)·ln(p_cur/p_ref)``.

Scale shape: edges are ONE exact-percentile aggregate over the reference
window (map-side combined); binning is a map-only projection against the
broadcast 1-row edge array; everything downstream of the two groupBys is
n_bins rows. No windows, no big joins — two scans total.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import local
from ..functions.lineage import reuse
from ..functions.local import fetch_bounded, local_frame


def _edges(
    ref: DataFrame, value_col: str, n_bins: int, exact: bool = True
) -> DataFrame:
    """Decile edges. ``exact=True`` (default, oracle-parity) buffers the
    sorted column per partial — fine to ~10⁸ rows/partition; at 100 TB
    pass ``exact=False`` for the KLL-sketch `percentile_approx` (bin
    boundaries shift slightly; PSI is robust to that by construction)."""
    probs = [i / n_bins for i in range(1, n_bins)]
    parr = F.array(*[F.lit(p) for p in probs])
    agg = (
        F.percentile(F.col(value_col), parr)
        if exact
        else F.percentile_approx(F.col(value_col), parr, 10000)
    )
    return ref.agg(agg.cast("array<double>").alias("__edges"))


def _bin_counts(df: DataFrame, edges: DataFrame, value_col: str, out: str) -> DataFrame:
    """bin = #edges strictly below value — map-only after the broadcast
    1-row edge array; then one tiny hash agg (≤ n_bins groups)."""
    binned = df.crossJoin(F.broadcast(edges)).select(
        F.size(
            F.filter(F.col("__edges"), lambda e: F.col(value_col) > e)
        ).alias("bin")
    )
    return binned.groupBy("bin").agg(F.count(F.lit(1)).alias(out))


def psi_bins(
    ref: DataFrame,
    cur: DataFrame,
    value_col: str = "value",
    n_bins: int = 10,
    eps: float = 1e-6,
    exact_edges: bool = True,
) -> DataFrame:
    """Per-bin PSI decomposition: (bin, n_ref, n_cur, p_ref, p_cur,
    psi_term), all ``n_bins`` rows always present (empty bins carry the
    ``eps``-floored proportion so the log stays finite — the standard PSI
    zero-fix). Sum ``psi_term`` for the headline index; the per-bin form
    is what a monitoring dashboard actually plots. ``exact_edges=False``
    switches the decile pass to the KLL sketch for 100 TB references."""
    spark = ref.sparkSession
    edges = _edges(ref, value_col, n_bins, exact_edges)
    rc = _bin_counts(ref, edges, value_col, "n_ref")
    cc = _bin_counts(cur, edges, value_col, "n_cur")
    tot_r = ref.agg(F.count(F.lit(1)).alias("__tr"))
    tot_c = cur.agg(F.count(F.lit(1)).alias("__tc"))
    bins = spark.range(n_bins).select(F.col("id").cast("int").alias("bin"))
    joined = (
        bins.join(rc, "bin", "left")
        .join(cc, "bin", "left")
        .na.fill({"n_ref": 0, "n_cur": 0})
        .crossJoin(F.broadcast(tot_r))
        .crossJoin(F.broadcast(tot_c))
    )
    p_ref = F.greatest(F.col("n_ref") / F.col("__tr"), F.lit(eps))
    p_cur = F.greatest(F.col("n_cur") / F.col("__tc"), F.lit(eps))
    return joined.select(
        "bin",
        "n_ref",
        "n_cur",
        p_ref.alias("p_ref"),
        p_cur.alias("p_cur"),
        ((p_cur - p_ref) * F.log(p_cur / p_ref)).alias("psi_term"),
    ).orderBy("bin")


def ks_statistic(
    ref: DataFrame,
    cur: DataFrame,
    value_col: str = "value",
    n_chunks: int = 32,
) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov statistic, distributed.

    ``KS = max over values v of |F_ref(v) − F_cur(v)|`` with ties handled
    exactly (both CDFs evaluated at every distinct value). The global
    CDF needs a running sum along the value order — the partitionless-
    window trap — so it runs on the chunked primitives: one groupBy on
    value, `range_chunk` + per-chunk two-column cumsum, triangular
    offsets, then a global max agg. Every post-shuffle table is bounded
    by |distinct values| and the max is map-side combined.

    Returns one row: (ks_stat, n_ref, n_cur).
    """
    from . import chunked as C
    from pyspark.sql import Window

    tagged = ref.select(
        F.col(value_col).alias("v"), F.lit(1).alias("r"), F.lit(0).alias("c")
    ).unionAll(
        cur.select(
            F.col(value_col).alias("v"), F.lit(0).alias("r"), F.lit(1).alias("c")
        )
    )
    # the cut and the chunk assignment share one two-corpus groupBy
    g = tagged.groupBy("v").agg(
        F.sum("r").alias("n_ref_v"), F.sum("c").alias("n_cur_v")
    ).transform(reuse)
    ch = C.range_chunk(g, "v", n_chunks)
    w_in = (
        Window.partitionBy("__chunk")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    within = ch.withColumn("__cr_in", F.sum("n_ref_v").over(w_in)).withColumn(
        "__cc_in", F.sum("n_cur_v").over(w_in)
    )
    # per-chunk totals from the windowed frame (monotone nonneg cumsums →
    # max = chunk total; groupBy key == window partitioning → exchange reuse)
    totals = within.groupBy("__chunk").agg(
        F.max("__cr_in").alias("__cr"), F.max("__cc_in").alias("__cc")
    )
    offsets = C.chunk_offsets(totals, ["__cr", "__cc"])
    tot = totals.agg(
        F.sum("__cr").alias("__tr"), F.sum("__cc").alias("__tc")
    )
    cdfs = (
        within.join(F.broadcast(offsets), "__chunk")
        .crossJoin(F.broadcast(tot))
        .select(
            (
                (F.col("__cr_off") + F.col("__cr_in")) / F.col("__tr")
                - (F.col("__cc_off") + F.col("__cc_in")) / F.col("__tc")
            ).alias("__d"),
            "__tr",
            "__tc",
        )
    )
    return cdfs.agg(
        F.max(F.abs(F.col("__d"))).alias("ks_stat"),
        F.first("__tr").alias("n_ref"),
        F.first("__tc").alias("n_cur"),
    )


def mann_whitney(
    ref: DataFrame,
    cur: DataFrame,
    value_col: str = "value",
    n_chunks: int = 32,
) -> DataFrame:
    """Exact two-sample Mann-Whitney U test (Wilcoxon rank-sum),
    distributed — the NONPARAMETRIC sibling of `ab_test`'s z and
    `ks_statistic`'s D: does ``cur`` stochastically dominate ``ref``,
    without assuming any distribution shape? The workhorse for skewed
    metrics (revenue per user, latency) where a mean test misleads.

    Exactness: ranks never materialize. U_cur = Σ_v n_cur(v) ·
    (A_less(v) + ½·n_ref(v)) over DISTINCT values v, so 2·U_cur is a
    pure INTEGER fold (tie midpoints ×2) — reduction-order invariant,
    oracle-exact. The normal approximation applies the standard tie
    correction: σ² = (n_r·n_c/12)·((n+1) − Σ(t³−t)/(n(n−1))), built
    from integer aggregates; z then assembles in closed-form IEEE
    arithmetic (+,−,×,/,sqrt only — no libm), so it is bit-identical
    across engines with no rounding fold needed.

    Scale shape: same chunked-cumsum plan as `ks_statistic` — one
    groupBy on value, per-chunk cumulative of ref counts + triangular
    offsets (NO partitionless window), then one integer-exact global
    agg. Every post-shuffle frame is bounded by |distinct values|.
    Returns one row: (n_ref, n_cur, u_cur, z) — z NULL when either
    side is empty or every value ties (σ = 0).
    """
    from . import chunked as C
    from pyspark.sql import Window

    tagged = ref.select(
        F.col(value_col).alias("v"), F.lit(1).alias("r"), F.lit(0).alias("c")
    ).unionAll(
        cur.select(
            F.col(value_col).alias("v"), F.lit(0).alias("r"), F.lit(1).alias("c")
        )
    )
    # the cut and the chunk assignment share one two-corpus groupBy
    g = tagged.groupBy("v").agg(
        F.sum("r").alias("n_ref_v"), F.sum("c").alias("n_cur_v")
    ).transform(reuse)
    ch = C.range_chunk(g, "v", n_chunks)
    w_in = (
        Window.partitionBy("__chunk")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    within = ch.withColumn("__cr_in", F.sum("n_ref_v").over(w_in))
    totals = within.groupBy("__chunk").agg(F.max("__cr_in").alias("__cr"))
    offsets = C.chunk_offsets(totals, ["__cr"])
    # 2·U_cur contribution of value v: n_cur(v)·(2·ref_less(v) + n_ref(v));
    # tie term: (t³ − t) with t = n_ref(v) + n_cur(v). Both pure BIGINT.
    t = (F.col("n_ref_v") + F.col("n_cur_v")).cast("long")
    ref_less = (F.col("__cr_off") + F.col("__cr_in") - F.col("n_ref_v")).cast(
        "long"
    )
    stats = (
        within.join(F.broadcast(offsets), "__chunk")
        .select(
            F.col("n_ref_v").cast("long").alias("nr"),
            F.col("n_cur_v").cast("long").alias("nc"),
            (F.col("n_cur_v") * (F.lit(2) * ref_less + F.col("n_ref_v")))
            .cast("decimal(38,0)")
            .alias("u2"),
            (t * t * t - t).cast("decimal(38,0)").alias("tie"),
        )
        .agg(
            F.sum("nr").cast("double").alias("__nr"),
            F.sum("nc").cast("double").alias("__nc"),
            F.sum("u2").cast("double").alias("__u2"),
            F.sum("tie").cast("double").alias("__tie"),
        )
    )
    nr, nc = F.col("__nr"), F.col("__nc")
    n = nr + nc
    u = F.col("__u2") / F.lit(2.0)
    var = (
        nr
        * nc
        / F.lit(12.0)
        * ((n + F.lit(1.0)) - F.col("__tie") / (n * (n - F.lit(1.0))))
    )
    z = (u - nr * nc / F.lit(2.0)) / F.sqrt(var)
    return stats.select(
        nr.cast("long").alias("n_ref"),
        nc.cast("long").alias("n_cur"),
        u.alias("u_cur"),
        F.when((nr > 0) & (nc > 0) & (var > 0), z).alias("z"),
    )


def benford_profile(
    df: DataFrame,
    value_col: str = "value",
) -> DataFrame:
    """First-significant-digit distribution vs Benford's law — the
    classic forensic-accounting screen for fabricated amounts (a fraud
    analysis the reference never ships but its domain demands).

    Digit extraction is STRING-based on integer cents
    (``substr(cast(floor(v·100) as string), 1, 1)``) rather than
    ``floor(log10(v))`` — integer-to-string is bit-identical across
    engines, while log10 near exact powers of 10 (money values like
    100.00!) can flip the digit on a last-ulp difference. Map-only digit
    tag + one ≤9-group hash agg; all 9 digits always present.

    Output per digit d: n, p (observed), expected_p = log10(1+1/d),
    deviation = p − expected_p.
    """
    spark = df.sparkSession
    pos = df.filter(F.col(value_col) > 0).select(
        F.substring(
            F.floor(F.col(value_col) * 100).cast("long").cast("string"), 1, 1
        )
        .cast("int")
        .alias("digit")
    )
    counts = pos.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    tot = counts.agg(F.sum("n").alias("__t"))
    digits = spark.range(1, 10).select(F.col("id").cast("int").alias("digit"))
    expected = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
    return (
        digits.join(counts, "digit", "left")
        .na.fill({"n": 0})
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n",
            (F.col("n") / F.col("__t")).alias("p"),
            expected.alias("expected_p"),
            (F.col("n") / F.col("__t") - expected).alias("deviation"),
        )
        .orderBy("digit")
    )


def psi(
    ref: DataFrame,
    cur: DataFrame,
    value_col: str = "value",
    n_bins: int = 10,
    eps: float = 1e-6,
    exact_edges: bool = True,
) -> float:
    """Headline PSI scalar. Rule of thumb: <0.1 stable, 0.1–0.25 watch,
    >0.25 retrain."""
    row = (
        psi_bins(ref, cur, value_col, n_bins, eps, exact_edges)
        .agg(F.sum("psi_term").alias("psi"))
        .collect()[0]
    )
    return float(row.psi)


def chi2_drift(
    ref: DataFrame, cur: DataFrame, col: str, eps: float = 0.0
) -> DataFrame:
    """Two-sample chi-square homogeneity statistic for CATEGORICAL drift
    — the counterpart of PSI (binned numeric) and KS (continuous): did
    the category distribution shift between the reference and current
    windows?

    chi² = Σ_cells (obs − exp)² / exp with exp = row·col totals / N over
    the 2×k contingency table. `eps` is an expected-count smoothing
    floor: expected counts below eps are raised to eps before dividing
    (guards the statistic against blow-up on near-empty cells); the
    default 0.0 leaves the classical statistic unchanged. Integer counts
    + one broadcast of the (k ≤ cardinality)-row table: two hash aggs, a
    full outer join on the category key, and a one-row result — no
    full-data shuffle beyond the group counts. Returns
    (chi2, dof, n_categories)."""
    rc = ref.groupBy(F.col(col).alias("cat")).agg(F.count(F.lit(1)).alias("n_ref"))
    cc = cur.groupBy(F.col(col).alias("cat")).agg(F.count(F.lit(1)).alias("n_cur"))
    cells = rc.join(cc, "cat", "full_outer").select(
        "cat",
        F.coalesce("n_ref", F.lit(0)).alias("n_ref"),
        F.coalesce("n_cur", F.lit(0)).alias("n_cur"),
    )
    tot = cells.agg(
        F.sum("n_ref").alias("__tr"), F.sum("n_cur").alias("__tc")
    )
    j = cells.crossJoin(F.broadcast(tot))
    n = (F.col("__tr") + F.col("__tc")).cast("double")
    rowt = (F.col("n_ref") + F.col("n_cur")).cast("double")
    e_ref = rowt * F.col("__tr") / n
    e_cur = rowt * F.col("__tc") / n
    d_ref = F.nullif(F.greatest(e_ref, F.lit(float(eps))), F.lit(0.0))
    d_cur = F.nullif(F.greatest(e_cur, F.lit(float(eps))), F.lit(0.0))
    term = (
        (F.col("n_ref") - e_ref) * (F.col("n_ref") - e_ref) / d_ref
        + (F.col("n_cur") - e_cur) * (F.col("n_cur") - e_cur) / d_cur
    )
    from ..functions.exprs import r6

    return j.agg(
        F.sum(term).cast("double").alias("__chi2"),
        F.count(F.lit(1)).alias("__k"),
    ).select(
        r6(F.col("__chi2")).alias("chi2"),
        (F.col("__k") - 1).cast("int").alias("dof"),
        F.col("__k").cast("int").alias("n_categories"),
    )


def cusum_changepoint(
    df: DataFrame,
    ts_col: str = "ts",
    type_col: str = "event_type",
    value_col: str = "value",
    bucket: str = "hour",
) -> DataFrame:
    """CUSUM changepoint scan per series: cumulative sum of deviations
    from the series mean over the time-bucket rollup; the bucket where
    |S_t| peaks is the level-shift candidate, and the peak magnitude is
    the shift evidence (0 for a flat series, grows linearly after a
    sustained shift).

    Scale shape: the corpus collapses to |types|·|buckets| exact-decimal
    actuals in one map-side-combined shuffle; the mean, the cumulative
    S_t, and the argmax all run per type over the rollup frame. Returns
    (type, changepoint_bucket, cusum_peak, direction).
    """
    from pyspark.sql import Window

    b = F.date_trunc(bucket, F.col(ts_col)).alias("bucket")
    # keep the per-bucket totals DECIMAL through every sum: float window
    # aggregates fold in partition-row order, which is nondeterministic
    # for unordered frames — decimal sums are order-invariant bit-exact
    actuals = df.groupBy(type_col, b).agg(
        F.sum(F.col(value_col).cast("decimal(25,2)")).alias("actual_dec")
    )
    wt = Window.partitionBy(type_col)
    word = Window.partitionBy(type_col).orderBy("bucket")
    wcum = word.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # divide AFTER the double cast: decimal-division result scales are
    # engine-specific, double/long division is IEEE-identical everywhere
    mean = F.sum("actual_dec").over(wt).cast("double") / F.count(
        F.lit(1)
    ).over(wt)
    staged = actuals.select(
        type_col,
        "bucket",
        (
            F.sum("actual_dec").over(wcum).cast("double")
            - F.row_number().over(word) * mean
        ).alias("s"),
    )
    wpick = Window.partitionBy(type_col).orderBy(
        F.abs(F.col("s")).desc(), F.col("bucket")
    )
    return (
        staged.withColumn("__rn", F.row_number().over(wpick))
        .where(F.col("__rn") == 1)
        .select(
            type_col,
            F.col("bucket").alias("changepoint_bucket"),
            F.abs(F.col("s")).alias("cusum_peak"),
            F.when(F.col("s") > 0, F.lit("up"))
            .otherwise(F.lit("down"))
            .alias("direction"),
        )
    )


def cramers_v(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """Cramér's V association between two categorical columns: the
    chi-square statistic of the r×c contingency table normalized to
    [0, 1] — V = sqrt(chi² / (n·(min(r,c)−1))). 0 = independent,
    1 = one column determines the other. The drift family's
    within-snapshot counterpart: `chi2_drift` compares two windows of
    ONE column; this measures dependence BETWEEN two columns (is
    event mix a function of hour-of-day?).

    Scale shape: one map-side-combined groupBy(a, b) collapses the
    corpus to the r·c contingency cells; marginals, the total, chi²,
    and V all run as windows/aggregates over that tiny frame. Output
    is a single row (v, chi2, dof, n).
    """
    from pyspark.sql import Window

    from ..functions.exprs import r6

    cells = df.groupBy(
        F.col(col_a).alias("__a"), F.col(col_b).alias("__b")
    ).agg(F.count(F.lit(1)).alias("n"))
    wa = Window.partitionBy("__a")
    wb = Window.partitionBy("__b")
    wall = Window.partitionBy()
    n_tot = F.sum("n").over(wall).cast("double")
    e = F.sum("n").over(wa).cast("double") * F.sum("n").over(wb) / n_tot
    # zero cells are absent from the groupBy frame; the identity
    # chi² = Σ o²/e − n needs only NONZERO cells (o = 0 ⇒ o²/e = 0),
    # so the empty-cell expected mass is folded in exactly without
    # densifying the r×c grid
    staged = cells.select(
        "__a",
        "__b",
        "n",
        (F.col("n").cast("double") * F.col("n") / e).alias("__term"),
        n_tot.alias("__n"),
    )
    agg = staged.agg(
        (F.sum("__term") - F.max("__n")).alias("__chi2"),
        F.max("__n").alias("__ntot"),
        F.count_distinct("__a").alias("__r"),
        F.count_distinct("__b").alias("__c"),
    )
    dof_min = F.least(F.col("__r"), F.col("__c")) - F.lit(1)
    return agg.select(
        r6(
            F.sqrt(F.col("__chi2") / (F.col("__ntot") * dof_min))
        ).alias("v"),
        r6(F.col("__chi2")).alias("chi2"),
        ((F.col("__r") - 1) * (F.col("__c") - 1)).cast("int").alias("dof"),
        F.col("__ntot").cast("long").alias("n"),
    )


def acf(
    df: DataFrame,
    ts_col: str = "ts",
    type_col: str = "event_type",
    value_col: str = "value",
    bucket: str = "hour",
    max_lag: int = 6,
) -> DataFrame:
    """Autocorrelation function per series: Pearson autocorrelation of
    the time-bucketed value totals at lags 1..max_lag, the standard
    seasonality/persistence diagnostic (a daily cycle shows as a peak at
    lag 24 on hourly buckets; card-testing bursts as high lag-1).

    Uses the classical estimator r_k = Σ(x_t−x̄)(x_{t−k}−x̄) / Σ(x_t−x̄)²
    with the FULL-series mean/variance in the denominator (not the
    pairwise-complete variant), so r_0 ≡ 1 and |r_k| ≤ 1.

    Scale shape: the corpus collapses to |types|·|buckets| decimal-exact
    actuals in one map-side-combined shuffle; the K lag columns share
    ONE window exchange (same partitioning), the deviation products are
    cast to decimal BEFORE the final per-(type, lag) sum so the result
    is summation-order invariant, and the output is |types|·K rows.
    """
    from pyspark.sql import Window

    from ..functions.exprs import r6

    b = F.date_trunc(bucket, F.col(ts_col)).alias("bucket")
    actuals = df.groupBy(type_col, b).agg(
        F.sum(F.col(value_col).cast("decimal(25,2)")).alias("x_dec")
    )
    wt = Window.partitionBy(type_col)
    word = Window.partitionBy(type_col).orderBy("bucket")
    x = F.col("x_dec").cast("double")
    mean = F.sum("x_dec").over(wt).cast("double") / F.count(F.lit(1)).over(wt)
    staged = actuals.select(
        type_col,
        (x - mean).alias("d0"),
        *[
            (F.lag("x_dec", k).over(word).cast("double") - mean).alias(f"d{k}")
            for k in range(1, max_lag + 1)
        ],
    )
    # unpivot the K lag products; decimal casts make the sums
    # order-invariant (hash-agg fold order is nondeterministic)
    dev_sq = (F.col("d0") * F.col("d0")).cast("decimal(38,10)")
    pairs = staged.select(
        type_col,
        dev_sq.alias("dd"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("lag"),
                        (F.col("d0") * F.col(f"d{k}"))
                        .cast("decimal(38,10)")
                        .alias("num"),
                    )
                    for k in range(1, max_lag + 1)
                ]
            )
        ).alias("kv"),
    ).select(type_col, "dd", F.col("kv.lag").alias("lag"), F.col("kv.num").alias("num"))
    out = pairs.groupBy(type_col, "lag").agg(
        F.sum("num").alias("__num"),
        F.sum("dd").alias("__den"),
        F.count("num").alias("__npairs"),
    )
    return out.select(
        type_col,
        F.col("lag").cast("int").alias("lag"),
        r6(
            F.col("__num").cast("double") / F.col("__den").cast("double")
        ).alias("acf"),
        (F.col("__npairs")).cast("long").alias("n_pairs"),
    )


def drift_report(
    ref: DataFrame,
    cur: DataFrame,
    numeric_col: str = "value",
    cat_col: str = "event_type",
) -> DataFrame:
    """One-stop monitoring report: the three drift statistics the family
    provides — PSI (binned numeric), exact two-sample KS (continuous),
    and chi-square homogeneity (categorical) — computed between the same
    reference and current windows and unioned into a uniform
    (metric, col_name, statistic) frame. What a nightly model-monitoring
    job actually materializes: one tiny table, one alert query.

    Pure composition: each branch keeps its own scale shape (PSI's
    decile binning, KS's chunked CDF, chi2's cell aggregation) and
    reduces to a 1-row frame before the union — the union moves 3 rows.
    """
    p = (
        psi_bins(ref, cur, numeric_col, n_bins=10)
        .agg(F.sum("psi_term").alias("statistic"))
        .select(
            F.lit("psi").alias("metric"),
            F.lit(numeric_col).alias("col_name"),
            "statistic",
        )
    )
    k = ks_statistic(ref, cur, numeric_col).select(
        F.lit("ks").alias("metric"),
        F.lit(numeric_col).alias("col_name"),
        F.col("ks_stat").alias("statistic"),
    )
    c = chi2_drift(ref, cur, cat_col).select(
        F.lit("chi2").alias("metric"),
        F.lit(cat_col).alias("col_name"),
        F.col("chi2").cast("double").alias("statistic"),
    )
    return p.unionByName(k).unionByName(c)


def volume_anomaly(
    df: DataFrame,
    ts_col: str = "ts",
    bucket: str = "day",
    k: float = 3.5,
) -> DataFrame:
    """Pipeline-health screen: per-``bucket`` row volumes with a robust
    (median/MAD) z-score and an anomaly flag at ``|z| > k``. A feed that
    silently drops to half volume — or doubles because an upstream
    producer started double-writing — poisons every downstream feature;
    this is the one-table audit a scheduler alerts on. Median/MAD rather
    than mean/std so the anomalous days themselves cannot drag the
    baseline toward them (3.5 is the Iglewicz-Hoaglin convention).

    One corpus-sized groupBy reduces to |buckets| rows; the two median
    aggregates and the final flag all run on that tiny frame via
    broadcast 1-row joins — no collect, no second corpus pass.
    """
    counts = df.groupBy(
        F.date_trunc(bucket, F.col(ts_col)).alias("bucket_ts")
    ).agg(F.count(F.lit(1)).alias("n_rows"))
    med = counts.agg(F.median("n_rows").alias("med"))
    with_med = counts.crossJoin(F.broadcast(med))
    mad = with_med.agg(
        F.median(F.abs(F.col("n_rows") - F.col("med"))).alias("mad")
    )
    staged = with_med.crossJoin(F.broadcast(mad))
    z = F.when(
        F.col("mad") > 0,
        F.lit(0.6745) * (F.col("n_rows") - F.col("med")) / F.col("mad"),
    )
    return staged.select(
        "bucket_ts",
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("med").cast("double").alias("baseline_median"),
        z.alias("robust_z"),
        F.coalesce(F.abs(z) > float(k), F.lit(False)).alias("is_anomaly"),
    )


def new_entity_rate(
    df: DataFrame,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    bucket: str = "day",
) -> DataFrame:
    """Feed-health twin to ``volume_anomaly``: per-``bucket`` count of
    FIRST-SEEN entities plus the cumulative entity base. A fraud feed
    that suddenly mints twice as many new account ids is either under a
    signup attack or double-writing upstream — and total volume can look
    perfectly normal while it happens.

    One map-side-combined groupBy(entity) reduces the corpus to one
    min-timestamp row per entity; the bucket count and the running
    cumulative run on the |buckets| frame (the ordered window is over
    that tiny frame only — never the corpus).
    """
    births = df.groupBy(entity_col).agg(F.min(ts_col).alias("__first_ts"))
    daily = births.groupBy(
        F.date_trunc(bucket, F.col("__first_ts")).alias("bucket_ts")
    ).agg(F.count(F.lit(1)).alias("n_new"))
    w = Window.orderBy("bucket_ts").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        "bucket_ts",
        F.col("n_new").cast("long").alias("n_new"),
        F.sum("n_new").over(w).cast("long").alias("cumulative_entities"),
    )


def seasonal_anomaly(
    df: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    id_col: str = "event_id",
    k: float = 3.5,
) -> DataFrame:
    """Seasonality-aware outlier screen: deseasonalize amounts with the
    two-way hour/day-of-week adjustment (`relational.seasonal_adjust`),
    then flag events whose ADJUSTED amount sits more than ``k`` robust
    (median/MAD) deviations from the center. A raw-value screen flags
    every Friday evening; this one flags what is abnormal FOR its hour
    and weekday. Composition: the three broadcast seasonal means, two
    1-row medians, one flag expression — the fact table never shuffles.
    """
    from .relational import seasonal_adjust

    # the median, the MAD and the flags share one seasonal_adjust pass
    adj = seasonal_adjust(df, ts_col, value_col, id_col).transform(reuse)
    med = adj.agg(F.median("adjusted").alias("med"))
    with_med = adj.crossJoin(F.broadcast(med))
    mad = with_med.agg(
        F.median(F.abs(F.col("adjusted") - F.col("med"))).alias("mad")
    )
    staged = with_med.crossJoin(F.broadcast(mad))
    z = F.when(
        F.col("mad") > 0,
        F.lit(0.6745) * (F.col("adjusted") - F.col("med")) / F.col("mad"),
    )
    return staged.where(F.abs(z) > float(k)).select(
        id_col,
        "hour",
        "dow",
        F.col(value_col),
        "adjusted",
        z.alias("robust_z"),
    )


def benford_mad(
    df: DataFrame,
    value_col: str = "value",
) -> DataFrame:
    """Nigrini conformity summary over the first-digit profile: the
    mean absolute deviation of observed digit proportions from
    Benford's law, bucketed into the standard conformity verdicts
    (<0.006 close, <0.012 acceptable, <0.015 marginal, else
    nonconformity). The per-digit profile (`benford_profile`) is what
    an analyst reads; this 1-row verdict is what a pipeline alerts on.
    The 9 |deviation| terms fold as integer micro-units, so the MAD is
    reduction-order exact.
    """
    prof = benford_profile(df, value_col)
    return prof.agg(
        F.sum(
            F.floor(F.abs(F.col("deviation")) * 1e12 + F.lit(0.5)).cast("long")
        ).alias("__s"),
        F.sum("n").cast("long").alias("n_values"),
    ).select(
        (F.col("__s") / F.lit(9.0) / F.lit(1e12)).alias("mad"),
        "n_values",
        F.when(F.col("__s") / 9.0 / 1e12 < 0.006, "close")
        .when(F.col("__s") / 9.0 / 1e12 < 0.012, "acceptable")
        .when(F.col("__s") / 9.0 / 1e12 < 0.015, "marginal")
        .otherwise("nonconformity")
        .alias("conformity"),
    )


def periodogram(
    df: DataFrame,
    ts_col: str = "ts",
    max_k: int = 12,
    bucket_s: int = 3600,
) -> DataFrame:
    """Discrete-Fourier periodogram of the global event-count series:
    spectral power at harmonics k = 1..max_k of the observation span —
    the frequency-domain complement of `acf` (ACF shows THAT a cycle
    exists; the periodogram reads off its period directly as the
    dominant harmonic, N/k buckets).

    P(k) = (Σₜ xₜ·cos(2πkt/N))² + (Σₜ xₜ·sin(2πkt/N))², x = hourly
    counts, t = bucket index from the series start. Shape: ONE corpus
    rollup to the |N|-row count series; the k fan-out explodes only
    that tiny frame; each projection term is quantized to a 1e-4 grid
    (floor(x·cosθ·1e4 + 0.5) BIGINT) before the fold so the cross-row
    sum is exact and order-invariant — a raw float Σ x·cos would drift
    with aggregation order. The 1e-4 grid costs ~2·Σx·1e-4 absolute
    power error: irrelevant for dominant-period ranking.

    Returns (k, period_buckets, power) — power in quantized units².
    """
    sec = F.col(ts_col).cast("timestamp").cast("long")
    ser = df.groupBy(
        (sec / F.lit(bucket_s)).cast("long").alias("__h")
    ).agg(F.count(F.lit(1)).alias("__x"))
    rng = ser.agg(
        F.min("__h").alias("__h0"), F.count(F.lit(1)).alias("__nb"),
        F.max("__h").alias("__hmax"),
    )
    # dense index over the SPAN (missing buckets contribute zero terms,
    # which is exactly their x_t = 0 contribution)
    n = F.col("__hmax") - F.col("__h0") + 1
    based = ser.crossJoin(F.broadcast(rng)).select(
        (F.col("__h") - F.col("__h0")).cast("double").alias("__t"),
        F.col("__x").cast("double").alias("__xv"),
        n.cast("double").alias("__n"),
    )
    fan = based.select(
        "__t", "__xv", "__n",
        F.explode(F.sequence(F.lit(1), F.lit(max_k))).alias("k"),
    )
    theta = F.lit(2.0) * F.lit(math.pi) * F.col("k") * F.col("__t") / F.col("__n")
    cq = F.floor(F.col("__xv") * F.cos(theta) * F.lit(10_000.0) + F.lit(0.5)).cast("long")
    sq = F.floor(F.col("__xv") * F.sin(theta) * F.lit(10_000.0) + F.lit(0.5)).cast("long")
    agg = fan.groupBy("k").agg(
        F.sum(cq).alias("__c"),
        F.sum(sq).alias("__s"),
        F.max("__n").alias("__nn"),
    )
    return agg.select(
        F.col("k").cast("long").alias("k"),
        (F.col("__nn") / F.col("k")).alias("period_buckets"),
        # divide the grid factor back out (1e4² = 1e8): power lands in
        # natural count² units, bounded far below the r6 BIGINT clamp
        (
            (
                F.col("__c").cast("double") * F.col("__c").cast("double")
                + F.col("__s").cast("double") * F.col("__s").cast("double")
            )
            / F.lit(1e8)
        ).alias("power"),
    ).orderBy("k")


def spectral_entropy(
    df: DataFrame,
    ts_col: str = "ts",
    max_k: int = 12,
    bucket_s: int = 3600,
) -> DataFrame:
    """Spectral entropy of the event-count series: Shannon entropy of
    the normalized periodogram over harmonics 1..max_k, plus the
    dominant harmonic. Near 0 = one clean cycle owns the spectrum
    (schedule-driven traffic); near 1 (normalized) = white noise. The
    one-number companion to ``periodogram`` for drift monitors: a
    changing spectral entropy means the SHAPE of seasonality changed
    even when volume did not.

    Builds on ``periodogram`` (exact BIGINT-quantized DFT sums —
    identical cross-engine), so the K powers are bit-identical doubles;
    the probability normalization folds integer micro-units and the
    entropy folds micro-nats, both as DECIMAL(38,0). The dominant
    harmonic is the min-k row attaining the exact maximum power. All
    post-periodogram math runs on a ≤max_k-row frame.
    """
    pg = periodogram(df, ts_col=ts_col, max_k=max_k, bucket_s=bucket_s)
    tot = pg.agg(
        F.sum(
            F.floor(F.col("power") * F.lit(1e3) + F.lit(0.5)).cast("decimal(38,0)")
        ).alias("__tot_milli"),
        F.max("power").alias("__pmax"),
        F.count(F.lit(1)).alias("__k"),
    )
    with_tot = pg.crossJoin(F.broadcast(tot))
    p = F.col("power") / (F.col("__tot_milli").cast("double") / F.lit(1e3))
    # guard on the PRE-division inputs: a flat series quantizes every
    # power to zero and the total with it — ANSI mode would raise on
    # the division, so the zero-spectrum case must short-circuit first
    term = F.when(
        (F.col("__tot_milli") > 0) & (F.col("power") > 0), -p * F.log(p)
    ).otherwise(F.lit(0.0))
    return with_tot.agg(
        F.sum(
            F.floor(term * F.lit(1e12) + F.lit(0.5)).cast("decimal(38,0)")
        ).alias("__h"),
        F.min(F.when(F.col("power") == F.col("__pmax"), F.col("k"))).alias(
            "dominant_k"
        ),
        F.first("__k").alias("__nk"),
    ).select(
        F.col("__nk").cast("long").alias("n_harmonics"),
        F.col("dominant_k").cast("long").alias("dominant_k"),
        (F.col("__h").cast("double") / F.lit(1e12)).alias("spec_entropy"),
        (
            F.col("__h").cast("double")
            / F.lit(1e12)
            / F.log(F.col("__nk").cast("double"))
        ).alias("spec_entropy_norm"),
    )


def wasserstein_bins(
    ref: DataFrame,
    cur: DataFrame,
    value_col: str = "value",
    n_bins: int = 10,
    exact_edges: bool = True,
) -> DataFrame:
    """Binned Wasserstein-1 (earth-mover) drift decomposition: per
    reference-decile bin, the |CDF_ref − CDF_cur| gap — W₁ in bin units
    is the sum of the gaps. The distance PSI cannot give you: PSI is
    mass-reweighting-sensitive but location-blind (swapping two distant
    bins' masses leaves PSI unchanged); W₁ measures how FAR the mass
    moved. Same binning contract as ``psi_bins`` (edges from the exact
    reference percentile, or the KLL sketch at 100 TB).

    Every CDF input is an exact integer cumulative count over ≤n_bins
    rows; the single-partition window on the n_bins-row frame is free.
    Two corpus passes total (one per side), both map-only after the
    broadcast edge row.
    """
    from pyspark.sql import Window

    spark = ref.sparkSession
    edges = _edges(ref, value_col, n_bins, exact_edges)
    rc = _bin_counts(ref, edges, value_col, "n_ref")
    cc = _bin_counts(cur, edges, value_col, "n_cur")
    tot_r = ref.agg(F.count(F.lit(1)).alias("__tr"))
    tot_c = cur.agg(F.count(F.lit(1)).alias("__tc"))
    bins = spark.range(n_bins).select(F.col("id").cast("int").alias("bin"))
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    joined = (
        bins.join(rc, "bin", "left")
        .join(cc, "bin", "left")
        .na.fill({"n_ref": 0, "n_cur": 0})
        .crossJoin(F.broadcast(tot_r))
        .crossJoin(F.broadcast(tot_c))
    )
    cdf_r = F.sum("n_ref").over(w).cast("double") / F.col("__tr")
    cdf_c = F.sum("n_cur").over(w).cast("double") / F.col("__tc")
    return joined.select(
        "bin",
        F.col("n_ref").cast("long").alias("n_ref"),
        F.col("n_cur").cast("long").alias("n_cur"),
        cdf_r.alias("cdf_ref"),
        cdf_c.alias("cdf_cur"),
        F.abs(cdf_r - cdf_c).alias("w1_term"),
    ).orderBy("bin")


def pacf(
    df: DataFrame,
    ts_col: str = "ts",
    type_col: str = "event_type",
    value_col: str = "value",
    bucket: str = "hour",
    max_lag: int = 6,
) -> DataFrame:
    """Partial autocorrelation per series via Durbin–Levinson on the
    ``acf`` estimates — the AR-order diagnostic (an AR(p) process has
    PACF ≈ 0 beyond lag p, while its ACF decays slowly; ACF alone
    cannot separate AR from MA structure).

    The corpus work IS the acf call (one rollup + one shared window
    exchange); the Levinson recursion then runs driver-side on the
    collected |types|·max_lag-row frame — aggregate-sized by
    construction, the same driver-math-on-tiny-aggregates pattern as
    the plot family. The ACF inputs are decimal-exact, so the recursion
    is deterministic; no SQL twin (the recursion has no closed form),
    registered rows-only.
    """
    rows = acf(df, ts_col, type_col, value_col, bucket, max_lag).collect()
    series: dict = {}
    for r in rows:
        series.setdefault(r[type_col], {})[int(r["lag"])] = float(r["acf"])
    out = []
    for t in sorted(series):
        r_ = series[t]
        if any(k not in r_ or r_[k] is None for k in range(1, max_lag + 1)):
            continue
        # Durbin-Levinson: phi[k][k] is the lag-k PACF
        phi_prev: list[float] = []
        v = 1.0
        for k in range(1, max_lag + 1):
            num = r_[k] - sum(
                phi_prev[j] * r_[k - 1 - j] for j in range(k - 1)
            )
            a = num / v if v != 0 else 0.0
            phi = [
                phi_prev[j] - a * phi_prev[k - 2 - j] for j in range(k - 1)
            ] + [a]
            v = v * (1.0 - a * a)
            out.append((t, k, float(a)))
            phi_prev = phi
    return local_frame(
        df.sparkSession,
        out,
        f"{type_col} {df.schema[type_col].dataType.simpleString()}, "
        "lag int, pacf double",
    )


def seasonality_strength(
    df: DataFrame,
    ts_col: str = "ts",
    type_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Seasonality strength per series: share of hourly-total variance
    explained by the hour-of-day profile, F_s = 1 − Var(residual) /
    Var(total) over the bucketed series — the 0-to-1 "how seasonal is
    this" companion to `spectral_entropy` (strength says HOW MUCH,
    the spectrum says AT WHAT PERIOD).

    The corpus collapses to the |series|·|buckets| decimal-exact
    rollup; the hour-of-day means are a 24-row broadcast per series;
    both variances fold integer micro-units (DECIMAL(38,0)) over the
    rollup frame, so the statistic is order-invariant cross-engine.
    """
    b = F.date_trunc("hour", F.col(ts_col)).alias("__b")
    ser = df.groupBy(type_col, b).agg(
        F.sum(F.col(value_col).cast("decimal(25,2)")).cast("double").alias("__x")
    )
    ser = ser.withColumn("__hod", F.hour("__b"))
    hod = ser.groupBy(type_col, "__hod").agg(
        F.sum(
            F.floor(F.col("__x") * F.lit(1e6) + F.lit(0.5)).cast("decimal(38,0)")
        ).alias("__hs"),
        F.count(F.lit(1)).alias("__hn"),
    ).select(
        type_col,
        "__hod",
        (F.col("__hs").cast("double") / F.lit(1e6) / F.col("__hn")).alias("__hmean"),
    )
    tot = ser.groupBy(type_col).agg(
        F.sum(
            F.floor(F.col("__x") * F.lit(1e6) + F.lit(0.5)).cast("decimal(38,0)")
        ).alias("__s"),
        F.count(F.lit(1)).alias("__n"),
    ).select(
        type_col,
        (F.col("__s").cast("double") / F.lit(1e6) / F.col("__n")).alias("__gmean"),
        "__n",
    )
    j = ser.join(F.broadcast(hod), [type_col, "__hod"]).join(
        F.broadcast(tot), type_col
    )
    micro = lambda c: F.sum(  # noqa: E731
        F.floor(c * F.lit(1e6) + F.lit(0.5)).cast("decimal(38,0)")
    ).cast("double") / F.lit(1e6)
    res = F.col("__x") - F.col("__hmean")
    dev = F.col("__x") - F.col("__gmean")
    out = j.groupBy(type_col).agg(
        micro(res * res).alias("__ssr"),
        micro(dev * dev).alias("__sst"),
        F.count(F.lit(1)).alias("n_buckets"),
    )
    return out.select(
        type_col,
        F.col("n_buckets").cast("long").alias("n_buckets"),
        F.when(
            F.col("__sst") > 0,
            F.greatest(
                F.lit(0.0), F.lit(1.0) - F.col("__ssr") / F.col("__sst")
            ),
        ).alias("strength"),
    ).orderBy(type_col)


def page_hinkley(
    df: DataFrame,
    ts_col: str = "ts",
    type_col: str = "event_type",
    delta: float = 0.005,
    lam: float = 50.0,
    bucket: str = "day",
) -> DataFrame:
    """Page–Hinkley changepoint test per series over the daily count
    stream: the sequential mean-shift detector (the streaming-world
    standard next to CUSUM — CUSUM here scans a fixed window, PH runs
    cumulatively and alarms the first time the drift statistic clears
    λ). PH_t = m_t − min_{i≤t} m_i with m_t = Σ(x_i − x̄_i − δ), x̄_i
    the running mean.

    The corpus collapses to the |series|·|days| count rollup; all four
    cumulatives (sum, running mean, m, running min of m) are ordered
    windows over that calendar-bounded frame. The drift terms are
    quantized to a 1e-9 integer grid before the cumulative fold —
    window-sum implementations are free to combine partial sums in any
    tree order, and a float fold would drift between engines; integer
    folds cannot. Returns per (series, day): x, running mean,
    ph statistic, alarm.
    """
    b = F.date_trunc(bucket, F.col(ts_col)).alias("__b")
    ser = df.groupBy(type_col, b).agg(F.count(F.lit(1)).alias("__x"))
    w = (
        Window.partitionBy(type_col)
        .orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    mean = F.sum("__x").over(w).cast("double") / F.count(F.lit(1)).over(w)
    staged = ser.select(
        type_col,
        F.col("__b").alias("bucket"),
        F.col("__x").cast("long").alias("x"),
        mean.alias("running_mean"),
        (F.col("__x").cast("double") - mean - F.lit(float(delta))).alias("__term"),
    )
    w2 = (
        Window.partitionBy(type_col)
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    tq = F.floor(F.col("__term") * F.lit(1e9) + F.lit(0.5)).cast("decimal(38,0)")
    m = F.sum(tq).over(w2)
    staged2 = staged.select(
        type_col, "bucket", "x", "running_mean", m.alias("__m")
    )
    ph = (F.col("__m") - F.min("__m").over(w2)).cast("double") / F.lit(1e9)
    return staged2.select(
        type_col,
        "bucket",
        "x",
        "running_mean",
        ph.alias("ph_stat"),
        (ph > F.lit(float(lam))).cast("int").alias("alarm"),
    ).orderBy(type_col, "bucket")


def seasonal_decompose(
    df: DataFrame,
    ts_col: str = "ts",
    type_col: str = "event_type",
    value_col: str = "value",
    bucket: str = "hour",
    half: int = 12,
) -> DataFrame:
    """Classical additive decomposition of each series' bucketed totals
    into trend + seasonal + residual — the explainability step between
    raw series and the anomaly screens (a residual spike means something
    happened; a raw spike may just be Friday evening). `seasonal_adjust`
    removes the cycle row-wise; this returns all three components per
    bucket for inspection/plotting.

    - trend_t: centered (2·half+1)-point moving average — a decimal-
      exact window SUM divided by the window count, NULL at the series
      edges where the full window isn't available (the standard
      convention, keeps the trend unbiased).
    - seasonal_p: mean of the detrended values per (series, phase),
      folded as 1e-9-grid integer micro-units (order-invariant). The
      PHASE follows the bucket grain: hour-of-day for 'hour' buckets,
      day-of-week for 'day', week-of-year for 'week', month-of-year
      for 'month'; other grains raise ValueError (a constant phase
      would silently degenerate 'seasonal' to one global offset).
    - residual_t = detrended_t − seasonal_p.

    Scale shape: the corpus collapses to the |series|·|buckets| rollup in
    one map-side-combined shuffle; the moving average is ONE partitioned
    window pass over that frame; the 24-row-per-series seasonal profile
    is broadcast back. Positional (row-based) window: missing buckets
    are gaps, same contract as `holt_winters` — compose with a resampler
    upstream when a dense grid is wanted.
    """
    phase_fns = {
        "hour": F.hour,
        "day": F.dayofweek,
        "week": F.weekofyear,
        "month": F.month,
    }
    try:
        phase_fn = phase_fns[bucket]
    except KeyError:
        raise ValueError(
            f"unsupported bucket {bucket!r}; one of {sorted(phase_fns)}"
        ) from None
    width = 2 * half + 1
    b = F.date_trunc(bucket, F.col(ts_col)).alias("bucket")
    ser = df.groupBy(type_col, b).agg(
        F.sum(F.col(value_col).cast("decimal(25,2)")).alias("x_dec")
    )
    w = Window.partitionBy(type_col).orderBy("bucket").rowsBetween(-half, half)
    trend = F.when(
        F.count(F.lit(1)).over(w) == width,
        F.sum("x_dec").over(w).cast("double") / F.lit(float(width)),
    )
    staged = ser.select(
        type_col,
        "bucket",
        F.col("x_dec").cast("double").alias("x"),
        trend.alias("trend"),
        phase_fn("bucket").cast("int").alias("__phase"),
    ).withColumn("__detr", F.col("x") - F.col("trend"))
    seas = staged.where(F.col("__detr").isNotNull()).groupBy(
        type_col, "__phase"
    ).agg(
        (
            F.sum(
                F.floor(F.col("__detr") * F.lit(1e9) + F.lit(0.5)).cast(
                    "decimal(38,0)"
                )
            ).cast("double")
            / F.lit(1e9)
            / F.count(F.lit(1))
        ).alias("seasonal")
    )
    return (
        staged.join(F.broadcast(seas), [type_col, "__phase"], "left")
        .select(
            type_col,
            "bucket",
            "x",
            "trend",
            "seasonal",
            (F.col("__detr") - F.col("seasonal")).alias("residual"),
        )
    )


def residual_anomaly(
    df: DataFrame,
    ts_col: str = "ts",
    type_col: str = "event_type",
    value_col: str = "value",
    bucket: str = "hour",
    half: int = 12,
    z_threshold: float = 3.5,
) -> DataFrame:
    """Seasonality-aware anomaly screen: flag buckets whose
    `seasonal_decompose` RESIDUAL is a robust outlier — the composition
    a monitoring stack actually pages on. Screening on raw totals flags
    every Friday evening; screening on residuals flags what the trend
    and the daily cycle can't explain. The score is the median/MAD
    robust z (0.6745·(r − median)/MAD) per series, so a burst of genuine
    anomalies can't inflate its own yardstick the way mean/std would.

    Pure composition: the decomposition's one rollup + one window pass,
    then two |series|-row median aggregates broadcast back onto the
    |series|·|buckets| residual frame. Series with MAD = 0 (constant
    residuals) yield NULL scores and are never flagged. Returns flagged
    buckets only: (series, bucket, x, residual, robust_z).
    """
    dec = seasonal_decompose(df, ts_col, type_col, value_col, bucket, half)
    # the median, the MAD and the flag join share one decomposition
    res = dec.where(F.col("residual").isNotNull()).transform(reuse)
    med = res.groupBy(type_col).agg(F.median("residual").alias("__med"))
    with_med = res.join(F.broadcast(med), type_col)
    mad = with_med.groupBy(type_col).agg(
        F.median(F.abs(F.col("residual") - F.col("__med"))).alias("__mad")
    )
    z = (
        F.lit(0.6745)
        * (F.col("residual") - F.col("__med"))
        / F.nullif(F.col("__mad"), F.lit(0.0))
    )
    return (
        with_med.join(F.broadcast(mad), type_col)
        .withColumn("robust_z", z)
        .where(F.abs(F.col("robust_z")) > float(z_threshold))
        .select(type_col, "bucket", "x", "residual", "robust_z")
    )


def ljung_box(
    df: DataFrame,
    ts_col: str = "ts",
    type_col: str = "event_type",
    value_col: str = "value",
    bucket: str = "hour",
    max_lag: int = 6,
) -> DataFrame:
    """Ljung-Box portmanteau Q per series: is there ANY autocorrelation
    in the first ``max_lag`` lags? The one-number whiteness test a
    model-residual review reads next to the full `acf` table —
    Q = n(n+2)·Σ_k r_k²/(n−k), χ²(h) under the white-noise null.

    Built on the identical rollup + shared-lag-window construction as
    `acf` (one corpus shuffle, one window exchange): r_k folds from
    decimal-exact deviation products; each r_k²/(n−k) term then
    micro-folds on the 1e-9 grid across lags (a float Σ over the lag
    frame would be order-sensitive). Returns one row per series:
    (n_buckets, h, q_stat).
    """
    from pyspark.sql import Window

    b = F.date_trunc(bucket, F.col(ts_col)).alias("bucket")
    actuals = df.groupBy(type_col, b).agg(
        F.sum(F.col(value_col).cast("decimal(25,2)")).alias("x_dec")
    )
    wt = Window.partitionBy(type_col)
    word = Window.partitionBy(type_col).orderBy("bucket")
    x = F.col("x_dec").cast("double")
    mean = F.sum("x_dec").over(wt).cast("double") / F.count(F.lit(1)).over(wt)
    staged = actuals.select(
        type_col,
        (x - mean).alias("d0"),
        *[
            (F.lag("x_dec", k).over(word).cast("double") - mean).alias(
                f"d{k}"
            )
            for k in range(1, max_lag + 1)
        ],
    )
    dev_sq = (F.col("d0") * F.col("d0")).cast("decimal(38,10)")
    pairs = staged.select(
        type_col,
        dev_sq.alias("dd"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("lag"),
                        (F.col("d0") * F.col(f"d{k}"))
                        .cast("decimal(38,10)")
                        .alias("num"),
                    )
                    for k in range(1, max_lag + 1)
                ]
            )
        ).alias("kv"),
    ).select(
        type_col, "dd", F.col("kv.lag").alias("lag"), F.col("kv.num").alias("num")
    )
    per_lag = pairs.groupBy(type_col, "lag").agg(
        F.sum("num").alias("__num"),
        F.sum("dd").alias("__den"),
        F.count(F.lit(1)).alias("__n"),
    )
    r = F.col("__num").cast("double") / F.col("__den").cast("double")
    n = F.col("__n").cast("double")
    term = r * r / (n - F.col("lag").cast("double"))
    term_micro = F.floor(term * F.lit(1e9) + F.lit(0.5)).cast("decimal(38,0)")
    out = per_lag.groupBy(type_col).agg(
        F.max("__n").cast("long").alias("n_buckets"),
        F.count(F.lit(1)).cast("long").alias("h"),
        F.sum(term_micro).alias("__t_micro"),
    )
    nn = F.col("n_buckets").cast("double")
    q = (
        nn
        * (nn + F.lit(2.0))
        * (F.col("__t_micro").cast("double") / F.lit(1e9))
    )
    return out.select(
        type_col,
        "n_buckets",
        "h",
        F.when(nn > F.col("h"), F.floor(q * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)).alias(
            "q_stat"
        ),
    )


def runs_test(
    df: DataFrame,
    ts_col: str = "ts",
    type_col: str = "event_type",
    value_col: str = "value",
    bucket: str = "hour",
) -> DataFrame:
    """Wald-Wolfowitz runs test per series on the bucketed totals vs the
    series MEDIAN: too few runs = sticky regimes (level shifts,
    clustering), too many = oscillation/overdifferencing — the
    randomness screen that catches structure `acf`'s linear estimator
    misses.

    Signs compare 1e-3-grid quantized totals against the quantized
    median (exact percentile over the rollup; the grid makes the
    equality class ulp-robust cross-engine — cent sums and half-cent
    medians land exactly on-grid). Ties (x = median) drop, the standard
    treatment. R = 1 + Σ[sign_t ≠ sign_{t−1}] via one lag window;
    z = (R − μ)/σ with μ = 2·n₊·n₋/n + 1, σ² = (μ−1)(μ−2)/(n−1).
    One corpus shuffle + two bounded exchanges on the rollup. Returns
    one row per series: (n_pos, n_neg, n_runs, z).
    """
    from pyspark.sql import Window

    b = F.date_trunc(bucket, F.col(ts_col)).alias("bucket")
    actuals = df.groupBy(type_col, b).agg(
        F.sum(F.col(value_col).cast("decimal(25,2)")).alias("x_dec")
    )
    meds = actuals.groupBy(type_col).agg(
        F.expr("percentile(cast(x_dec as double), 0.5)").alias("__med")
    )
    xq = F.floor(F.col("x_dec").cast("double") * F.lit(1e3) + F.lit(0.5))
    mq = F.floor(F.col("__med") * F.lit(1e3) + F.lit(0.5))
    signed = (
        actuals.join(F.broadcast(meds), type_col)
        .where(xq != mq)
        .select(
            type_col,
            "bucket",
            (xq > mq).cast("int").alias("__sign"),
        )
    )
    word = Window.partitionBy(type_col).orderBy("bucket")
    flips = signed.select(
        type_col,
        "__sign",
        F.when(
            F.lag("__sign").over(word).isNotNull()
            & (F.col("__sign") != F.lag("__sign").over(word)),
            1,
        )
        .otherwise(0)
        .alias("__flip"),
    )
    agg = flips.groupBy(type_col).agg(
        F.sum("__sign").cast("long").alias("n_pos"),
        F.sum(F.lit(1) - F.col("__sign")).cast("long").alias("n_neg"),
        (F.sum("__flip") + F.lit(1)).cast("long").alias("n_runs"),
    )
    np_ = F.col("n_pos").cast("double")
    nn = F.col("n_neg").cast("double")
    n = np_ + nn
    mu = F.lit(2.0) * np_ * nn / F.when(n > 0, n).otherwise(F.lit(1.0)) + F.lit(
        1.0
    )
    var = (
        (mu - F.lit(1.0))
        * (mu - F.lit(2.0))
        / F.greatest(n - F.lit(1.0), F.lit(1.0))
    )
    z = (F.col("n_runs").cast("double") - mu) / F.sqrt(
        F.abs(var) + F.lit(1e-300)
    )
    ok = (np_ > 0) & (nn > 0) & (n > 1) & (var > 0)
    return agg.select(
        type_col,
        "n_pos",
        "n_neg",
        "n_runs",
        F.when(ok, F.floor(z * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)).alias(
            "z"
        ),
    )


def benford_second_digit(
    df: DataFrame,
    value_col: str = "value",
) -> DataFrame:
    """Second-significant-digit distribution vs Benford's law — the
    follow-up screen after `benford_profile`: fabricated amounts often
    pass the first-digit test (fraudsters know it) while the second
    digit still betrays rounding habits (inflated 0s and 5s from
    "psychological pricing").

    Expected P(d₂ = d) = Σ_{d₁=1..9} log10(1 + 1/(10·d₁ + d)) — the
    standard marginal. Digit extraction is STRING-based on integer
    cents (the `benford_profile` contract: log10 near powers of 10 can
    flip on a last-ulp difference; substring cannot). Values with only
    one significant digit are excluded (no second digit exists).
    Map-only digit tag + one ≤10-group agg; all 10 digits present.
    """
    spark = df.sparkSession
    s = F.floor(F.col(value_col) * 100).cast("long").cast("string")
    pos = (
        df.filter(F.col(value_col) > 0)
        .select(s.alias("__s"))
        .where(F.length("__s") >= 2)
        .select(F.substring("__s", 2, 1).cast("int").alias("digit"))
    )
    counts = pos.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    tot = counts.agg(F.sum("n").alias("__t"))
    digits = spark.range(0, 10).select(F.col("id").cast("int").alias("digit"))
    expected = None
    for d1 in range(1, 10):
        term = F.log10(
            F.lit(1.0) + F.lit(1.0) / (F.lit(10.0) * d1 + F.col("digit"))
        )
        expected = term if expected is None else expected + term
    r6_ = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    return (
        digits.join(counts, "digit", "left")
        .na.fill({"n": 0})
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n",
            r6_(F.col("n") / F.col("__t")).alias("p"),
            r6_(expected).alias("expected_p"),
            r6_(F.col("n") / F.col("__t") - expected).alias("deviation"),
        )
        .orderBy("digit")
    )


def dispersion_index(
    df: DataFrame,
    ts_col: str = "ts",
    type_col: str = "event_type",
    bucket: str = "hour",
) -> DataFrame:
    """Index of dispersion (Fano factor) of per-bucket event counts per
    series: var/mean = 1 for a Poisson arrival process, > 1 for bursty
    (clustered) traffic, < 1 for regular/throttled traffic — the
    one-number burstiness verdict next to `interarrival_stats`' gap
    moments and `burst_screen`'s peak ratio (card-testing shows as
    Fano ≫ 1 long before volume moves).

    Counts are integers, so Σc and Σc² fold exactly (decimal) over the
    |series|·|buckets| rollup; the population variance and ratios
    assemble in closed form. Missing buckets inside each series'
    [first, last] span count as ZERO-count buckets (computed from the
    calendar span — a gap IS regularity information; ignoring gaps
    biases Fano upward). Returns per series: (n_buckets, mean_count,
    var_count, fano, cv2).
    """
    seconds = {"minute": 60, "hour": 3600, "day": 86400}
    try:
        step = seconds[bucket]
    except KeyError:
        raise ValueError(
            f"unsupported bucket {bucket!r}; one of {sorted(seconds)}"
        ) from None
    b = F.date_trunc(bucket, F.col(ts_col)).alias("__b")
    rolled = df.groupBy(type_col, b).agg(F.count(F.lit(1)).alias("__c"))
    d38 = "decimal(38,0)"
    c = F.col("__c").cast(d38)
    agg = rolled.groupBy(type_col).agg(
        F.count(F.lit(1)).alias("__n_seen"),
        F.min("__b").alias("__first"),
        F.max("__b").alias("__last"),
        F.sum(c).alias("__s"),
        F.sum(c * c).alias("__ss"),
    )
    span = (
        F.unix_micros(F.col("__last")) - F.unix_micros(F.col("__first"))
    ) / F.lit(step * 1_000_000)
    n = span.cast("long") + F.lit(1)  # calendar buckets incl. zero-count
    nd = n.cast("double")
    s = F.col("__s").cast("double")
    ss = F.col("__ss").cast("double")
    mean = s / nd
    var = ss / nd - mean * mean
    ok = (n > 1) & (mean > 0)
    r6_ = lambda col: F.floor(col * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    return agg.select(
        type_col,
        n.alias("n_buckets"),
        F.col("__n_seen").cast("long").alias("n_nonzero_buckets"),
        r6_(mean).alias("mean_count"),
        r6_(F.when(n > 1, var)).alias("var_count"),
        r6_(F.when(ok, var / mean)).alias("fano"),
        r6_(F.when(ok, var / (mean * mean))).alias("cv2"),
    )


def psi_timeline(
    df: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    baseline_days: int = 7,
    n_bins: int = 20,
    eps: float = 1e-4,
) -> DataFrame:
    """Population-stability-index TIMELINE: PSI of each day's value
    distribution against the first ``baseline_days`` days — `psi` gives
    one number for a single ref/cur pair; production monitoring wants
    the daily curve (when did the drift start? is it trending?).

    Fixed-width bins over the GLOBAL min/max (one 1-row aggregate,
    broadcast — identical IEEE bin ids in both engines, the t_closeness
    contract); proportions are ε-CLAMPED (max(n/N, ε) — the standard
    PSI zero-bin treatment; add-α smoothing would charge small days a
    phantom PSI just for having a different N than the baseline, and
    identical distributions must score exactly 0). Per-(day, bin) terms
    are bounded so the 1e-9 micro-grid fold is magnitude-safe. One
    (day, bin) rollup is the only corpus-sized pass; days densify
    against the bin range via explode (no cross join). Returns per day:
    (day, n_rows, psi) — baseline days included (their PSI measures
    self-distance from the pooled baseline, near 0).
    """
    if n_bins < 2:
        raise ValueError("psi_timeline: n_bins must be >= 2")
    b = int(n_bins)
    e = float(eps)
    base = df.where(F.col(value_col).isNotNull())
    rng = base.agg(
        F.min(value_col).cast("double").alias("__lo"),
        F.max(value_col).cast("double").alias("__hi"),
        F.date_trunc("day", F.min(ts_col)).alias("__day0"),
    )
    v = F.col(value_col).cast("double")
    width = F.col("__hi") - F.col("__lo")
    bin_id = F.when(
        width > 0,
        F.least(
            F.floor((v - F.col("__lo")) / width * F.lit(float(b))).cast("int"),
            F.lit(b - 1),
        ),
    ).otherwise(F.lit(0))
    staged = base.crossJoin(F.broadcast(rng))
    counts = staged.groupBy(
        F.date_trunc("day", F.col(ts_col)).alias("__day"),
        bin_id.alias("__bin"),
        F.col("__day0"),
    ).agg(F.count(F.lit(1)).alias("__n"))
    counts = reuse(counts)  # feeds baseline + densify + totals
    is_base = F.col("__day") < F.col("__day0") + F.expr(
        f"INTERVAL {int(baseline_days)} DAYS"
    )
    bl = (
        counts.where(is_base)
        .groupBy("__bin")
        .agg(F.sum("__n").alias("__bn"))
    )
    days = counts.groupBy("__day").agg(
        F.sum("__n").cast("long").alias("__day_tot")
    )
    bins = F.explode(F.sequence(F.lit(0), F.lit(b - 1))).alias("__bin")
    dense = (
        days.select("__day", "__day_tot", bins)
        .join(
            counts.select("__day", "__bin", "__n"), ["__day", "__bin"], "left"
        )
        .withColumn("__n", F.coalesce(F.col("__n"), F.lit(0)))
        .join(F.broadcast(bl), "__bin", "left")
        .withColumn("__bn", F.coalesce(F.col("__bn"), F.lit(0)))
    )
    bl_tot = bl.agg(F.sum("__bn").alias("__bl_tot"))
    dense = dense.crossJoin(F.broadcast(bl_tot))
    p_d = F.greatest(
        F.col("__n").cast("double") / F.col("__day_tot").cast("double"),
        F.lit(e),
    )
    p_b = F.greatest(
        F.col("__bn").cast("double") / F.col("__bl_tot").cast("double"),
        F.lit(e),
    )
    term = (p_d - p_b) * F.log(p_d / p_b)
    out = dense.groupBy("__day").agg(
        F.max("__day_tot").alias("n_rows"),
        (
            F.sum(
                F.floor(term * F.lit(1e9) + F.lit(0.5)).cast("decimal(38,0)")
            ).cast("double")
            / F.lit(1e9)
        ).alias("__psi"),
    )
    return out.select(
        F.col("__day").alias("day"),
        "n_rows",
        (F.floor(F.col("__psi") * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)).alias(
            "psi"
        ),
    ).orderBy("day")


def wavelet_energy(
    df: DataFrame,
    ts_col: str = "ts",
    type_col: str = "event_type",
    max_level: int = 4,
) -> DataFrame:
    """Haar detail-energy spectrum per series over hourly event counts:
    at each dyadic level ℓ, the mean squared difference between the two
    halves of every 2^ℓ-hour block — the multi-SCALE burstiness
    decomposition next to `periodogram`'s frequency view (a bot that
    fires every other hour lights up level 1; a day/night cycle lights
    up levels 4-5; white noise spreads flat).

    Exactness: counts are integers and each block's half-sums fold as
    exact decimals keyed by the absolute hour index (epoch-hour div
    2^ℓ), so detail coefficients D = left − right are exact integers
    and energy_ℓ = Σ D²/n_blocks assembles from decimal(38,0) folds —
    no float enters until the final division. Missing hours are zero
    counts on both engines by construction (absent rows add nothing to
    either half), and n_blocks is derived from the series' hour-index
    SPAN — floor(max_h/2^ℓ) − floor(min_h/2^ℓ) + 1 — so fully-empty
    blocks inside the span count as zero-energy blocks in the mean
    rather than being dropped from the denominator. One corpus rollup;
    each level is a tiny re-aggregate of the |series|·|hours| frame.
    Output per (series, level): (block_hours, n_blocks, energy).
    """
    if not 1 <= int(max_level) <= 16:
        raise ValueError(f"wavelet_energy: max_level={max_level} outside 1..16")
    hour_idx = F.floor(
        F.unix_micros(F.col(ts_col).cast("timestamp")) / F.lit(3_600_000_000.0)
    ).cast("long")
    rolled = df.groupBy(
        F.col(type_col).alias("__s"), hour_idx.alias("__h")
    ).agg(F.count(F.lit(1)).alias("__c"))
    rolled = reuse(rolled)  # one consumer per level
    # per-series hour-index span: n_blocks at level l counts every
    # 2^l-hour block the series spans, including fully-empty ones
    # (which contribute zero energy but belong in the mean)
    span = rolled.groupBy("__s").agg(
        F.min("__h").alias("__h0"), F.max("__h").alias("__h1")
    )
    outs = []
    d38 = "decimal(38,0)"
    for lvl in range(1, int(max_level) + 1):
        block = 2 ** lvl
        half = 2 ** (lvl - 1)
        parent = F.floor(F.col("__h") / F.lit(block))
        is_left = ((F.col("__h") % F.lit(block)) < half).cast("int")
        per_block = rolled.groupBy("__s", parent.alias("__p")).agg(
            F.sum(
                (F.col("__c") * is_left).cast(d38)
            ).alias("__left"),
            F.sum(
                (F.col("__c") * (F.lit(1) - is_left)).cast(d38)
            ).alias("__right"),
        )
        d = F.col("__left") - F.col("__right")
        eng = per_block.groupBy("__s").agg(
            F.sum((d * d).cast(d38)).alias("__e"),
        )
        outs.append(
            eng.join(F.broadcast(span), "__s").select(
                "__s",
                F.lit(block).alias("block_hours"),
                (
                    F.floor(F.col("__h1") / F.lit(block))
                    - F.floor(F.col("__h0") / F.lit(block))
                    + F.lit(1)
                ).cast("long").alias("n_blocks"),
                "__e",
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    r6_ = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    return res.select(
        F.col("__s").alias(type_col),
        F.col("block_hours").cast("int").alias("block_hours"),
        "n_blocks",
        r6_(
            F.col("__e").cast("double") / F.col("n_blocks").cast("double")
        ).alias("energy"),
    ).orderBy(type_col, "block_hours")


def hurst_exponent(
    df: DataFrame,
    ts_col: str = "ts",
    type_col: str = "event_type",
    max_level: int = 4,
) -> DataFrame:
    """Hurst exponent per series via the aggregated-variance method
    (Beran 1994; Taqqu, Teverovsky & Willinger 1995): for block sizes
    m = 2^0 … 2^max_level hours, compute the variance of the per-block
    MEAN hourly count; for long-range-dependent series
    Var(m) ∝ m^(2H−2), so H = 1 + slope/2 of the ln Var(m) on ln m
    regression. H ≈ 0.5 is memoryless; H → 1 flags persistent
    self-similar burstiness the ACF view underestimates — the long-
    memory companion of `wavelet_energy`'s per-scale spectrum.

    Exactness contract (the wavelet/elasticity composition): the corpus
    collapses ONCE to the hourly rollup; per-scale block sums fold as
    exact decimals keyed by absolute hour index; empty blocks inside
    the series span count as zeros via span-derived block counts
    (NB = ⌊max_h/m⌋ − ⌊min_h/m⌋ + 1 — Σs and Σs² are unchanged by
    absent rows, only NB matters); Var(m) assembles from exact integer
    sums with a fixed op order, and the regression runs on
    1e-9-grid ln coordinates with exact integer OLS folds. Scales with
    NB < 2 or Var ≤ 0 drop from the fit (n_scales reports the rest).
    Output per series: (n_hours, total_events, n_scales, slope, hurst).

    Nonnegative-epoch assumption (shared by the wavelet_energy /
    sliding_distinct hour grids): block ids divide the hour index with
    Spark ``F.floor(__h / m)`` (floor semantics) while the DuckDB twin
    uses ``//`` (which truncates toward zero on negatives), so the two
    engines agree only for hour indices ≥ 0 — i.e. timestamps at or
    after 1970-01-01. Pre-epoch timestamps are out of contract for the
    hour-grid family, same as the other grid contracts above.
    """
    if not 1 <= int(max_level) <= 16:
        raise ValueError(f"hurst_exponent: max_level={max_level} outside 1..16")
    hour_idx = F.floor(
        F.unix_micros(F.col(ts_col).cast("timestamp")) / F.lit(3_600_000_000.0)
    ).cast("long")
    rolled = df.groupBy(
        F.col(type_col).alias("__s"), hour_idx.alias("__h")
    ).agg(F.count(F.lit(1)).alias("__c"))
    span = rolled.groupBy("__s").agg(
        F.min("__h").alias("__h0"),
        F.max("__h").alias("__h1"),
        F.count(F.lit(1)).cast("long").alias("__nh"),
        F.sum("__c").cast("decimal(38,0)").alias("__t"),
    )
    d38 = "decimal(38,0)"
    outs = []
    for lvl in range(0, int(max_level) + 1):
        m = 2 ** lvl
        parent = F.floor(F.col("__h") / F.lit(m))
        per_block = rolled.groupBy("__s", parent.alias("__p")).agg(
            F.sum(F.col("__c").cast(d38)).alias("__sb")
        )
        sums = per_block.groupBy("__s").agg(
            F.sum((F.col("__sb") * F.col("__sb")).cast(d38)).alias("__ss2")
        )
        outs.append(
            sums.join(F.broadcast(span), "__s").select(
                "__s",
                F.lit(m).alias("__m"),
                "__ss2",
                (
                    F.floor(F.col("__h1") / F.lit(m))
                    - F.floor(F.col("__h0") / F.lit(m))
                    + F.lit(1)
                ).cast("long").alias("__nb"),
                "__t",
                "__nh",
            )
        )
    scales = outs[0]
    for o in outs[1:]:
        scales = scales.unionByName(o)
    # Var(m) = (Σs²/m² − T²/(m²·NB)) / (NB−1): fixed op order over exact
    # integer sums — both engines execute the identical IEEE sequence
    mm = F.col("__m").cast("double") * F.col("__m").cast("double")
    nb = F.col("__nb").cast("double")
    t = F.col("__t").cast("double")
    var = (
        (F.col("__ss2").cast("double") / mm - t * t / (mm * nb))
        / (nb - F.lit(1.0))
    )
    pts = scales.select(
        "__s",
        "__nh",
        "__t",
        F.when(
            (F.col("__nb") >= 2) & (var > 0),
            F.floor(F.log(F.col("__m").cast("double")) * F.lit(1e9) + F.lit(0.5)),
        ).cast("long").alias("__qx"),
        F.when(
            (F.col("__nb") >= 2) & (var > 0),
            F.floor(F.log(var) * F.lit(1e9) + F.lit(0.5)),
        ).cast("long").alias("__qy"),
    )
    agg = pts.groupBy("__s").agg(
        F.max("__nh").alias("n_hours"),
        F.max("__t").cast("long").alias("total_events"),
        F.count(F.col("__qx")).cast("long").alias("n_scales"),
        F.sum("__qx").alias("__sx"),
        F.sum("__qy").alias("__sy"),
        # cast-then-multiply: the raw long product of two 1e-9-grid ln
        # coordinates overflows int64 once |ln v| passes ~3 (qx·qy >
        # 9.2e18); decimal factors match the oracle's HUGEINT products
        F.sum(F.col("__qx").cast(d38) * F.col("__qy").cast(d38)).alias(
            "__sxy"
        ),
        F.sum(F.col("__qx").cast(d38) * F.col("__qx").cast(d38)).alias(
            "__sxx"
        ),
    )
    kk = F.col("n_scales").cast("double")
    sx = F.col("__sx").cast("double") / F.lit(1e9)
    sy = F.col("__sy").cast("double") / F.lit(1e9)
    sxy = F.col("__sxy").cast("double") / F.lit(1e18)
    sxx = F.col("__sxx").cast("double") / F.lit(1e18)
    vx = kk * sxx - sx * sx
    slope = F.when(
        (F.col("n_scales") >= 2) & (vx > 0), (kk * sxy - sx * sy) / vx
    )
    r6_ = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    return agg.select(
        F.col("__s").alias(type_col),
        "n_hours",
        "total_events",
        "n_scales",
        r6_(slope).alias("slope"),
        r6_(F.lit(1.0) + slope / F.lit(2.0)).alias("hurst"),
    ).orderBy(type_col)


def gesd_outliers(
    df: DataFrame,
    ts_col: str = "ts",
    series_col: str = "event_type",
    value_col: str = "value",
    bucket: str = "hour",
    k: int = 5,
    z_crit: float = 3.0,
) -> DataFrame:
    """Generalized-ESD-style iterative outlier screen per series
    (Rosner 1983, Technometrics): k rounds over the bucketed totals —
    each round recomputes every series' mean/sd from the REMAINING
    points, flags the maximum |x − μ|/σ point as that round's R
    statistic, removes it, and repeats. Unlike a one-shot z-screen this
    survives masking: two adjacent spikes hide each other's z until the
    first is removed. Emits one row per (series, round): the removed
    bucket, its R, the remaining count, and flagged = R > ``z_crit``
    (fixed 3.0 default — the exact λᵢ Student-t critical sequence needs
    an inverse-t CDF neither engine exposes in SQL; for B ≥ ~100
    buckets λᵢ ≈ 3.0–3.2, so 3.0 is the conservative screen).

    Exactness contract: totals quantize to exact nano-unit integers
    (q = x_dec·1e9 — cent-valued decimals land on-grid); every round's
    μ, σ, and R assemble from the integer aggregates (n, Σq, Σq²,
    max q, min q) in a PINNED IEEE op order, and the removed point is
    the extreme VALUE with the earliest-bucket tie-break, so the whole
    k-round trajectory replays bit-identically in an external SQL
    engine (the twin unrolls the same k rounds as chained CTEs).

    Scale shape: ONE corpus-sized groupBy collapses to the per-(series,
    bucket) rollup (bounded by series × time span, the hour-grid
    family contract). A rollup of at most `local.DRIVER_ROWS` rows is
    fetched once and every round runs driver-side; a larger one runs
    each round as one map-side-combined aggregate over the
    lineage-broken rollup, collected at |series| rows, with the removals
    applied as one broadcast anti-join — no window, no growing plan.
    """
    if not 1 <= int(k) <= 20:
        raise ValueError(f"gesd_outliers: k={k} outside 1..20")
    rolled = (
        df.groupBy(
            F.col(series_col).alias("__s"),
            F.date_trunc(bucket, F.col(ts_col)).alias("__b"),
        )
        .agg(F.sum(F.col(value_col).cast("decimal(25,2)")).alias("__x"))
        .select(
            "__s",
            F.unix_micros(F.col("__b").cast("timestamp")).alias("__us"),
            (F.col("__x") * F.lit(1_000_000_000)).cast("long").alias("__q"),
        )
    )
    return _esd_iterate(
        df.sparkSession, rolled, series_col,
        df.schema[series_col].dataType.simpleString(), "x",
        int(k), float(z_crit),
    )


def _esd_iterate(
    spark,
    rolled: DataFrame,
    series_col: str,
    series_ddl: str,
    value_name: str,
    k: int,
    z_crit: float,
) -> DataFrame:
    """Shared k-round ESD engine over a prepared (__s, __us, __q)
    nano-unit rollup (see `gesd_outliers` for the contract; reused by
    `seasonal_esd` with residual q-values). NULL series keys are
    excluded up front: a None key would break the deterministic sort
    and poison the removal filter (NULL-valued predicates silently
    drop other series' rows), and a NULL series is not a series."""
    rolled = rolled.where(F.col("__s").isNotNull()).transform(reuse)
    removed: list[tuple] = []   # (round, s, us, q, r6(R), n_remaining, flagged)
    dropped: list[tuple] = []   # (s, us) removal keys
    import math as _math

    # HYBRID driver-iterate path: the k-round loop below runs one
    # aggregate JOB per round over the broken rollup — k Spark jobs for
    # what is, after the one corpus groupBy, pure bounded-frame
    # arithmetic. When the rollup
    # is small (|series|·|buckets| ≤ `local.DRIVER_ROWS` rows), fetch it
    # ONCE and run every round in Python with exact integers: the
    # per-round per-series stats (n, Σq, Σq², max/min with bucket
    # tie-breaks) are integer folds, identical to the Spark aggregates,
    # and the μ/σ/R float assembly is the SAME code in both paths — the
    # trajectory is bit-identical (oracle-hash attested at sf0.01/sf0.1
    # and pinned by tests/test_round12_fixes.py). Larger rollups take the
    # distributed per-round loop over the blocks the fetch filled.
    table = fetch_bounded(rolled, local.DRIVER_ROWS)
    if table is not None:
        per_series: dict = {}
        for s, us, q in zip(
            table.column("__s").to_pylist(),
            table.column("__us").to_pylist(),
            table.column("__q").to_pylist(),
        ):
            per_series.setdefault(s, []).append((us, q))
        for rnd in range(1, int(k) + 1):
            for s in sorted(per_series):
                pts = per_series[s]
                n = len(pts)
                if n <= 3:
                    continue
                sq = sum(q for _, q in pts)
                sqq = sum(q * q for _, q in pts)
                sq_d, sqq_d = float(sq), float(sqq)
                mu = sq_d / n
                var = max((sqq_d - (sq_d * sq_d) / n) / (n - 1), 0.0)
                sd = _math.sqrt(var)
                if sd <= 0.0:
                    continue
                # max by (q, -us): largest value, earliest-bucket tie-break;
                # min by (q, us): smallest value, earliest-bucket tie-break —
                # the same struct orderings as the distributed aggregates
                mx_us, mx_q = max(pts, key=lambda p: (p[1], -p[0]))
                mn_us, mn_q = min(pts, key=lambda p: (p[1], p[0]))
                if (float(mx_q) - mu) >= (mu - float(mn_q)):
                    q_rm, us_rm = mx_q, mx_us
                else:
                    q_rm, us_rm = mn_q, mn_us
                r_stat = abs(float(q_rm) - mu) / sd
                r_r6 = _math.floor(r_stat * 1e6 + 0.5) / 1e6
                removed.append(
                    (rnd, s, us_rm, q_rm / 1e9, r_r6, n - 1,
                     r_r6 > float(z_crit))
                )
                per_series[s] = [p for p in pts if p[0] != us_rm]
        return _esd_emit(spark, removed, series_col, series_ddl, value_name)

    for rnd in range(1, int(k) + 1):
        if dropped:
            # ONE broadcast anti-join against the literal removed-keys
            # frame — plan size stays constant in k·|series| (an accreted
            # per-round isin-predicate chain grows O(k·|series|) literals)
            rm = local_frame(spark, dropped, f"__s {series_ddl}, __us long")
            cur = rolled.join(F.broadcast(rm), ["__s", "__us"], "left_anti")
        else:
            cur = rolled
        stats = (
            cur.groupBy("__s")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                # cast BEFORE the sum: per-bucket q is ~1e15-1e17 nano-
                # units at the 10x corpus, so a LONG-space accumulation
                # can overflow where the twin's HUGEINT sum cannot
                F.sum(F.col("__q").cast("decimal(38,0)")).alias("sq"),
                F.sum(
                    (
                        F.col("__q").cast("decimal(19,0)")
                        * F.col("__q").cast("decimal(19,0)")
                    ).cast("decimal(38,0)")
                ).alias("sqq"),
                F.max(
                    F.struct(F.col("__q"), (-F.col("__us")).alias("nus"))
                ).alias("mxs"),
                F.min(F.struct(F.col("__q"), F.col("__us"))).alias("mns"),
            )
            .collect()
        )
        for row in sorted(stats, key=lambda r: r["__s"]):
            n = row["n"]
            if n <= 3:
                continue
            sq_d, sqq_d = float(row["sq"]), float(row["sqq"])
            mu = sq_d / n
            var = max((sqq_d - (sq_d * sq_d) / n) / (n - 1), 0.0)
            sd = _math.sqrt(var)
            if sd <= 0.0:
                continue
            # extreme values ride the tie-break structs (first field)
            mxq, mnq = float(row["mxs"]["__q"]), float(row["mns"]["__q"])
            if (mxq - mu) >= (mu - mnq):
                q_rm, us_rm = row["mxs"]["__q"], -row["mxs"]["nus"]
            else:
                q_rm, us_rm = row["mns"]["__q"], row["mns"]["__us"]
            r_stat = abs(float(q_rm) - mu) / sd
            r_r6 = _math.floor(r_stat * 1e6 + 0.5) / 1e6
            removed.append(
                (
                    rnd,
                    row["__s"],
                    us_rm,
                    q_rm / 1e9,
                    r_r6,
                    n - 1,
                    r_r6 > float(z_crit),
                )
            )
            dropped.append((row["__s"], us_rm))
    return _esd_emit(spark, removed, series_col, series_ddl, value_name)


def _esd_emit(
    spark, removed: list, series_col: str, series_ddl: str, value_name: str
) -> DataFrame:
    # the bucket stays a microsecond LONG until Spark casts it: a naive
    # Python datetime would be re-interpreted in the HOST OS timezone
    # (the session timeZone=UTC pin does not cover driver-side datetime
    # objects), silently shifting buckets on any non-UTC machine
    schema = (
        f"round int, {series_col} {series_ddl}, __bucket_us long, "
        f"{value_name} double, r_stat double, n_remaining long, "
        "flagged boolean"
    )
    out = local_frame(spark, removed, schema)
    return out.select(
        "round",
        series_col,
        (F.col("__bucket_us") / F.lit(1_000_000))
        .cast("timestamp")
        .alias("bucket"),
        value_name,
        "r_stat",
        "n_remaining",
        "flagged",
    )


def seasonal_esd(
    df: DataFrame,
    ts_col: str = "ts",
    series_col: str = "event_type",
    value_col: str = "value",
    k: int = 5,
    z_crit: float = 3.0,
) -> DataFrame:
    """Seasonal-ESD anomaly screen (the S-ESD shape of Twitter's
    AnomalyDetection; Hochenbaum, Vallis & Kejariwal 2017, with the
    hour-of-day profile standing in for the STL seasonal component):
    deseasonalize each series' HOURLY totals by subtracting its own
    hour-of-day mean, then run the same k-round iterative ESD as
    `gesd_outliers` on the RESIDUALS. A raw-total screen flags every
    daily peak hour; this flags hours abnormal FOR their slot, and the
    iterative rounds un-mask adjacent anomalies. Emits one row per
    (series, round): (bucket, residual, r_stat, n_remaining, flagged).

    Exactness contract: totals quantize to nano-unit integers; the
    hour-of-day mean enters as the exact integer division Σq div n
    (truncation toward zero — the verified semantics of BOTH Spark's
    `%`-based form and DuckDB's integer `//`, signed sums included, so
    refund/chargeback-heavy slots stay in parity), so residuals are
    pure integers and the whole trajectory replays bit-identically in
    the unrolled SQL twin. Scale shape: one corpus groupBy to the
    (series, bucket) rollup, one (series, hod) 24-row-per-series mean
    frame joined back broadcast, then the bounded `_esd_iterate`
    rounds.
    """
    if not 1 <= int(k) <= 20:
        raise ValueError(f"seasonal_esd: k={k} outside 1..20")
    rolled = (
        df.groupBy(
            F.col(series_col).alias("__s"),
            F.date_trunc("hour", F.col(ts_col)).alias("__b"),
        )
        .agg(F.sum(F.col(value_col).cast("decimal(25,2)")).alias("__x"))
        .select(
            "__s",
            F.unix_micros(F.col("__b").cast("timestamp")).alias("__us"),
            (F.col("__x") * F.lit(1_000_000_000)).cast("long").alias("__qx"),
        )
        .withColumn(
            "__hod",
            (
                F.floor(F.col("__us") / F.lit(3_600_000_000)).cast("long")
                % F.lit(24)
            ),
        )
    )
    hod = rolled.groupBy(
        F.col("__s").alias("__s2"), F.col("__hod").alias("__hod2")
    ).agg(
        # cast BEFORE the sum (twin sums qx::HUGEINT): per-bucket qx is
        # ~1e15-1e17 nano-units at the 10x corpus, so a LONG-space
        # accumulation over thousands of buckets can overflow int64
        F.sum(F.col("__qx").cast("decimal(38,0)")).alias("__hs"),
        F.count(F.lit(1)).cast("long").alias("__hn"),
    )
    resid = rolled.join(
        F.broadcast(hod),
        (F.col("__s") == F.col("__s2")) & (F.col("__hod") == F.col("__hod2")),
    ).select(
        "__s",
        "__us",
        # exact integer division, valid for SIGNED sums: Spark's `%`
        # follows the dividend's sign, so (hs − hs % hn) / hn truncates
        # toward zero — the verified semantics of DuckDB's integer `//`
        # ((-13)::HUGEINT // 3 = -4, NOT floor's -5), so a slot whose
        # nano-unit sum is negative (refund/chargeback-heavy hours)
        # still replays bit-identically in the twin (test-pinned).
        # Decimal arithmetic keeps it exact past 2^53 nano-units; a
        # double-based form would lose exactness there.
        (
            F.col("__qx")
            - (
                (
                    F.col("__hs")
                    - F.col("__hs") % F.col("__hn").cast("decimal(38,0)")
                )
                / F.col("__hn").cast("decimal(38,0)")
            )
            .cast("decimal(38,0)")
            .cast("long")
        ).alias("__q"),
    )
    return _esd_iterate(
        df.sparkSession, resid, series_col,
        df.schema[series_col].dataType.simpleString(), "residual",
        int(k), float(z_crit),
    )


def best_changepoint(
    df: DataFrame,
    ts_col: str = "ts",
    series_col: str = "event_type",
    value_col: str = "value",
    bucket: str = "hour",
) -> DataFrame:
    """Single best mean-shift changepoint per series (binary
    segmentation, one level — the building block PELT/BinSeg iterate):
    over the bucketed totals x₁..x_B, pick the split i maximizing the
    between-segment SSE reduction gain(i) = Sᵢ²/i + (S_B−Sᵢ)²/(B−i) −
    S_B²/B (prefix-sum identity; the variance terms cancel), i.e. the
    level shift a CUSUM screen locates but with the exact offline
    argmax. Complements `cusum_changepoint` (online detector) with the
    retrospective "WHERE did the regime change" answer.

    Exactness contract: prefix sums fold as exact decimals over the
    bounded per-series rollup; gain assembles in a PINNED IEEE op
    order (t1 = Sᵢ²/i, t2 = (S_B−Sᵢ)²/(B−i), gain = t1 + t2 − S_B²/B)
    and the argmax selects on the 1e-3-grid quantized gain with the
    EARLIEST-bucket tie-break, so split choice and statistics replay
    bit-identically in SQL. Magnitude: |gain| ≤ total SS of cent-grid
    hourly sums — ≲1e17 milli-units at the 10× scale corpus, inside
    both int64 and the 2^53 double-exact range.

    Scale shape: one corpus groupBy to the (series, bucket) rollup,
    one per-series window cumsum over that bounded frame (series-key
    exchange), one |series|-row struct-argmax aggregate. No self-join.
    """
    rolled = (
        df.groupBy(
            F.col(series_col).alias("__s"),
            F.date_trunc(bucket, F.col(ts_col)).alias("__b"),
        )
        .agg(F.sum(F.col(value_col).cast("decimal(25,2)")).alias("__x"))
        .select(
            "__s",
            F.unix_micros(F.col("__b").cast("timestamp")).alias("__us"),
            "__x",
        )
    )
    w = Window.partitionBy("__s").orderBy("__us")
    wall = Window.partitionBy("__s").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    staged = rolled.select(
        "__s",
        "__us",
        F.row_number().over(w).alias("__i"),
        F.sum("__x").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("__si"),
        F.sum("__x").over(wall).alias("__sb"),
        F.count(F.lit(1)).over(wall).alias("__nb"),
    )
    i_d = F.col("__i").cast("double")
    nb_d = F.col("__nb").cast("double")
    si = F.col("__si").cast("double")
    sb = F.col("__sb").cast("double")
    t1 = (si * si) / i_d
    t2 = ((sb - si) * (sb - si)) / (nb_d - i_d)
    gain = t1 + t2 - (sb * sb) / nb_d
    cands = staged.where(F.col("__i") < F.col("__nb")).select(
        "__s",
        "__nb",
        "__sb",
        F.struct(
            F.floor(gain * F.lit(1e3) + F.lit(0.5)).cast("long").alias("g"),
            (-F.col("__us")).alias("nus"),
            F.col("__us").alias("us"),
            F.col("__i").alias("i"),
            F.col("__si").alias("si"),
        ).alias("__c"),
    )
    best = cands.groupBy("__s").agg(
        F.max("__c").alias("__m"),
        F.max("__nb").cast("long").alias("n_buckets"),
        F.max("__sb").alias("__sbv"),
    )
    m = F.col("__m")
    i_b = m["i"].cast("double")
    si_b = m["si"].cast("double")
    sb_b = F.col("__sbv").cast("double")
    nb_b = F.col("n_buckets").cast("double")
    gain_b = (
        (si_b * si_b) / i_b
        + ((sb_b - si_b) * (sb_b - si_b)) / (nb_b - i_b)
        - (sb_b * sb_b) / nb_b
    )
    r6_ = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    return best.select(
        F.col("__s").alias(series_col),
        "n_buckets",
        (m["us"] / F.lit(1_000_000)).cast("timestamp").alias("split_last_bucket"),
        m["i"].cast("long").alias("n_left"),
        r6_(si_b / i_b).alias("mean_left"),
        r6_((sb_b - si_b) / (nb_b - i_b)).alias("mean_right"),
        r6_(gain_b).alias("sse_reduction"),
    )


def mad_control_limits(
    df: DataFrame,
    ts_col: str = "ts",
    series_col: str = "event_type",
    value_col: str = "value",
    bucket: str = "hour",
    n_sigmas: float = 3.0,
) -> DataFrame:
    """Robust control limits per series from the median ± n·1.4826·MAD
    of the bucketed totals (Hampel's rule; 1.4826 = 1/Φ⁻¹(3/4) makes
    the MAD a consistent σ estimate at the normal) — the control chart
    whose center and spread a single spike CANNOT drag, unlike the
    mean/stddev limits a classic Shewhart chart uses (50% breakdown vs
    0%). Complements `gesd_outliers` (iterative removal, k known) with
    the one-shot screen monitoring dashboards draw as bands; the center
    is the same estimator family `hodges_lehmann` reports. Emits one
    row per series: (n_buckets, median, mad, lcl, ucl, n_below,
    n_above).

    Exactness contract: totals quantize to exact nano-unit integers;
    both medians are exact-percentile interpolations over integers (and
    over .5-grid absolute deviations — midpoints of on-grid doubles
    below 2^52 are IEEE-exact); the limits assemble in a PINNED order
    (sigma = mad·1.4826, then median ± n·sigma) and the out-of-band
    comparison runs in nano-unit space, so counts and limits replay
    bit-identically in an external SQL engine.

    Scale shape: ONE corpus groupBy to the (series, bucket) rollup
    (bounded: series × time span); the median, the deviation median,
    and the band counts are three aggregates over that bounded frame
    with two broadcast joins back — no window, no collect, no growth
    with corpus size.
    """
    rolled = (
        df.groupBy(
            F.col(series_col).alias("__s"),
            F.date_trunc(bucket, F.col(ts_col)).alias("__b"),
        )
        .agg(F.sum(F.col(value_col).cast("decimal(25,2)")).alias("__x"))
        .select(
            "__s",
            (F.col("__x") * F.lit(1_000_000_000)).cast("long").alias("__q"),
        )
    )
    med = rolled.groupBy(F.col("__s").alias("__sm")).agg(
        F.expr("percentile(__q, 0.5)").alias("__med"),
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
    )
    dev = (
        rolled.join(F.broadcast(med), F.col("__s") == F.col("__sm"))
        .select(
            F.col("__s").alias("__g"),
            F.abs(F.col("__q").cast("double") - F.col("__med")).alias("__d"),
        )
        .groupBy("__g")
        .agg(F.expr("percentile(__d, 0.5)").alias("__mad"))
    )
    lim = (
        med.join(F.broadcast(dev), F.col("__sm") == F.col("__g"))
        .drop("__g")
        .select(
            "__sm",
            "n_buckets",
            "__med",
            "__mad",
            # pinned assembly: sigma first, then the two bands
            (F.col("__med") - F.lit(float(n_sigmas)) * (F.col("__mad") * F.lit(1.4826)))
            .alias("__lcl"),
            (F.col("__med") + F.lit(float(n_sigmas)) * (F.col("__mad") * F.lit(1.4826)))
            .alias("__ucl"),
        )
    )
    counts = (
        rolled.join(F.broadcast(lim), F.col("__s") == F.col("__sm"))
        .select(
            F.col("__s").alias("__g2"),
            (F.col("__q").cast("double") < F.col("__lcl")).cast("long").alias("__lo"),
            (F.col("__q").cast("double") > F.col("__ucl")).cast("long").alias("__hi"),
        )
        .groupBy("__g2")
        .agg(
            F.sum("__lo").cast("long").alias("n_below"),
            F.sum("__hi").cast("long").alias("n_above"),
        )
    )
    r6_ = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    out = lim.join(counts, F.col("__sm") == F.col("__g2")).drop("__g2")
    return out.select(
        F.col("__sm").alias(series_col),
        "n_buckets",
        r6_(F.col("__med") / F.lit(1e9)).alias("median"),
        r6_(F.col("__mad") / F.lit(1e9)).alias("mad"),
        r6_(F.col("__lcl") / F.lit(1e9)).alias("lcl"),
        r6_(F.col("__ucl") / F.lit(1e9)).alias("ucl"),
        "n_below",
        "n_above",
    ).orderBy(series_col)


def cross_correlation(
    df: DataFrame,
    ts_col: str = "ts",
    series_col: str = "event_type",
    value_col: str = "value",
    series_a: str = "purchase",
    series_b: str = "click",
    max_lag: int = 6,
) -> DataFrame:
    """Cross-correlation function between two series' hourly totals at
    lags −max_lag..max_lag: r(k) = Σ(a_t−ā)(b_{t+k}−b̄) / √(Σ(a−ā)²·
    Σ(b−b̄)²) — the lead/lag detector (`acf` asks "does this series
    repeat itself"; this asks "does series A MOVE series B, and with
    what delay" — login volume leading purchase value, probe traffic
    leading fraud loss). Positive k means A leads B by k hours.

    Alignment is by exact HOUR INDEX arithmetic (h_b = h_a + k), not row
    lag, so sparse series pair correctly; only co-present hour pairs
    enter the numerator while the denominators use the full-series
    deviation energy (the `acf` estimator convention, so |r| ≤ 1 and
    lags with thin overlap shrink toward 0 instead of exploding).
    Lags with zero co-present pairs emit no row (both engines).

    Exactness contract: totals are decimal-exact; means and deviation
    energies assemble pinned (mean = Σx/n, ss = Σx² − (Σx)²/n in one
    IEEE order); deviation products are cast to decimal(38,10) BEFORE
    the per-lag sum (order-invariant fold), and the final ratio is one
    pinned double division, r6-rounded.

    Scale shape: one corpus groupBy to the two bounded hourly rollups;
    ONE broadcast-stats join per side, one explode(2K+1) of the bounded
    A-frame, one co-equi-join on the hour index, one |lags|-row agg.
    Nonnegative-epoch hour-grid contract (floor vs `//`).
    """
    if not 1 <= int(max_lag) <= 168:
        raise ValueError(f"cross_correlation: max_lag={max_lag} outside 1..168")
    rolled = (
        df.where(F.col(series_col).isin([series_a, series_b]))
        .groupBy(
            F.col(series_col).alias("__s"),
            F.floor(
                F.unix_micros(F.col(ts_col).cast("timestamp"))
                / F.lit(3_600_000_000.0)
            ).cast("long").alias("__h"),
        )
        .agg(F.sum(F.col(value_col).cast("decimal(25,2)")).alias("__x"))
    )
    rolled = reuse(rolled)  # stats + both sides
    stats = rolled.groupBy(F.col("__s").alias("__s2")).agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.sum("__x").alias("__sx"),
        F.sum(
            (F.col("__x").cast("decimal(19,2)") * F.col("__x").cast("decimal(19,2)"))
            .cast("decimal(38,4)")
        ).alias("__sxx"),
    )
    mean = F.col("__sx").cast("double") / F.col("__n").cast("double")
    ss = F.col("__sxx").cast("double") - (
        F.col("__sx").cast("double") * F.col("__sx").cast("double")
    ) / F.col("__n").cast("double")
    stats = stats.select("__s2", mean.alias("__mean"), ss.alias("__ss"))
    a = (
        rolled.where(F.col("__s") == series_a)
        .join(F.broadcast(stats), F.col("__s") == F.col("__s2"))
        .select(
            F.col("__h").alias("__ha"),
            (F.col("__x").cast("double") - F.col("__mean")).alias("__da"),
            F.col("__ss").alias("__ssa"),
        )
    )
    b = (
        rolled.where(F.col("__s") == series_b)
        .join(F.broadcast(stats), F.col("__s") == F.col("__s2"))
        .select(
            F.col("__h").alias("__hb"),
            (F.col("__x").cast("double") - F.col("__mean")).alias("__db"),
            F.col("__ss").alias("__ssb"),
        )
    )
    lags = F.explode(
        F.array(*[F.lit(k) for k in range(-int(max_lag), int(max_lag) + 1)])
    ).alias("lag")
    aa = a.select(lags, "__ha", "__da", "__ssa").withColumn(
        "__hb_want", F.col("__ha") + F.col("lag")
    )
    j = aa.join(b, F.col("__hb_want") == F.col("__hb"))
    out = j.groupBy("lag").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum((F.col("__da") * F.col("__db")).cast("decimal(38,10)")).alias(
            "__num"
        ),
        F.first("__ssa").alias("__fssa"),
        F.first("__ssb").alias("__fssb"),
    )
    r6_ = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    denom = F.sqrt(F.col("__fssa") * F.col("__fssb"))
    return out.select(
        F.col("lag").cast("int").alias("lag"),
        "n_pairs",
        F.when(
            denom > 0, r6_(F.col("__num").cast("double") / denom)
        ).alias("ccf"),
    ).orderBy("lag")


def page_hinkley_alarms(
    df: DataFrame,
    ts_col: str = "ts",
    series_col: str = "event_type",
    value_col: str = "value",
    bucket: str = "hour",
    delta: float = 0.0,
    threshold: float = 1000.0,
) -> DataFrame:
    """Page–Hinkley sequential mean-shift detector per series (Page
    1954; Hinkley 1971): U_t = Σ_{i≤t}(x_i − m̄_i − δ) with m̄_i the
    running mean, PH_t = U_t − min_{i≤t} U_i, alarm when PH_t > λ. The
    ONLINE complement to `best_changepoint` (retrospective argmax) and
    `cusum_changepoint`: PH's running-mean recentering makes it robust
    to unknown baseline level, and the statistic is exactly what a
    streaming monitor keeps as O(1) state per series. Reports, per
    series, the peak PH, whether it crossed λ, and the FIRST alarm
    bucket — the detection latency a monitoring SLO cares about. (`page_hinkley`
    reports the full per-(series, day) COUNT-stream PH trajectory; this
    one summarizes hourly VALUE totals to alarm facts.)

    Exactness contract: totals quantize to nano-unit integers; each
    round's term folds to a 1e-6 micro-unit INTEGER (term_i =
    ⌊(x_i − S_i/(1e9·i) − δ)·1e6 + 0.5⌋ with x_i = q_i/1e9, one pinned
    IEEE order) so the cumulative U, its prefix min, and PH are pure
    integer window folds — bit-identical in SQL regardless of float
    summation order. Scale shape: one corpus groupBy to the bounded
    rollup, three ordered window passes over it (one exchange), one
    |series|-row agg.
    """
    rolled = (
        df.groupBy(
            F.col(series_col).alias("__s"),
            F.date_trunc(bucket, F.col(ts_col)).alias("__b"),
        )
        .agg(F.sum(F.col(value_col).cast("decimal(25,2)")).alias("__xd"))
        .select(
            "__s",
            F.unix_micros(F.col("__b").cast("timestamp")).alias("__us"),
            (F.col("__xd") * F.lit(1_000_000_000)).cast("long").alias("__q"),
        )
    )
    w = Window.partitionBy("__s").orderBy("__us")
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    i = F.row_number().over(w)
    run_sum = F.sum(F.col("__q").cast("decimal(38,0)")).over(wcum)
    x_i = F.col("__q").cast("double") / F.lit(1e9)
    mean_i = run_sum.cast("double") / F.lit(1e9) / i.cast("double")
    term = (
        F.floor((x_i - mean_i - F.lit(float(delta))) * F.lit(1e6) + F.lit(0.5))
        .cast("long")
    )
    staged = rolled.select("__s", "__us", term.alias("__t"))
    u = F.sum("__t").over(wcum)
    staged2 = staged.select("__s", "__us", u.alias("__u"))
    ph = (F.col("__u") - F.min("__u").over(wcum)).alias("__ph")
    lam = int(round(float(threshold) * 1e6))
    scored = staged2.select("__s", "__us", ph)
    r6_ = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    out = scored.groupBy("__s").agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.max("__ph").alias("__phmax"),
        F.min(
            F.when(F.col("__ph") > F.lit(lam), F.col("__us"))
        ).alias("__first_us"),
    )
    return out.select(
        F.col("__s").alias(series_col),
        "n_buckets",
        r6_(F.col("__phmax").cast("double") / F.lit(1e6)).alias("ph_max"),
        (F.col("__phmax") > F.lit(lam)).alias("alarmed"),
        (F.col("__first_us") / F.lit(1_000_000))
        .cast("timestamp")
        .alias("first_alarm_bucket"),
    ).orderBy(series_col)


def cramer_von_mises(
    ref: DataFrame,
    cur: DataFrame,
    value_col: str = "value",
    n_chunks: int = 32,
) -> DataFrame:
    """Exact two-sample Cramér–von Mises statistic, distributed
    (Anderson 1962): T = nm/N² · Σ over all N pooled observations of
    (F_n(x) − G_m(x))². Where KS reads only the single worst CDF gap,
    CvM integrates EVERY gap — far more sensitive to distributional
    drift spread across the range (a fraud mix shifting 2% everywhere)
    that KS's max-gap misses until it concentrates.

    Exactness contract: with cumulative integer counts (cr, cc) at each
    distinct value, (F−G)² = (cr·m − cc·n)²/(nm)², so the weighted sum
    S = Σ_v n_v·(cr·m − cc·n)² folds as a pure decimal INTEGER
    (order-invariant); T = S/(n·m·N²) is then one pinned IEEE assembly.
    Magnitude: S ≤ N·(nm)² ≈ 5e32 at the 10× corpus — inside
    decimal(38); the 100 TB form would bucket values first (the PSI
    convention), documented out of contract here.

    Scale shape: identical chunked-CDF plan to `ks_statistic` — one
    groupBy on value, per-chunk cumsums + triangular offsets (no
    partitionless window), one integer-exact global agg. Returns one
    row: (cvm_stat, n_ref, n_cur).
    """
    from . import chunked as C

    tagged = ref.select(
        F.col(value_col).alias("v"), F.lit(1).alias("r"), F.lit(0).alias("c")
    ).unionAll(
        cur.select(
            F.col(value_col).alias("v"), F.lit(0).alias("r"), F.lit(1).alias("c")
        )
    )
    # the cut and the chunk assignment share one two-corpus groupBy
    g = tagged.groupBy("v").agg(
        F.sum("r").alias("n_ref_v"), F.sum("c").alias("n_cur_v")
    ).transform(reuse)
    ch = C.range_chunk(g, "v", n_chunks)
    w_in = (
        Window.partitionBy("__chunk")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    within = ch.withColumn("__cr_in", F.sum("n_ref_v").over(w_in)).withColumn(
        "__cc_in", F.sum("n_cur_v").over(w_in)
    )
    totals = within.groupBy("__chunk").agg(
        F.max("__cr_in").alias("__cr"), F.max("__cc_in").alias("__cc")
    )
    offsets = C.chunk_offsets(totals, ["__cr", "__cc"])
    tot = totals.agg(
        F.sum("__cr").cast("long").alias("__tr"),
        F.sum("__cc").cast("long").alias("__tc"),
    )
    diff = (
        (F.col("__cr_off") + F.col("__cr_in")) * F.col("__tc")
        - (F.col("__cc_off") + F.col("__cc_in")) * F.col("__tr")
    ).cast("decimal(19,0)")
    terms = (
        within.join(F.broadcast(offsets), "__chunk")
        .crossJoin(F.broadcast(tot))
        .select(
            (
                (diff * diff).cast("decimal(38,0)")
                * (F.col("n_ref_v") + F.col("n_cur_v")).cast("decimal(38,0)")
            ).cast("decimal(38,0)").alias("__term"),
            "__tr",
            "__tc",
        )
    )
    agg = terms.groupBy("__tr", "__tc").agg(F.sum("__term").alias("__S"))
    n_d = F.col("__tr").cast("double")
    m_d = F.col("__tc").cast("double")
    nn = n_d + m_d
    r6_ = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    return agg.select(
        F.when(
            (F.col("__tr") > 0) & (F.col("__tc") > 0),
            r6_(F.col("__S").cast("double") / (n_d * m_d * (nn * nn))),
        ).alias("cvm_stat"),
        F.col("__tr").alias("n_ref"),
        F.col("__tc").alias("n_cur"),
    )
