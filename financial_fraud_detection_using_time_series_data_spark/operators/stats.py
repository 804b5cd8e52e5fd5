"""Classical hypothesis tests, distributed and reduction-order exact.

The reference pipeline eyeballs per-type value distributions
(train_pipeline.py's groupby describes); a production analytics engine
needs the actual tests those eyeballs approximate. This module carries
the rank-based and moment-based two/k-sample tests that complement
`drift.mann_whitney` (rank two-sample) and `evaluation.anova_f`
(moment k-sample):

- `spearman_corr`  — rank correlation (monotone association, tie-aware)
- `kruskal_wallis` — rank k-sample test (nonparametric ANOVA)
- `welch_ttest`    — unequal-variance two-sample t + Cohen's d
- `brown_forsythe` — variance-homogeneity test (Levene on medians)

Exactness contract (shared with the rest of the repo): every
cross-partition fold is an INTEGER or exact-decimal sum. Average ranks
with ties are half-integers, so DOUBLED ranks (2·r = 2·cnt_less +
cnt_eq + 1) fold as pure integers; the final statistic assembles from
those integer aggregates in closed-form IEEE arithmetic (+,−,×,/,sqrt
only), bit-identical across engines and partitionings.

Scale shape: ranks never materialize a partitionless window — the
distinct-value frame is chunk-cumsummed (`chunked.range_chunk` /
`chunk_offsets`: |chunks| parallel tasks), then joined back. Every
post-shuffle frame is bounded by |distinct values| or |groups|.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import chunked as C
from ..functions.lineage import reuse


def _rank2(df: DataFrame, col: str, n_chunks: int) -> DataFrame:
    """(v, cnt, r2) per DISTINCT value of ``col``: cnt = multiplicity,
    r2 = 2·(average rank of v in the full sorted order) — an exact
    BIGINT (ties make average ranks half-integers; doubling clears the
    half). Chunked cumulative count, no partitionless window."""
    # the |distinct(col)| frame feeds the cut, the window, the totals and the join
    g = df.groupBy(F.col(col).alias("v")).agg(
        F.count(F.lit(1)).alias("cnt")
    ).transform(reuse)
    ch = C.range_chunk(g, "v", n_chunks)
    w = (
        Window.partitionBy("__chunk")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    within = ch.withColumn("__c_in", F.sum("cnt").over(w))
    totals = within.groupBy("__chunk").agg(F.max("__c_in").alias("__c"))
    offs = C.chunk_offsets(totals, ["__c"])
    less = F.col("__c_off") + F.col("__c_in") - F.col("cnt")
    return within.join(F.broadcast(offs), "__chunk").select(
        "v",
        F.col("cnt").cast("long").alias("cnt"),
        (F.lit(2) * less + F.col("cnt") + F.lit(1)).cast("long").alias("r2"),
    )


def _grouped_median(
    df: DataFrame,
    keys: list[str],
    val_col: str,
    med_col: str,
    extra_over: dict | None = None,
) -> DataFrame:
    """Exact ``percentile(val_col, 0.5)`` per ``keys`` group WITHOUT the
    percentile aggregate — round 13, guide §2.4/§5.

    `percentile` buffers EVERY group value in one per-group in-memory
    counts map (partials ship the whole map through the shuffle, the
    merge runs single-threaded per group); profiled round 12 on
    mann_kendall's 1.29M-row pair frame: percentile 3.31s vs 1.01s for
    a plain `max` on the same frame. This helper ranks the group with
    one window pass instead — spillable sort, O(1) running state —
    keeps only the two middle order statistics, and interpolates
    0.5·v_lo + 0.5·v_hi off a 2-rows-per-group frame.

    Exactness: Spark's percentile interpolates
    (hi−pos)·v_lo + (pos−lo)·v_hi, which at p = 0.5 is the midpoint
    (0.5·v_lo + 0.5·v_hi) when n is even and v_k exactly when n is odd.
    For values on the repo's integer / half-integer micro-grids below
    2^52, halving is exact and the midpoint is representable, so BOTH
    forms produce the identical double (odd n: 0.5·v + 0.5·v ≡ v
    exactly) — the DuckDB `quantile_cont` twin replays the same bits.
    NULL values sort last and are excluded (percentile semantics); an
    all-NULL group yields a NULL median but keeps its row (the `rn = 1`
    guard keeps at least one row per non-empty group in the picked
    frame).

    ``extra_over``: {name: aggregate fn} evaluated over the ENTIRE
    group on the same window exchange (e.g. mann_kendall's Σsign /
    hodges_lehmann's pair count) and carried to the output. Returns one
    row per group: keys + med_col + extras.
    """
    wo = Window.partitionBy(*keys).orderBy(F.col(val_col).asc_nulls_last())
    wp = Window.partitionBy(*keys)
    proj = df.withColumn("__rn", F.row_number().over(wo)).withColumn(
        "__nn", F.count(val_col).over(wp)
    )
    extras = dict(extra_over or {})
    for name, agg in extras.items():
        proj = proj.withColumn(name, agg.over(wp))
    k1 = F.expr("(__nn + 1) div 2")
    k2 = F.expr("(__nn + 2) div 2")
    picked = proj.where(
        (F.col("__rn") == k1) | (F.col("__rn") == k2) | (F.col("__rn") == 1)
    )
    v1 = F.max(F.when(F.col("__rn") == k1, F.col(val_col)))
    v2 = F.max(F.when(F.col("__rn") == k2, F.col(val_col)))
    return picked.groupBy(*keys).agg(
        (
            F.lit(0.5) * v1.cast("double") + F.lit(0.5) * v2.cast("double")
        ).alias(med_col),
        *[F.max(name).alias(name) for name in extras],
    )


def spearman_corr(
    df: DataFrame,
    x_col: str,
    y_col: str,
    n_chunks: int = 32,
) -> DataFrame:
    """Spearman rank correlation between two numeric columns, with the
    standard average-rank tie treatment — the monotone-association
    complement to `corr_vector`'s Pearson (which the reference's
    feature screen uses and which misses any nonlinear-but-monotone
    relation).

    ρ is Pearson on the (tie-averaged) ranks. Doubled ranks are exact
    BIGINTs, so all five moment sums (Σrx, Σry, Σrx², Σry², Σrx·ry)
    fold as decimal(38,0) integers — reduction-order invariant,
    oracle-exact — and the factors of 2 cancel in the closed form.

    Scale shape: two distinct-value rank frames (chunked cumsum, no
    partitionless window), two hash joins back onto the row frame keyed
    by value, one global integer aggregate. Rows with a NULL on either
    side are dropped (pandas `corr(method='spearman')` semantics).
    Returns one row: (n, rho) — rho NULL when n < 2 or either side is
    constant.
    """
    base = df.select(
        F.col(x_col).alias("__x"), F.col(y_col).alias("__y")
    ).where(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
    rx = _rank2(base, "__x", n_chunks).select(
        F.col("v").alias("__x"), F.col("r2").alias("__rx")
    )
    ry = _rank2(base, "__y", n_chunks).select(
        F.col("v").alias("__y"), F.col("r2").alias("__ry")
    )
    ranked = base.join(rx, "__x").join(ry, "__y")
    d38 = "decimal(38,0)"
    agg = ranked.agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(F.col("__rx").cast(d38)).alias("__sx"),
        F.sum(F.col("__ry").cast(d38)).alias("__sy"),
        F.sum((F.col("__rx") * F.col("__rx")).cast(d38)).alias("__sxx"),
        F.sum((F.col("__ry") * F.col("__ry")).cast(d38)).alias("__syy"),
        F.sum((F.col("__rx") * F.col("__ry")).cast(d38)).alias("__sxy"),
    )
    n = F.col("__n").cast("double")
    sx = F.col("__sx").cast("double")
    sy = F.col("__sy").cast("double")
    cov = n * F.col("__sxy").cast("double") - sx * sy
    vx = n * F.col("__sxx").cast("double") - sx * sx
    vy = n * F.col("__syy").cast("double") - sy * sy
    return agg.select(
        F.col("__n").cast("long").alias("n"),
        F.when((n > 1) & (vx > 0) & (vy > 0), cov / F.sqrt(vx * vy)).alias(
            "rho"
        ),
    )


def kruskal_wallis(
    df: DataFrame,
    group_col: str,
    value_col: str,
    n_chunks: int = 32,
) -> DataFrame:
    """Kruskal-Wallis H test: do k groups share one value distribution?
    The rank-based (distribution-free) sibling of `anova_f`, and the
    k-group generalization of `mann_whitney` — the right screen when a
    numeric metric is skewed and groups number more than two.

    H = 12/(N(N+1)) · Σ_g R_g²/n_g − 3(N+1), tie-corrected by
    C = 1 − Σ(t³−t)/(N³−N). R_g folds as the exact BIGINT Σ n_gv·r2(v)
    (doubled average ranks). The cross-group fold of R_g²/n_g is split
    EXACTLY: with r2 = 2R, Σ 4R_g²/n_g = Σ (r2_g² div n_g) +
    Σ (r2_g² mod n_g)/n_g — the quotient folds as an exact decimal
    integer and each fractional remainder is < 1, so its 1e-9-grid
    micro-fold cannot lose precision at ANY corpus size (a fixed 1e-6
    micro-grid on the raw term overflows int64 once R_g² passes ~1e19
    — caught by the sf0.1 hash sweep). Tie counts come off the
    distinct-value frame as pure integers.

    Scale shape: one (group, value) rollup, one distinct-value rank
    frame (chunked cumsum), a hash join between the two on value, one
    |groups|-row aggregate. Returns one row: (n, k, h, h_corrected) —
    NULL statistics when k < 2 or every value ties (C = 0).
    """
    base = df.select(
        F.col(group_col).alias("__g"), F.col(value_col).alias("__v")
    ).where(F.col(value_col).isNotNull())
    gv = base.groupBy("__g", "__v").agg(F.count(F.lit(1)).alias("__ngv"))
    ranks = _rank2(base, "__v", n_chunks)
    per_group = (
        gv.join(ranks.select(F.col("v").alias("__v"), "r2"), "__v")
        .groupBy("__g")
        .agg(
            F.sum(F.col("__ngv")).cast("long").alias("__ng"),
            F.sum((F.col("__ngv") * F.col("r2")).cast("decimal(38,0)")).alias(
                "__r2g"
            ),
        )
    )
    # 4·R_g²/n_g = r2_g² div n_g (exact decimal) + (r2_g² mod n_g)/n_g
    # (each < 1, folded on the 1e-9 grid — magnitude-safe at any SF)
    r2sq = (F.col("__r2g") * F.col("__r2g")).cast("decimal(38,0)")
    ngd = F.col("__ng").cast("decimal(38,0)")
    mod = (r2sq % ngd).cast("decimal(38,0)")
    quot = ((r2sq - mod) / ngd).cast("decimal(38,0)")
    frac = mod.cast("double") / F.col("__ng").cast("double")
    gtot = per_group.agg(
        F.sum("__ng").cast("double").alias("__N"),
        F.count(F.lit(1)).cast("double").alias("__k"),
        F.sum(quot).alias("__q"),
        F.sum(
            F.floor(frac * F.lit(1e9) + F.lit(0.5)).cast("decimal(38,0)")
        ).alias("__f_nano"),
    )
    t = F.col("cnt").cast("long")
    ties = ranks.agg(
        F.sum((t * t * t - t).cast("decimal(38,0)")).alias("__tie")
    )
    tot = gtot.crossJoin(F.broadcast(ties))
    N = F.col("__N")
    k = F.col("__k")
    # Σ R_g²/n_g = (Σq + Σfrac) / 4
    rsum = (
        F.col("__q").cast("double")
        + F.col("__f_nano").cast("double") / F.lit(1e9)
    ) / F.lit(4.0)
    h = F.lit(12.0) / (N * (N + F.lit(1.0))) * rsum - F.lit(3.0) * (
        N + F.lit(1.0)
    )
    corr = F.lit(1.0) - F.col("__tie").cast("double") / (N * N * N - N)
    return tot.select(
        N.cast("long").alias("n"),
        k.cast("long").alias("k"),
        F.when((k > 1) & (N > 1), h).alias("h"),
        F.when((k > 1) & (N > 1) & (corr > 0), h / corr).alias("h_corrected"),
    )


def welch_ttest(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
    value_scale: str = "decimal(25,6)",
) -> DataFrame:
    """Welch's unequal-variance two-sample t test between two named
    groups, plus the Welch-Satterthwaite degrees of freedom and Cohen's
    d (pooled-SD effect size) — the parametric partner of
    `mann_whitney` and the pairwise drill-down after `anova_f` flags a
    k-group difference.

    ONE map-side-combined aggregation pass computes both groups'
    sufficient statistics via conditional sums (n, Σv, Σv² as exact
    decimals — no second scan, no join); t, df and d assemble in
    closed-form IEEE arithmetic. Returns one row:
    (n_a, n_b, mean_a, mean_b, t_stat, df, cohens_d) — NULLs when
    either group has < 2 rows or both variances are zero.
    """
    v = F.col(value_col).cast(value_scale)
    vv = (v * v).cast("decimal(38,8)")
    is_a = F.col(group_col) == F.lit(group_a)
    is_b = F.col(group_col) == F.lit(group_b)
    agg = df.where(F.col(value_col).isNotNull() & (is_a | is_b)).agg(
        F.sum(F.when(is_a, 1).otherwise(0)).alias("__na"),
        F.sum(F.when(is_b, 1).otherwise(0)).alias("__nb"),
        F.sum(F.when(is_a, v)).alias("__sa"),
        F.sum(F.when(is_b, v)).alias("__sb"),
        F.sum(F.when(is_a, vv)).alias("__ssa"),
        F.sum(F.when(is_b, vv)).alias("__ssb"),
    )
    na = F.col("__na").cast("double")
    nb = F.col("__nb").cast("double")
    sa = F.col("__sa").cast("double")
    sb = F.col("__sb").cast("double")
    # ANSI-safe denominators: the gated outputs below only surface when
    # na > 1 and nb > 1, where these equal the plain n and n − 1
    na_d = F.greatest(na, F.lit(1.0))
    nb_d = F.greatest(nb, F.lit(1.0))
    na_1 = F.greatest(na - F.lit(1.0), F.lit(1.0))
    nb_1 = F.greatest(nb - F.lit(1.0), F.lit(1.0))
    ma = sa / na_d
    mb = sb / nb_d
    va = (F.col("__ssa").cast("double") - sa * sa / na_d) / na_1
    vb = (F.col("__ssb").cast("double") - sb * sb / nb_d) / nb_1
    se2 = va / na_d + vb / nb_d
    t = (ma - mb) / F.sqrt(F.abs(se2) + F.lit(1e-300))
    dof = (se2 * se2) / (
        (va / na_d) * (va / na_d) / na_1
        + (vb / nb_d) * (vb / nb_d) / nb_1
        + F.lit(1e-300)
    )
    sp = F.sqrt(
        F.abs((na - F.lit(1.0)) * va + (nb - F.lit(1.0)) * vb)
        / F.greatest(na + nb - F.lit(2.0), F.lit(1.0))
    )
    ok = (na > 1) & (nb > 1) & (se2 > 0)
    return agg.select(
        F.col("__na").cast("long").alias("n_a"),
        F.col("__nb").cast("long").alias("n_b"),
        F.when(na > 0, ma).alias("mean_a"),
        F.when(nb > 0, mb).alias("mean_b"),
        F.when(ok, t).alias("t_stat"),
        F.when(ok, dof).alias("df"),
        F.when(ok & (sp > 0), (ma - mb) / (sp + F.lit(1e-300))).alias(
            "cohens_d"
        ),
    )


def brown_forsythe(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Brown-Forsythe variance-homogeneity test (Levene's test with the
    group MEDIAN center — the robust form): do k groups share one
    SPREAD? The gatekeeper before trusting `anova_f`'s equal-variance
    assumption, and a drift screen in its own right (a fraud regime
    often shifts dispersion before it shifts the mean).

    z_ig = |x_ig − median_g| per row, then one-way ANOVA on z. Group
    medians come from one exact `percentile` rollup (tiny, broadcast
    back); z is quantized to the repo's 1e-9 micro-grid before the
    moment sums so the interpolated-median ulp cannot leak into the
    fold (cent-valued inputs put every z exactly on-grid). The ANOVA
    assembly reuses the `anova_f` micro-fold convention.

    Scale shape: one |groups|-row percentile aggregate (broadcast), one
    map-side-combined moment pass, one |groups|-row fold. Returns one
    row: (n, k, f_stat, df1, df2).
    """
    meds = df.where(F.col(value_col).isNotNull()).groupBy(group_col).agg(
        F.expr(f"percentile({value_col}, 0.5)").alias("__med")
    )
    z_raw = F.abs(F.col(value_col) - F.col("__med"))
    z = F.floor(z_raw * F.lit(1e9) + F.lit(0.5)).cast("decimal(25,0)")
    g = (
        df.where(F.col(value_col).isNotNull())
        .join(F.broadcast(meds), group_col)
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum(z).alias("__s"),
            F.sum((z * z).cast("decimal(38,0)")).alias("__ss"),
        )
    )
    # cross-group fold, magnitude-safe (the kruskal_wallis sf0.1
    # lesson): s²/n splits into S² div (n·10¹⁸) — S = Σz in exact nano
    # units — plus a sub-1 remainder on the 1e-9 grid; Σz and Σz² fold
    # as exact decimals, so no float of unbounded magnitude is ever
    # micro-gridded
    d38 = "decimal(38,0)"
    denom = (
        F.col("__n").cast(d38)
        * F.lit(1_000_000_000).cast(d38)
        * F.lit(1_000_000_000).cast(d38)
    ).cast(d38)
    s2 = (F.col("__s").cast(d38) * F.col("__s").cast(d38)).cast(d38)
    mod = (s2 % denom).cast(d38)
    quot = ((s2 - mod) / denom).cast(d38)
    frac = mod.cast("double") / denom.cast("double")
    tot = g.agg(
        F.sum("__n").cast("double").alias("__N"),
        F.count(F.lit(1)).cast("double").alias("__k"),
        F.sum("__s").cast("double").alias("__S_nano"),
        F.sum(F.col("__ss")).cast("double").alias("__SS_n2"),
        F.sum(quot).alias("__q"),
        F.sum(
            F.floor(frac * F.lit(1e9) + F.lit(0.5)).cast(d38)
        ).alias("__f_nano"),
    )
    N = F.col("__N")
    k = F.col("__k")
    S = F.col("__S_nano") / F.lit(1e9)
    sb_sum = (
        F.col("__q").cast("double")
        + F.col("__f_nano").cast("double") / F.lit(1e9)
    )
    ssb = sb_sum - S * S / N
    ssw = F.col("__SS_n2") / F.lit(1e18) - sb_sum
    f = (ssb / (k - F.lit(1.0))) / (ssw / (N - k))
    return tot.select(
        N.cast("long").alias("n"),
        k.cast("long").alias("k"),
        F.when((k > 1) & (ssw > 0), f).alias("f_stat"),
        (k - F.lit(1.0)).cast("long").alias("df1"),
        (N - k).cast("long").alias("df2"),
    )


def mann_kendall(
    df: DataFrame,
    ts_col: str = "ts",
    series_col: str = "event_type",
    value_col: str = "value",
    bucket: str = "hour",
) -> DataFrame:
    """Mann-Kendall trend test + Sen's slope per series over bucketed
    totals (Mann 1945; Kendall 1975; Sen 1968) — the standard
    nonparametric monotone-trend detector: S = Σ_{i<j} sign(x_j − x_i),
    Var(S) tie-corrected, z with the ±1 continuity correction, and the
    Theil–Sen slope = median of all pairwise slopes — the robust trend
    estimate a drift monitor alerts on (complements `runs_test`'s
    randomness check and `seasonal_decompose`'s trend component with an
    actual significance test).

    Exactness contract: the corpus collapses ONCE to the per-(series,
    bucket) decimal rollup; sign comparisons run on the 1e-3-grid
    quantized totals (`runs_test` convention, ulp-robust); pairwise
    slopes quantize to 1e-6 micro-units (BIGINT) BEFORE the median, so
    the exact-percentile interpolation is arithmetic on integers —
    midpoints of < 2^52 integers are exact in IEEE — and the result
    replays bit-identically in an external SQL engine. Var(S) and z
    assemble from pure-integer S, n, and tie counts.

    Scale shape: the O(B²) pair self-join runs over the ROLLUP (B =
    buckets per series — bounded by the time span, not the corpus; the
    wavelet/hurst hour-grid contract), never over raw events. One
    corpus-sized groupBy, then |series|·B² bounded work.
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
            F.floor(F.col("__x").cast("double") * F.lit(1e3) + F.lit(0.5))
            .cast("long")
            .alias("__q"),
        )
    )
    rolled = reuse(rolled)  # pairs ×2 + ties + n
    # self-join with DISJOINT column names on the right side: both
    # branches descend from the same break, so aliased a./b.
    # references share exprIds and resolve ambiguously in Spark 4 —
    # renamed projections sidestep the alias machinery entirely
    right = rolled.select(
        F.col("__s").alias("__sb"),
        F.col("__us").alias("__usb"),
        F.col("__x").alias("__xb"),
        F.col("__q").alias("__qb"),
    )
    pair_slope = (
        (F.col("__xb") - F.col("__x")).cast("double")
        / ((F.col("__usb") - F.col("__us")).cast("double") / F.lit(3.6e9))
    )
    pair_rows = rolled.join(
        right,
        (F.col("__s") == F.col("__sb")) & (F.col("__usb") > F.col("__us")),
    ).select(
        # fresh name for the group key: after a self-join the left
        # __s attribute is internally duplicated (Spark 4 keeps both
        # lineage copies), and any later reference to __s — even
        # qualified — resolves ambiguously; __g never collides
        F.col("__s").alias("__g"),
        F.signum((F.col("__qb") - F.col("__q")).cast("double"))
        .cast("long")
        .alias("__sgn"),
        F.floor(pair_slope * F.lit(1e6) + F.lit(0.5))
        .cast("long")
        .alias("__mslope"),
    )
    # round 13: distributed rank-median (see _grouped_median) replaces
    # the per-group percentile buffer; Σsign rides the same window
    # exchange. Bit-identical: integer micro-slopes < 2^52.
    pairs = _grouped_median(
        pair_rows,
        ["__g"],
        "__mslope",
        "__sen_micro",
        extra_over={"__S": F.sum("__sgn")},
    )
    # distinct rename: pairs and ties branch off the SAME break, so
    # their __s attributes share an exprId — a USING-join would leave
    # the output ambiguous
    ties = (
        rolled.select(F.col("__s").alias("__s2"), "__q")
        .groupBy("__s2", "__q")
        .agg(F.count(F.lit(1)).cast("long").alias("__t"))
        .groupBy("__s2")
        .agg(
            F.sum(
                F.col("__t")
                * (F.col("__t") - F.lit(1))
                * (F.lit(2) * F.col("__t") + F.lit(5))
            )
            .cast("long")
            .alias("__tiesum"),
            F.sum("__t").cast("long").alias("__nb"),
        )
    )
    j = pairs.join(ties, F.col("__g") == F.col("__s2")).drop("__s2")
    var_s = (
        (
            F.col("__nb")
            * (F.col("__nb") - F.lit(1))
            * (F.lit(2) * F.col("__nb") + F.lit(5))
            - F.col("__tiesum")
        ).cast("double")
        / F.lit(18.0)
    )
    s_d = F.col("__S").cast("double")
    z = (
        F.when(var_s <= 0, F.lit(0.0))
        .when(F.col("__S") > 0, (s_d - F.lit(1.0)) / F.sqrt(var_s))
        .when(F.col("__S") < 0, (s_d + F.lit(1.0)) / F.sqrt(var_s))
        .otherwise(F.lit(0.0))
    )
    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    return j.select(
        F.col("__g").alias(series_col),
        F.col("__nb").alias("n_buckets"),
        F.col("__S").alias("s_stat"),
        r6(var_s).alias("var_s"),
        (F.col("__sen_micro") / F.lit(1e6)).alias("sen_slope_per_hour"),
        r6(z).alias("z"),
    )


def hodges_lehmann(
    df: DataFrame,
    ts_col: str = "ts",
    series_col: str = "event_type",
    value_col: str = "value",
    bucket: str = "hour",
) -> DataFrame:
    """Hodges–Lehmann location estimator per series over bucketed totals
    (Hodges & Lehmann 1963): the median of all Walsh averages
    (xᵢ + xⱼ)/2, i ≤ j — the robust "typical level" with ~0.955
    asymptotic efficiency vs the mean at the normal yet a 29% breakdown
    point, and the point estimate the Wilcoxon signed-rank test inverts.
    Complements `mann_kendall` (trend direction via the same pairwise
    machinery) with the robust LEVEL, and `mad_control_limits` with the
    estimator control charts center on. Also reports the plain mean —
    the HL-vs-mean gap is itself a skew/outlier diagnostic.

    Exactness contract: bucket totals quantize to 1e-6 micro-unit
    integers (cent-valued decimals land on-grid); the Walsh statistic is
    the median over the integer SUMS qᵢ + qⱼ (halving deferred), so the
    exact-percentile interpolation is arithmetic on integers — exact in
    IEEE below 2^52 — and the final /2e6 is one pinned double division:
    the whole statistic replays bit-identically in an external SQL
    engine. Grid contract: series' bucket totals ≤ ~4.6e12 units keep
    qᵢ + qⱼ inside 2^53 (documented with the other hour-grid bounds).

    Scale shape: ONE corpus groupBy collapses to the per-(series,
    bucket) rollup; the O(B²) i ≤ j pair self-join runs over the ROLLUP
    only (B bounded by the time span, the `mann_kendall` contract),
    never raw events. exprId-safe renamed right-side projections.
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
            (F.col("__x") * F.lit(1_000_000)).cast("long").alias("__q"),
        )
    )
    rolled = reuse(rolled)  # pairs + n branch
    right = rolled.select(
        F.col("__s").alias("__sb"),
        F.col("__us").alias("__usb"),
        F.col("__q").alias("__qb"),
    )
    pair_rows = rolled.join(
        right,
        (F.col("__s") == F.col("__sb")) & (F.col("__usb") >= F.col("__us")),
    ).select(
        # fresh group-key name: post-self-join __s resolves
        # ambiguously in Spark 4 (mann_kendall convention)
        F.col("__s").alias("__g"),
        (F.col("__q") + F.col("__qb")).alias("__wsum"),
    )
    # round 13: distributed rank-median over the Walsh sums (see
    # _grouped_median); the pair count rides the same window exchange.
    # Bit-identical: integer sums < 2^53 by the grid contract.
    pairs = _grouped_median(
        pair_rows,
        ["__g"],
        "__wsum",
        "__hl2_micro",
        extra_over={"n_pairs": F.count(F.lit(1))},
    )
    nb = rolled.select(F.col("__s").alias("__s2"), "__q").groupBy("__s2").agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.sum(F.col("__q").cast("decimal(38,0)")).alias("__sq"),
    )
    j = pairs.join(nb, F.col("__g") == F.col("__s2")).drop("__s2")
    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    return j.select(
        F.col("__g").alias(series_col),
        "n_buckets",
        "n_pairs",
        # integer-median / one pinned double division: exact, no rounding
        (F.col("__hl2_micro") / F.lit(2e6)).alias("hl_location"),
        r6(
            F.col("__sq").cast("double")
            / F.lit(1e6)
            / F.col("n_buckets").cast("double")
        ).alias("mean_level"),
    ).orderBy(series_col)


def siegel_slope(
    df: DataFrame,
    ts_col: str = "ts",
    series_col: str = "event_type",
    value_col: str = "value",
    bucket: str = "hour",
) -> DataFrame:
    """Siegel repeated-median slope per series (Siegel 1982, Biometrika):
    for each bucket i take the MEDIAN of its pairwise slopes to every
    other bucket, then the median of those per-bucket medians. The 50%
    breakdown point beats Theil-Sen's 29% (`mann_kendall`'s slope): a
    coordinated burst that corrupts nearly half the buckets still can't
    move the repeated median — the robust trend for adversarial
    (fraud-shaped) contamination. Reports both slopes; their divergence
    localizes leverage points.

    Exactness contract: pairwise slopes quantize to 1e-6 micro-unit
    INTEGERS before the inner median (integer interpolation midpoints
    are IEEE-exact); the outer median interpolates between inner medians
    that live on the .5-micro grid — still exact doubles — so both
    levels replay bit-identically in SQL. Scale shape: the O(B²) pair
    frame lives on the bounded per-(series, bucket) ROLLUP (B bounded by
    the time span, never the corpus; `mann_kendall` contract), the inner
    median groups B² rows to B, the outer B to 1.
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
    right = rolled.select(
        F.col("__s").alias("__sb"),
        F.col("__us").alias("__usb"),
        F.col("__x").alias("__xb"),
    )
    pair_slope = (
        (F.col("__xb") - F.col("__x")).cast("double")
        / ((F.col("__usb") - F.col("__us")).cast("double") / F.lit(3.6e9))
    )
    pairs = rolled.join(
        right,
        (F.col("__s") == F.col("__sb")) & (F.col("__usb") != F.col("__us")),
    ).select(
        # fresh names post-self-join (Spark 4 exprId convention)
        F.col("__s").alias("__g"),
        F.col("__us").alias("__i"),
        F.floor(pair_slope * F.lit(1e6) + F.lit(0.5))
        .cast("long")
        .alias("__mslope"),
    )
    # percentile hash aggregates, not a rank-median window: the groups are
    # bounded by the bucket rollup, and the window lost its A/B (6.0 s vs
    # 4.5-5.1 s, OPTIMIZATION_r13.md §1)
    inner = pairs.groupBy("__g", "__i").agg(
        F.expr("percentile(__mslope, 0.5)").alias("__med_i")
    )
    outer = inner.groupBy("__g").agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.expr("percentile(__med_i, 0.5)").alias("__rep_med"),
    )
    # Theil-Sen on the same pair frame for the divergence diagnostic
    sen = pairs.groupBy(F.col("__g").alias("__g2")).agg(
        F.expr("percentile(__mslope, 0.5)").alias("__sen2")
    )
    j = outer.join(sen, F.col("__g") == F.col("__g2")).drop("__g2")
    return j.select(
        F.col("__g").alias(series_col),
        "n_buckets",
        (F.col("__rep_med") / F.lit(1e6)).alias("siegel_slope_per_hour"),
        # i<j AND j<i slopes both appear (symmetric), so this median is
        # over the DOUBLED pair multiset — identical to Theil-Sen's
        # because duplicating every element preserves the median
        (F.col("__sen2") / F.lit(1e6)).alias("sen_slope_per_hour"),
    ).orderBy(series_col)


def kendall_tau(
    df: DataFrame,
    ts_col: str = "ts",
    series_col: str = "event_type",
    value_col: str = "value",
    series_a: str = "purchase",
    series_b: str = "click",
    bucket: str = "hour",
) -> DataFrame:
    """Kendall's τ-b rank correlation between two series' bucketed
    totals on their COMMON buckets (Kendall 1945 tie correction):
    τ_b = (C − D) / √((n₀ − n₁)(n₀ − n₂)) over all hour pairs, with
    n₀ = n(n−1)/2 and n₁/n₂ the tied-pair counts in each margin. The
    rank-based sibling of `spearman_corr` built on concordance counts —
    robust to any monotone transform of either series, the right
    "do these two metrics move together" answer when magnitudes are
    incomparable. `mann_kendall` is exactly τ of a series against time;
    this is τ of two series against each other.

    Exactness contract: totals compare on the 1e-3-grid quantized
    integers (`mann_kendall` convention, ulp-robust); C, D, and the tie
    counts are pure integer folds over the pair frame, and τ_b is one
    pinned IEEE assembly (products before sqrt, one division) —
    bit-identical in SQL.

    Scale shape: one corpus groupBy to the two bounded rollups, one
    equi-join on the hour bucket to the common-hour frame (bounded by
    the time span), then the O(B²) i<j self-join over THAT bounded
    frame only. exprId-safe renamed right-side projections.
    """
    rolled = (
        df.where(F.col(series_col).isin([series_a, series_b]))
        .groupBy(
            F.col(series_col).alias("__s"),
            F.date_trunc(bucket, F.col(ts_col)).alias("__b"),
        )
        .agg(F.sum(F.col(value_col).cast("decimal(25,2)")).alias("__x"))
        .select(
            "__s",
            F.unix_micros(F.col("__b").cast("timestamp")).alias("__us"),
            F.floor(F.col("__x").cast("double") * F.lit(1e3) + F.lit(0.5))
            .cast("long")
            .alias("__q"),
        )
    )
    a = rolled.where(F.col("__s") == series_a).select(
        F.col("__us").alias("__ua"), F.col("__q").alias("__qa")
    )
    b = rolled.where(F.col("__s") == series_b).select(
        F.col("__us").alias("__ub"), F.col("__q").alias("__qb")
    )
    common = a.join(b, F.col("__ua") == F.col("__ub")).select(
        F.col("__ua").alias("__u"), "__qa", "__qb"
    )
    common = reuse(common)  # pair self-join
    right = common.select(
        F.col("__u").alias("__u2"),
        F.col("__qa").alias("__qa2"),
        F.col("__qb").alias("__qb2"),
    )
    pairs = common.join(right, F.col("__u2") > F.col("__u")).select(
        (
            F.signum((F.col("__qa2") - F.col("__qa")).cast("double"))
            * F.signum((F.col("__qb2") - F.col("__qb")).cast("double"))
        ).cast("long").alias("__cd"),
        (F.col("__qa2") == F.col("__qa")).cast("long").alias("__ta"),
        (F.col("__qb2") == F.col("__qb")).cast("long").alias("__tb"),
    )
    agg = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum((F.col("__cd") == 1).cast("long")).cast("long").alias("concordant"),
        F.sum((F.col("__cd") == -1).cast("long")).cast("long").alias("discordant"),
        F.sum("__ta").cast("long").alias("__n1"),
        F.sum("__tb").cast("long").alias("__n2"),
    )
    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    c_d = (F.col("concordant") - F.col("discordant")).cast("double")
    den = F.sqrt(
        (F.col("n_pairs") - F.col("__n1")).cast("double")
        * (F.col("n_pairs") - F.col("__n2")).cast("double")
    )
    return agg.select(
        "n_pairs",
        "concordant",
        "discordant",
        F.col("__n1").alias("tied_a"),
        F.col("__n2").alias("tied_b"),
        F.when(den > 0, r6(c_d / den)).alias("tau_b"),
    )
