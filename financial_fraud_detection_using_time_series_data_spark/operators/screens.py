"""Transaction-level fraud screens (beyond-reference): structuring
(smurfing) detection, duplicate-charge/replay detection, per-entity
burst profiling, and Bollinger-band breakouts.

The reference engineers per-transaction features and leaves detection
entirely to the trained model (``src/features/engineer.py:72-141``,
``src/models/``); these screens are the deterministic rule layer a
production fraud stack runs NEXT TO the model — each one an
oracle-checkable DataFrame op that emits only the flagged rows.

Scale notes (100 TB):
- ``structuring_screen``: one entity-key window exchange; the trailing
  RANGE frame holds only the rows inside the time window per entity
  (bounded state), and the conditional count/sum see only the
  near-threshold band. Output is flagged rows only.
- ``duplicate_transactions``: one exchange on the composite
  (entity, amount[, type]) key — strictly finer than the entity key,
  so skew is LOWER than any per-entity window; per-partition state is
  a single lag.
- ``burst_screen``: trailing range count, then a groupBy on the same
  entity key — the exchange is reused (no second shuffle). Output is
  |entities| rows.
- ``bollinger_breakout``: one entity-key exchange; the trailing row
  frame folds decimal sufficient sums (Σy, Σy² — reduction-order
  invariant, same discipline as ``behavior.linear_trend``), and the
  band test is one double expression. Output is flagged rows only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.lineage import reuse


def structuring_screen(
    df: DataFrame,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    value_col: str = "value",
    threshold: float = 100.0,
    band_frac: float = 0.10,
    window_hours: float = 48.0,
    min_count: int = 3,
) -> DataFrame:
    """Structuring ("smurfing") screen: transactions that sit just
    below a reporting threshold — in ``[threshold*(1-band_frac),
    threshold)`` — where the same account has made at least
    ``min_count`` such transactions inside the trailing
    ``window_hours``. Splitting one large transfer into several
    just-under-the-limit ones is the canonical AML evasion pattern; a
    single near-limit amount is innocent, a cluster of them is not.

    One entity-key RANGE window carries both the conditional count and
    the decimal-exact conditional sum; flagged rows only.
    """
    lo = float(threshold) * (1.0 - float(band_frac))
    hi = float(threshold)
    near = (F.col(value_col) >= lo) & (F.col(value_col) < hi)
    w = (
        Window.partitionBy(entity_col)
        .orderBy(F.col(ts_col).cast("long"))
        .rangeBetween(-int(float(window_hours) * 3600.0), 0)
    )
    staged = df.select(
        entity_col,
        F.col(id_col),
        F.col(ts_col),
        F.col(value_col).cast("double").alias("amount"),
        near.alias("__near"),
        F.count(F.when(near, 1)).over(w).alias("near_count"),
        F.sum(F.when(near, F.col(value_col).cast("decimal(25,2)")))
        .over(w)
        .cast("double")
        .alias("near_sum"),
    )
    return staged.where(
        F.col("__near") & (F.col("near_count") >= int(min_count))
    ).select(
        entity_col,
        F.col(id_col),
        F.col(ts_col),
        "amount",
        F.col("near_count").cast("long").alias("near_count"),
        "near_sum",
    )


def duplicate_transactions(
    df: DataFrame,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    value_col: str = "value",
    type_col: str | None = None,
    within_days: float = 7.0,
) -> DataFrame:
    """Duplicate-charge / replay screen: the same account transacting
    the exact same amount twice within ``within_days`` — the classic
    double-charge, retried-capture, or replay signature. Each flagged
    row pairs the repeat with the prior occurrence it duplicates and
    the gap between them. Pass ``type_col`` to additionally require the
    same event type.

    One lag over the (entity, amount[, type]) composite key — a finer
    partitioning than any per-entity window, so the hottest account
    cannot concentrate a partition.
    """
    keys = [entity_col, value_col] + ([type_col] if type_col else [])
    w = Window.partitionBy(*keys).orderBy(ts_col, id_col)
    gap_s = F.col(ts_col).cast("double") - F.lag(
        F.col(ts_col).cast("double")
    ).over(w)
    staged = df.select(
        entity_col,
        F.col(id_col),
        F.col(ts_col),
        F.col(value_col).cast("double").alias("amount"),
        F.lag(F.col(id_col)).over(w).alias("prior_id"),
        F.lag(F.col(ts_col)).over(w).alias("prior_ts"),
        gap_s.alias("__gap_s"),
    )
    return staged.where(
        F.col("__gap_s") <= F.lit(float(within_days) * 86400.0)
    ).select(
        entity_col,
        F.col(id_col).alias("dup_id"),
        F.col(ts_col).alias("dup_ts"),
        "amount",
        "prior_id",
        "prior_ts",
        (F.col("__gap_s") / F.lit(3600.0)).alias("gap_hours"),
    )


def burst_screen(
    df: DataFrame,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    window_minutes: float = 60.0,
) -> DataFrame:
    """Per-entity burst profile: the peak number of events any trailing
    ``window_minutes`` window ever held, against the account's average
    hourly rate over its active lifespan. ``burstiness`` (peak ÷ mean
    rate per window) separates "steady heavy user" from "bot-like
    burst then silence" — both look identical to a total-count feature.

    The trailing RANGE count and the entity groupBy hash on the same
    key, so the corpus is exchanged once. Output is |entities| rows;
    entities active for less than one window get NULL rate/burstiness
    rather than an inflated one.
    """
    win_s = float(window_minutes) * 60.0
    epoch = F.col(ts_col).cast("long")
    w = (
        Window.partitionBy(entity_col)
        .orderBy(epoch)
        .rangeBetween(-int(win_s), 0)
    )
    staged = df.select(
        entity_col,
        epoch.alias("__es"),
        F.count(F.lit(1)).over(w).alias("__c"),
    )
    agg = staged.groupBy(entity_col).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.max("__c").alias("peak_in_window"),
        (F.max("__es") - F.min("__es")).alias("__span_s"),
    )
    windows_spanned = F.col("__span_s").cast("double") / F.lit(win_s)
    mean_per_window = F.when(
        windows_spanned >= 1.0, F.col("n_events") / windows_spanned
    )
    return agg.select(
        entity_col,
        F.col("n_events").cast("long").alias("n_events"),
        F.col("peak_in_window").cast("long").alias("peak_in_window"),
        (F.col("__span_s").cast("double") / 86400.0).alias("active_days"),
        mean_per_window.alias("mean_per_window"),
        (F.col("peak_in_window") / mean_per_window).alias("burstiness"),
    )


def bollinger_breakout(
    df: DataFrame,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    value_col: str = "value",
    n: int = 20,
    k: float = 2.0,
    min_periods: int = 10,
) -> DataFrame:
    """Bollinger-band breakout screen: events whose amount falls more
    than ``k`` sample standard deviations outside the mean of the
    account's PRIOR ``n`` amounts (at least ``min_periods`` of history
    required). The strictly-past frame makes it a true online screen —
    the current amount never dilutes the band it is judged against.

    Mean and variance assemble from decimal Σy / Σy² folded over the
    row frame (reduction-order invariant); one entity-key exchange;
    flagged rows only.
    """
    w = (
        Window.partitionBy(entity_col)
        .orderBy(ts_col, id_col)
        .rowsBetween(-int(n), -1)
    )
    y = F.col(value_col).cast("decimal(25,6)")
    staged = df.select(
        entity_col,
        F.col(id_col),
        F.col(ts_col),
        F.col(value_col).cast("double").alias("amount"),
        F.count(F.lit(1)).over(w).alias("n_prior"),
        F.sum(y).over(w).cast("double").alias("__sy"),
        F.sum((y * y).cast("decimal(38,8)")).over(w).cast("double").alias("__syy"),
    )
    np_ = F.col("n_prior").cast("double")
    mean = F.col("__sy") / np_
    var = (F.col("__syy") - F.col("__sy") * F.col("__sy") / np_) / (np_ - 1.0)
    std = F.sqrt(var)
    dev = (F.col("amount") - mean) / std
    return staged.where(
        (F.col("n_prior") >= int(min_periods))
        & (var > 0)
        & (F.abs((F.col("amount") - mean) / F.sqrt(var)) > float(k))
    ).select(
        entity_col,
        F.col(id_col),
        F.col(ts_col),
        "amount",
        F.col("n_prior").cast("long").alias("n_prior"),
        mean.alias("band_mean"),
        std.alias("band_std"),
        dev.alias("deviations"),
    )


def mahalanobis_outliers(
    df: DataFrame,
    x_col: str,
    y_col: str,
    id_cols: list[str] | None = None,
    threshold: float = 9.21034,
    x_scale: str = "decimal(25,2)",
    y_scale: str = "decimal(25,2)",
) -> DataFrame:
    """Bivariate Mahalanobis outlier screen: flags rows whose squared
    Mahalanobis distance from the global (x, y) centroid exceeds
    ``threshold`` (default: chi-square 0.99 quantile at 2 df). Unlike
    two independent z-scores, the covariance term catches points that
    are unremarkable per-axis but inconsistent JOINTLY — the quantity
    priced like a bulk order, billed like a single unit.

    The 2x2 covariance inverse is closed-form, so the whole screen is
    two scans and zero shuffles: one map-side-combined global agg for
    the sufficient statistics (n, Σx, Σy, Σx², Σy², Σxy — decimal sums,
    reduction-order invariant), broadcast as a 1-row dim, then a
    map-only score-and-filter pass. d² = (zx² − 2ρ·zx·zy + zy²)/(1−ρ²)
    with sample (n−1) variance. Output is flagged rows only.

    At 100 TB: both passes are full scans; persist the 1-row stats
    frame when screening repeatedly, or swap in maintained moments
    (``sketches.incremental_moments``) — the scoring pass is unchanged.
    """
    ids = id_cols or []
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    stats = df.agg(
        F.count(F.lit(1)).cast("double").alias("__n"),
        F.sum(F.col(x_col).cast(x_scale)).cast("double").alias("__sx"),
        F.sum(F.col(y_col).cast(y_scale)).cast("double").alias("__sy"),
        F.sum(
            (F.col(x_col).cast(x_scale) * F.col(x_col).cast(x_scale)).cast(
                "decimal(38,4)"
            )
        ).cast("double").alias("__sxx"),
        F.sum(
            (F.col(y_col).cast(y_scale) * F.col(y_col).cast(y_scale)).cast(
                "decimal(38,4)"
            )
        ).cast("double").alias("__syy"),
        F.sum(
            (F.col(x_col).cast(x_scale) * F.col(y_col).cast(y_scale)).cast(
                "decimal(38,4)"
            )
        ).cast("double").alias("__sxy"),
    )
    n = F.col("__n")
    mx = F.col("__sx") / n
    my = F.col("__sy") / n
    vx = (F.col("__sxx") - F.col("__sx") * F.col("__sx") / n) / (n - F.lit(1.0))
    vy = (F.col("__syy") - F.col("__sy") * F.col("__sy") / n) / (n - F.lit(1.0))
    cov = (F.col("__sxy") - F.col("__sx") * F.col("__sy") / n) / (n - F.lit(1.0))
    rho = cov / F.sqrt(vx * vy)
    zx = (x - mx) / F.sqrt(vx)
    zy = (y - my) / F.sqrt(vy)
    d2 = (zx * zx - F.lit(2.0) * rho * zx * zy + zy * zy) / (
        F.lit(1.0) - rho * rho
    )
    return (
        df.crossJoin(F.broadcast(stats))
        .withColumn("md2", d2)
        .where(F.col("md2") > F.lit(threshold))
        .select(*ids, x_col, y_col, "md2")
    )


def _share_lift_screen(
    df: DataFrame,
    entity_col: str,
    flag: F.Column,
    min_n: int,
) -> DataFrame:
    """Shared engine for the share-vs-population screens: per-entity
    share of flagged rows and its lift over the population base rate.

    All inputs to the divisions are exact integer counts (one entity
    aggregate + one broadcast (Σflag, N) scalar), so share/lift are
    bit-identical across engines and partitionings. Output is entities
    with n ≥ min_n; lift is NULL when the population rate is zero.
    """
    per = df.groupBy(entity_col).agg(
        F.count(F.lit(1)).alias("n_txn"),
        F.sum(flag.cast("long")).alias("n_flag"),
    )
    pop = per.agg(
        F.sum("n_txn").alias("pop_n"), F.sum("n_flag").alias("pop_flag")
    )
    share = F.col("n_flag") / F.col("n_txn")
    pop_share = F.col("pop_flag") / F.col("pop_n")
    return (
        per.where(F.col("n_txn") >= min_n)
        .crossJoin(F.broadcast(pop))
        .select(
            entity_col,
            F.col("n_txn").cast("long").alias("n_txn"),
            F.col("n_flag").cast("long").alias("n_flag"),
            share.alias("share"),
            pop_share.alias("pop_share"),
            F.when(F.col("pop_flag") > 0, share / pop_share).alias("lift"),
        )
    )


def round_amount_screen(
    df: DataFrame,
    entity_col: str = "user_id",
    value_col: str = "value",
    min_n: int = 10,
    round_to_cents: int = 1000,
) -> DataFrame:
    """AML round-amount screen: entities whose transaction amounts land
    on round figures (default: whole multiples of $10) far more often
    than the population — the classic human-chosen-amount tell
    (organic prices are long-tailed; launder/structuring amounts are
    round). Amounts are snapped to exact cents (``floor(v·100+0.5)``)
    before the modulo so the flag is integer arithmetic, immune to
    float representation of prices. One entity aggregate + a broadcast
    population scalar; flagged-share lift per entity.
    """
    cents = F.floor(F.col(value_col) * F.lit(100.0) + F.lit(0.5)).cast("long")
    return _share_lift_screen(
        df, entity_col, (cents % F.lit(round_to_cents)) == 0, min_n
    )


def off_hours_screen(
    df: DataFrame,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    hour_from: int = 0,
    hour_to: int = 5,
    min_n: int = 10,
) -> DataFrame:
    """Off-hours activity screen: entities transacting in the dead-hours
    window (default 00:00–05:59) disproportionately vs the population —
    a standard account-takeover / bot tell. Same exact-integer
    share-lift engine as the round-amount screen; hour() is calendar
    arithmetic on identical timestamps, so the flag is deterministic
    cross-engine.
    """
    h = F.hour(ts_col)
    return _share_lift_screen(
        df, entity_col, h.between(hour_from, hour_to), min_n
    )


def peer_group_anomaly(
    df: DataFrame,
    entity_col: str = "user_id",
    value_col: str = "value",
    min_n: int = 1,
) -> DataFrame:
    """Peer-group anomaly: each entity's average transaction value
    z-scored against its ACTIVITY TIER (entities with a similar
    transaction count), not the whole population — a whale with 500
    transactions should be judged against other whales, or every
    high-activity account looks anomalous. Tiers are fixed integer
    count bands (<4, <16, <64, <256, ≥256): exact-arithmetic buckets,
    unlike a log2/ntile bucket whose edge rows flip across engines.

    Two aggregates: per-entity (n, Σcents — exact), then per-tier
    moment sums over the per-entity averages folded as integer
    micro-units (DECIMAL(38,0) — overflow-proof at any corpus size).
    The tier frame broadcasts (≤5 rows); z is a single double
    expression over exact inputs. At 100 TB: one entity shuffle, one
    tiny tier aggregate, map-only join back.
    """
    cents = F.floor(F.col(value_col) * F.lit(100.0) + F.lit(0.5)).cast("long")
    per = df.groupBy(entity_col).agg(
        F.count(F.lit(1)).alias("n_txn"), F.sum(cents).alias("sum_cents")
    )
    tier = (
        F.when(F.col("n_txn") < 4, 0)
        .when(F.col("n_txn") < 16, 1)
        .when(F.col("n_txn") < 64, 2)
        .when(F.col("n_txn") < 256, 3)
        .otherwise(4)
    )
    ua = F.col("sum_cents").cast("double") / F.lit(100.0) / F.col("n_txn")
    per = per.select(
        entity_col, "n_txn", tier.alias("tier"), ua.alias("user_avg")
    ).where(F.col("n_txn") >= min_n)
    micro = lambda c: F.sum(  # noqa: E731 — local fold helper
        F.floor(c * F.lit(1e6) + F.lit(0.5)).cast("decimal(38,0)")
    )
    seg = per.groupBy("tier").agg(
        micro(F.col("user_avg")).alias("s1"),
        micro(F.col("user_avg") * F.col("user_avg")).alias("s2"),
        F.count(F.lit(1)).alias("m"),
    )
    mean = F.col("s1").cast("double") / F.lit(1e6) / F.col("m")
    var = F.col("s2").cast("double") / F.lit(1e6) / F.col("m") - mean * mean
    std = F.sqrt(F.greatest(var, F.lit(0.0)))
    return (
        per.join(F.broadcast(seg), "tier")
        .select(
            entity_col,
            F.col("n_txn").cast("long").alias("n_txn"),
            F.col("tier").cast("int").alias("tier"),
            F.col("user_avg").alias("user_avg"),
            mean.alias("peer_mean"),
            std.alias("peer_std"),
            F.when(std > 0, (F.col("user_avg") - mean) / std).alias("z"),
        )
    )


def rule_census(
    df: DataFrame,
    rules: list[tuple[str, "F.Column"]],
) -> DataFrame:
    """Rule-portfolio census: per-pair hit counts, overlap Jaccard, and
    Cohen's kappa for a set of boolean screening rules — the table a
    fraud-ops team reads before pruning its rule engine (two rules with
    kappa ≈ 1 are one rule paying double review cost; a rule with near-
    zero hits is dead weight).

    ONE corpus aggregate: every rule evaluates to an int flag in a
    single projection; the census needs only Σflagᵢ, Σflagᵢ·flagⱼ and n
    (k + C(k,2) + 1 sums, all map-side combined — cost independent of
    corpus size for any sane rule count). All statistics derive from
    those exact integer counts driver-free:

        jaccard = n₁₁ / (nᵢ + nⱼ − n₁₁)
        κ = (p_o − p_e) / (1 − p_e),  p_o = (n₁₁ + n₀₀)/n,
        p_e = (nᵢ·nⱼ + (n−nᵢ)·(n−nⱼ))/n²

    Returns one row per unordered rule pair (rule_a < rule_b by list
    order): (rule_a, rule_b, n, n_a, n_b, n_both, jaccard, kappa).
    Degenerate pairs (p_e = 1: both rules constant) yield NULL kappa;
    empty unions yield NULL jaccard.
    """
    names = [n for n, _ in rules]
    flags = df.select(
        *[expr.cast("int").alias(f"__r_{n}") for n, expr in rules]
    )
    aggs = [F.count(F.lit(1)).alias("__n")]
    for n in names:
        aggs.append(F.sum(f"__r_{n}").alias(f"__h_{n}"))
    for i, a in enumerate(names):
        for b in names[i + 1:]:
            aggs.append(
                F.sum(F.col(f"__r_{a}") * F.col(f"__r_{b}")).alias(
                    f"__b_{a}_{b}"
                )
            )
    row = flags.agg(*aggs)
    pairs = []
    for i, a in enumerate(names):
        for b in names[i + 1:]:
            pairs.append(
                F.struct(
                    F.lit(a).alias("rule_a"),
                    F.lit(b).alias("rule_b"),
                    F.col(f"__h_{a}").alias("n_a"),
                    F.col(f"__h_{b}").alias("n_b"),
                    F.col(f"__b_{a}_{b}").alias("n_both"),
                )
            )
    long = row.select(
        "__n", F.explode(F.array(*pairs)).alias("p")
    ).select(
        F.col("p.rule_a").alias("rule_a"),
        F.col("p.rule_b").alias("rule_b"),
        F.col("__n").cast("long").alias("n"),
        F.col("p.n_a").cast("long").alias("n_a"),
        F.col("p.n_b").cast("long").alias("n_b"),
        F.col("p.n_both").cast("long").alias("n_both"),
    )
    n = F.col("n").cast("double")
    na, nb, n11 = (F.col(c).cast("double") for c in ("n_a", "n_b", "n_both"))
    union = na + nb - n11
    n00 = n - union
    po = (n11 + n00) / n
    pe = (na * nb + (n - na) * (n - nb)) / (n * n)
    return long.select(
        "rule_a",
        "rule_b",
        "n",
        "n_a",
        "n_b",
        "n_both",
        F.when(union > 0, n11 / union).alias("jaccard"),
        F.when(pe < 1.0, (po - pe) / (F.lit(1.0) - pe)).alias("kappa"),
    )


def hbos_scores(
    df: DataFrame,
    value_col: str = "value",
    ts_col: str = "ts",
    id_col: str = "event_id",
    n_bins: int = 20,
    top_n: int = 20,
) -> DataFrame:
    """HBOS — Histogram-Based Outlier Score (Goldstein & Dengel 2012):
    the linear-time unsupervised anomaly score that assumes feature
    independence, score(x) = Σ_f −ln p_f(bin_f(x)). Features here:
    equal-width ``n_bins`` histogram of ``value_col`` plus the discrete
    hour-of-day and day-of-week histograms of ``ts_col`` — the shape a
    transaction screen wants (rare amount in a rare time slot).

    Determinism: bin edges derive from the corpus min/max (one 1-row
    broadcast agg); bin = least(floor((x−min)/w), n_bins−1) is pure IEEE
    arithmetic, identical cross-engine. Each histogram's −ln(p) lands on
    the 1e-9 micro-grid in the |bins|-row frame BEFORE broadcasting
    back, so the final 3-addend sum is the same fixed-arity expression
    on both engines — no order-sensitive fold anywhere. Top-``top_n``
    ties break on ``id_col``.

    Scale shape: three map-side-combined histogram aggs (1-row, 24-row,
    7-row, ≤n_bins-row frames, all broadcast), one scan to score, and a
    TakeOrderedAndProject for the top-k. Linear, one pass over the
    corpus after the stats pass.
    """
    mm = df.agg(
        F.min(value_col).alias("__mn"), F.max(value_col).alias("__mx"),
        F.count(F.lit(1)).alias("__n"),
    )
    w = (F.col("__mx") - F.col("__mn")) / F.lit(float(n_bins))
    binned = df.crossJoin(F.broadcast(mm)).select(
        id_col,
        F.least(
            F.floor((F.col(value_col) - F.col("__mn")) / w).cast("long"),
            F.lit(n_bins - 1),
        ).alias("__vb"),
        F.hour(ts_col).cast("long").alias("__hb"),
        F.dayofweek(ts_col).cast("long").alias("__db"),
        F.col("__n"),
    )
    # three histograms and the scoring join share one scan + stats crossJoin
    binned = reuse(binned)

    def _hist(frame: DataFrame, col: str) -> DataFrame:
        # -ln(count/n) per bin, micro-rounded on the tiny bins frame
        return frame.groupBy(col).agg(
            (
                F.floor(
                    -F.log(F.count(F.lit(1)) / F.first("__n"))
                    * F.lit(1e9)
                    + F.lit(0.5)
                )
                / F.lit(1e9)
            ).alias(f"{col}_nll")
        )

    vb = _hist(binned, "__vb")
    hb = _hist(binned, "__hb")
    db = _hist(binned, "__db")
    scored = (
        binned.join(F.broadcast(vb), "__vb")
        .join(F.broadcast(hb), "__hb")
        .join(F.broadcast(db), "__db")
        .select(
            id_col,
            F.col("__vb").alias("value_bin"),
            F.col("__hb").alias("hour_bin"),
            F.col("__db").alias("dow_bin"),
            (
                F.col("__vb_nll") + F.col("__hb_nll") + F.col("__db_nll")
            ).alias("hbos_score"),
        )
    )
    return scored.orderBy(F.col("hbos_score").desc(), F.col(id_col)).limit(top_n)


def rapid_movement(
    df: DataFrame,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    id_col: str = "event_id",
    in_type: str = "purchase",
    out_type: str = "error",
    type_col: str = "event_type",
    max_gap_s: float = 3600.0,
    tol: float = 0.01,
) -> DataFrame:
    """Pass-through (rapid in-out) screen: per entity, count inbound
    events followed within ``max_gap_s`` seconds by an outbound event of
    nearly the same value (|Δ| ≤ tol·in_value) — the classic layering
    pattern where funds touch an account only to leave it, which
    per-event rules and daily rollups both miss.

    Scale shape: the in- and out-legs are filtered projections; the
    candidate join keys on (entity, time-bucket) with the in-leg
    exploded to its own and the NEXT ``max_gap_s`` bucket — the
    standard interval-join bucketing that bounds candidates to two
    buckets per event instead of a per-entity cross join. Value
    matching compares integer cents (exact). Output per entity:
    (n_pass_through, total_in_value, min_gap_s) for entities with at
    least one hit, ordered by count desc.
    """
    ebkt = (F.unix_micros(F.col(ts_col).cast("timestamp")) / F.lit(1e6))
    gap = float(max_gap_s)
    ins = (
        df.where(F.col(type_col) == in_type)
        .select(
            F.col(entity_col).alias("__e"),
            F.col(id_col).alias("__in_id"),
            ebkt.alias("__in_t"),
            F.floor(F.col(value_col) * 100).cast("long").alias("__in_c"),
        )
        .withColumn(
            "__bkt",
            F.explode(
                F.array(
                    F.floor(F.col("__in_t") / F.lit(gap)).cast("long"),
                    F.floor(F.col("__in_t") / F.lit(gap)).cast("long")
                    + F.lit(1),
                )
            ),
        )
    )
    outs = df.where(F.col(type_col) == out_type).select(
        F.col(entity_col).alias("__e"),
        ebkt.alias("__out_t"),
        F.floor(F.col(value_col) * 100).cast("long").alias("__out_c"),
        F.floor(ebkt / F.lit(gap)).cast("long").alias("__bkt"),
    )
    tol_c = F.floor(
        F.col("__in_c").cast("double") * F.lit(float(tol)) + F.lit(0.5)
    ).cast("long")
    pairs = ins.join(outs, ["__e", "__bkt"]).where(
        (F.col("__out_t") > F.col("__in_t"))
        & (F.col("__out_t") <= F.col("__in_t") + F.lit(gap))
        & (F.abs(F.col("__out_c") - F.col("__in_c")) <= tol_c)
    )
    # one hit per inbound event (the earliest matching outbound), so a
    # burst of outbound legs cannot multiply-count one inbound
    per_in = pairs.groupBy("__e", "__in_id", "__in_c").agg(
        F.min(F.col("__out_t") - F.col("__in_t")).alias("__gap_s")
    )
    return (
        per_in.groupBy(F.col("__e").alias(entity_col))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pass_through"),
            (F.sum("__in_c").cast("double") / F.lit(100.0)).alias(
                "total_in_value"
            ),
            (
                F.floor(F.min("__gap_s") * F.lit(1e6) + F.lit(0.5))
                / F.lit(1e6)
            ).alias("min_gap_s"),
        )
        .orderBy(F.col("n_pass_through").desc(), F.col(entity_col))
    )
