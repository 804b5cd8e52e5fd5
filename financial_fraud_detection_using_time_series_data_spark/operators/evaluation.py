"""Evaluation engine (SURVEY §2.10): thresholded confusion metrics, cost
model, PR-curve threshold search, threshold sweep — all as distributed
aggregations (the reference uses sklearn over in-RAM arrays,
``src/evaluation/metrics.py``).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.exprs import r6
from ..functions.lineage import reuse
from ..functions.local import local_frame
from .chunked import chunk_offsets as _chunk_offsets
from .chunked import range_chunk as _range_chunk

COST_FN = 1000.0  # missed fraud  (config/config.yaml:91-93)
COST_FP = 10.0    # false alarm


def confusion_counts(df: DataFrame, label: str, score: str, threshold: float) -> DataFrame:
    """A10/E2 (metrics.py:61-87): binarize at t, four conditional sums in one
    agg (no pivot shuffle)."""
    y = F.col(label)
    p = (F.col(score) >= F.lit(threshold)).cast("int")
    return df.agg(
        F.sum(((y == 1) & (p == 1)).cast("long")).alias("tp"),
        F.sum(((y == 0) & (p == 1)).cast("long")).alias("fp"),
        F.sum(((y == 0) & (p == 0)).cast("long")).alias("tn"),
        F.sum(((y == 1) & (p == 0)).cast("long")).alias("fn"),
    )


def classification_metrics(df: DataFrame, label: str, score: str, threshold: float) -> DataFrame:
    """E2+E3: precision/recall/F1/accuracy/specificity/FPR + cost model."""
    c = confusion_counts(df, label, score, threshold)
    tp, fp, tn, fn = F.col("tp"), F.col("fp"), F.col("tn"), F.col("fn")
    prec = tp / F.nullif(tp + fp, F.lit(0))
    rec = tp / F.nullif(tp + fn, F.lit(0))
    return c.select(
        "*",
        r6(prec).alias("precision"),
        r6(rec).alias("recall"),
        r6(2 * prec * rec / F.nullif(prec + rec, F.lit(0.0))).alias("f1"),
        r6((tp + tn) / (tp + fp + tn + fn)).alias("accuracy"),
        r6(tn / F.nullif(tn + fp, F.lit(0))).alias("specificity"),
        (fn * F.lit(COST_FN) + fp * F.lit(COST_FP)).alias("cost"),
    )


def _pr_points(df: DataFrame, label: str, score: str, id_col: str, n_chunks: int = 32) -> DataFrame:
    """Shared cumsum core of pr_curve / average_precision:
    (threshold, tp, pred_pos, total_pos, d_tp) at every distinct score.

    Scale shape (no global-order window anywhere): (1) collapse to one row
    per DISTINCT score with (count, positives) — one hash shuffle; (2)
    percentile-chunk the score axis (`_range_chunk`) so the descending
    prefix sums run as |chunks| PARALLEL per-chunk windows; (3) roll the
    per-chunk totals into exclusive offsets with a triangular broadcast
    join over ≤ n_chunks rows; (4) cum = offset + within-chunk. Integer
    sums, so the split is bit-identical to a single sorted scan. Continuous
    scores (|distinct| ≈ |rows|) no longer funnel into one task — this is
    the fix for the round-2 `WindowExec: No Partition Defined` hazard."""
    per_score = df.groupBy(F.col(score).alias("threshold")).agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(F.col(label).cast("long")).alias("__npos"),
    )
    chunked = _range_chunk(per_score, "threshold", n_chunks, descending=True)
    w_in = (
        Window.partitionBy("__chunk")
        .orderBy(F.col("threshold").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    within = chunked.select(
        "threshold",
        "__chunk",
        F.col("__npos").alias("__d_tp"),
        F.sum("__npos").over(w_in).alias("__tp_in"),
        F.sum("__n").over(w_in).alias("__pp_in"),
    )
    # chunk totals = max of the monotone within-chunk cumsums, taken FROM
    # the windowed frame — the groupBy key matches the window partitioning,
    # so this rides the same exchange instead of re-scanning per_score
    totals = within.groupBy("__chunk").agg(
        F.max("__tp_in").alias("__tp"), F.max("__pp_in").alias("__pp")
    )
    offsets = _chunk_offsets(totals, ["__tp", "__pp"])
    # total positives from the tiny chunk-totals table — no extra full scan
    tot = totals.agg(F.sum("__tp").alias("total_pos"))
    return (
        within.join(F.broadcast(offsets), "__chunk")
        .crossJoin(F.broadcast(tot))
        .select(
            "threshold",
            (F.col("__tp_off") + F.col("__tp_in")).alias("tp"),
            (F.col("__pp_off") + F.col("__pp_in")).alias("pred_pos"),
            "total_pos",
            F.col("__d_tp").alias("d_tp"),
        )
    )


def pr_curve(df: DataFrame, label: str, score: str, id_col: str) -> DataFrame:
    """E4 (metrics.py:121-200): the PR curve as a sorted scan + cumulative
    sums — the flagship analytic.

    Sort desc by score (range-partitioned), cumulative TP = sum(label),
    cumulative predicted-positive = row_number; precision/recall at every
    distinct score threshold. Window state is O(1); the only shuffle is the
    range partitioning of the sort.
    """
    per_t = _pr_points(df, label, score, id_col)
    return per_t.select(
        "threshold",
        "tp",
        "pred_pos",
        r6(F.col("tp") / F.col("pred_pos")).alias("precision"),
        r6(F.col("tp") / F.col("total_pos")).alias("recall"),
        r6(
            2 * (F.col("tp") / F.col("pred_pos")) * (F.col("tp") / F.col("total_pos"))
            / F.nullif(F.col("tp") / F.col("pred_pos") + F.col("tp") / F.col("total_pos"), F.lit(0.0))
        ).alias("f1"),
    )


def best_threshold_by_f1(df: DataFrame, label: str, score: str, id_col: str) -> DataFrame:
    """E4: argmax-F1 threshold — top-1 of the PR curve."""
    curve = pr_curve(df, label, score, id_col)
    return curve.orderBy(F.col("f1").desc(), F.col("threshold").desc()).limit(1)


def best_threshold_by_cost(
    df: DataFrame,
    label: str,
    score: str,
    id_col: str,
    cost_fn: float = COST_FN,
    cost_fp: float = COST_FP,
) -> DataFrame:
    """E4 cost mode (metrics.py:156-175, ``metric='cost'``): argmin of
    fn·cost_fraud_missed + fp·cost_false_alarm over every distinct-score
    threshold.

    The reference re-runs a full confusion matrix per threshold (O(n·t));
    here fn = total_pos − tp and fp = pred_pos − tp fall straight out of
    the shared cumulative PR points, so the whole sweep is the one
    `_pr_points` pass + a top-1. Ties break to the LOWEST threshold
    (np.argmin returns the first index of an ascending threshold array).
    Returns one row: (threshold, cost, precision, recall)."""
    pts = _pr_points(df, label, score, id_col)
    tp, pp, tot = F.col("tp"), F.col("pred_pos"), F.col("total_pos")
    scored = pts.select(
        "threshold",
        ((tot - tp) * F.lit(cost_fn) + (pp - tp) * F.lit(cost_fp)).alias("cost"),
        r6(tp / pp).alias("precision"),
        r6(tp / tot).alias("recall"),
    )
    return scored.orderBy(F.col("cost").asc(), F.col("threshold").asc()).limit(1)


def best_threshold_by_recall(
    df: DataFrame,
    label: str,
    score: str,
    id_col: str,
    target_recall: float = 0.90,
    fallback_threshold: float = 0.1,
) -> DataFrame:
    """E4 recall mode (metrics.py:177-195, ``metric='recall'``): among
    thresholds achieving recall ≥ target, maximize precision (ties →
    lowest threshold, matching np.argmax's first-index rule on the
    ascending threshold array). If NO threshold reaches the target the
    reference hard-falls-back to threshold 0.1 with the metrics of its
    lowest-threshold PR point; the conditional sort below reproduces
    that without a driver-side emptiness check, so the plan stays one
    `_pr_points` pass + a top-1. Returns (threshold, precision, recall)."""
    pts = _pr_points(df, label, score, id_col)
    tp, pp, tot = F.col("tp"), F.col("pred_pos"), F.col("total_pos")
    curve = pts.select(
        "threshold",
        r6(tp / pp).alias("precision"),
        r6(tp / tot).alias("recall"),
    )
    eligible = F.col("recall") >= F.lit(target_recall)
    top = curve.orderBy(
        eligible.desc(),
        # among eligible rows: precision desc; among a fully ineligible
        # curve this key is constant and the next key picks min threshold
        F.when(eligible, -F.col("precision")).otherwise(F.lit(0.0)).asc(),
        F.col("threshold").asc(),
    ).limit(1)
    return top.select(
        F.when(eligible, F.col("threshold"))
        .otherwise(F.lit(fallback_threshold))
        .alias("threshold"),
        "precision",
        "recall",
    )


def threshold_sweep(
    df: DataFrame, label: str, score: str, thresholds: list[float] | None = None
) -> DataFrame:
    """E5 (metrics.py:240-273): metrics at t in {0.1..0.9} as ONE wide
    aggregation pass (4 conditional sums per threshold) then an unpivot of
    the 1-row result — scans the scored table once with no row
    multiplication (the crossJoin formulation shuffles |rows|×|thresholds|)."""
    thresholds = thresholds or [round(0.1 * i, 1) for i in range(1, 10)]
    y = F.col(label)
    aggs = []
    for i, t in enumerate(thresholds):
        p = (F.col(score) >= F.lit(t)).cast("int")
        aggs += [
            F.sum(((y == 1) & (p == 1)).cast("long")).alias(f"tp_{i}"),
            F.sum(((y == 0) & (p == 1)).cast("long")).alias(f"fp_{i}"),
            F.sum(((y == 0) & (p == 0)).cast("long")).alias(f"tn_{i}"),
            F.sum(((y == 1) & (p == 0)).cast("long")).alias(f"fn_{i}"),
        ]
    wide = df.agg(*aggs)
    stack = ", ".join(
        f"{t}D, tp_{i}, fp_{i}, tn_{i}, fn_{i}" for i, t in enumerate(thresholds)
    )
    agg = wide.selectExpr(
        f"stack({len(thresholds)}, {stack}) as (threshold, tp, fp, tn, fn)"
    ).filter(
        # empty input: df.agg() yields one all-NULL row -> would unpivot
        # into |thresholds| phantom rows; the old crossJoin form returned 0
        F.col("tp").isNotNull()
    )
    tp, fp, tn, fn = F.col("tp"), F.col("fp"), F.col("tn"), F.col("fn")
    prec = tp / F.nullif(tp + fp, F.lit(0))
    rec = tp / F.nullif(tp + fn, F.lit(0))
    return agg.select(
        "threshold", "tp", "fp", "tn", "fn",
        r6(prec).alias("precision"),
        r6(rec).alias("recall"),
        r6(2 * prec * rec / F.nullif(prec + rec, F.lit(0.0))).alias("f1"),
        (fn * F.lit(COST_FN) + fp * F.lit(COST_FP)).alias("cost"),
    )


def roc_auc(df: DataFrame, label: str, score: str) -> DataFrame:
    """E1 (metrics.py:47-58): exact ROC-AUC via the Mann-Whitney rank-sum
    identity, AUC = (sum of positives' average ranks - P(P+1)/2) / (P*N),
    with tied scores getting the average rank (sklearn semantics).

    Scale shape: aggregate per DISTINCT score first (one hash-agg
    shuffle), then compute the cumulative count with the same chunked
    two-phase prefix sum as `_pr_points` — per-chunk parallel windows +
    triangular offset join — because continuous scores mean |distinct| ≈
    |rows| and a global-order window over them would still be a single
    task. Returns one row: (roc_auc).
    """
    per_score = df.groupBy(F.col(score).alias("s")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col(label).cast("long")).alias("npos"),
    )
    chunked = _range_chunk(per_score, "s", 32, descending=False)
    w_in = (
        Window.partitionBy("__chunk")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    within = chunked.select(
        "n", "npos", "__chunk", F.sum("n").over(w_in).alias("__cn_in")
    )
    # same exchange-sharing trick as _pr_points: max of the monotone
    # within-chunk cumulative count IS the chunk total
    totals = within.groupBy("__chunk").agg(F.max("__cn_in").alias("__cn"))
    offsets = _chunk_offsets(totals, ["__cn"])
    ranked = within.join(F.broadcast(offsets), "__chunk").select(
        F.col("n").cast("double").alias("n"),
        F.col("npos").cast("double").alias("npos"),
        # ranks occupied by this score group: (cum_n - n + 1) .. cum_n;
        # average rank = cum_n - (n - 1)/2
        (
            (F.col("__cn_off") + F.col("__cn_in")).cast("double")
            - (F.col("n").cast("double") - 1) / 2
        ).alias("avgrank"),
    )
    agg = ranked.agg(
        F.sum(F.col("npos") * F.col("avgrank")).alias("pos_rank_sum"),
        F.sum("npos").alias("p"),
        F.sum(F.col("n") - F.col("npos")).alias("nn"),
    )
    p, nn = F.col("p"), F.col("nn")
    return agg.select(
        r6(
            (F.col("pos_rank_sum") - p * (p + 1) / 2)
            / F.nullif(p * nn, F.lit(0.0))
        ).alias("roc_auc")
    )


def average_precision(df: DataFrame, label: str, score: str, id_col: str) -> DataFrame:
    """E1: PR-AUC as average precision, AP = sum_i (R_i - R_{i-1}) * P_i
    over distinct thresholds in descending-score order (sklearn's
    step-function definition, not a trapezoid). Built on the pr_curve
    chunked-cumsum plan; the recall STEP at each threshold is just that
    threshold's positive count (R_i - R_{i-1} = d_tp_i / total_pos), so no
    lag window — not even a partitioned one — is needed. Returns one row:
    (pr_auc)."""
    curve = _pr_points(df, label, score, id_col)
    prec = F.col("tp") / F.col("pred_pos")
    stepped = curve.select(
        (F.col("d_tp") / F.col("total_pos") * prec).alias("ap_term")
    )
    return stepped.agg(r6(F.sum("ap_term")).alias("pr_auc"))


def lift_table(
    df: DataFrame, label: str, score: str, id_col: str, n_buckets: int = 10
) -> DataFrame:
    """Decile lift/gain analysis — the standard fraud-model triage view:
    rank by score desc, split into n equal-frequency buckets (exact ntile
    semantics), report per-bucket positive rate, lift vs base rate, and
    cumulative capture/lift.

    Scale shape: the ranking is `ntile_buckets` (chunked global rank —
    no partitionless window over the corpus); everything after is an
    n_buckets-row aggregate, so the only full-data costs are the rank's
    bounded stages + one hash agg. The tiny per-bucket frame then takes
    a driver-safe cumulative window."""
    from . import relational

    neg = df.withColumn("__neg", -F.col(score))
    b = relational.ntile_buckets(neg, "__neg", n_buckets, tiebreak=id_col)
    per = b.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col(label).cast("long")).alias("npos"),
    )
    tot = per.agg(
        F.sum("n").alias("__tn"), F.sum("npos").alias("__tp")
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum_pos = F.sum("npos").over(w)
    cum_n = F.sum("n").over(w)
    base_rate = F.col("__tp") / F.col("__tn")
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            F.col("bucket").cast("int").alias("bucket"),
            "n",
            "npos",
            r6(F.col("npos") / F.col("n")).alias("pos_rate"),
            r6((F.col("npos") / F.col("n")) / base_rate).alias("lift"),
            r6(cum_pos / F.col("__tp")).alias("cum_capture"),
            r6((cum_pos / cum_n) / base_rate).alias("cum_lift"),
        )
        .orderBy("bucket")
    )


def ndcg_eval(
    df: DataFrame,
    group_col: str,
    score_col: str,
    label_col: str,
    id_col: str,
    k: int = 10,
) -> DataFrame:
    """nDCG@k per group for a binary-relevance ranking: how well does
    the score order the positives to the top? DCG terms are converted
    to integer micro-units (``floor(1e6/log2(rank+1) + 0.5)``) before
    summation so both the Spark and oracle sides fold EXACT integers —
    a float DCG sum is reduction-order sensitive in its last bits.
    IDCG folds the same micro-terms over ranks 1..min(k, n_pos); groups
    with no positives return NULL nDCG rather than 0/0.

    Ranking uses the salted two-phase ``topk_per_group`` (a plain
    per-group rank window would funnel the corpus into |groups| tasks);
    the positive count is one map-side-combined agg; the DCG/IDCG
    arithmetic runs on |groups|·k rows.
    """
    from .relational import topk_per_group

    top = topk_per_group(
        df.select(group_col, score_col, label_col, id_col),
        group_col, score_col, k, id_col,
    )
    micro = F.floor(
        F.lit(1e6) / F.log2(F.col("rank").cast("double") + F.lit(1.0))
        + F.lit(0.5)
    ).cast("long")
    dcg = top.groupBy(group_col).agg(
        F.sum(
            F.when(F.col(label_col) == 1, micro).otherwise(F.lit(0))
        ).alias("dcg_micro")
    )
    pos = df.groupBy(group_col).agg(
        F.sum(F.when(F.col(label_col) == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_pos")
    )
    j = pos.join(dcg, group_col, "left")
    m = F.least(F.lit(int(k)).cast("long"), F.col("n_pos"))
    idcg = F.aggregate(
        F.sequence(F.lit(1).cast("long"), m),
        F.lit(0).cast("long"),
        lambda acc, i: acc
        + F.floor(
            F.lit(1e6) / F.log2(i.cast("double") + F.lit(1.0)) + F.lit(0.5)
        ).cast("long"),
    )
    return j.select(
        group_col,
        "n_pos",
        (F.coalesce(F.col("dcg_micro"), F.lit(0)) / F.lit(1e6)).alias("dcg"),
        F.when(F.col("n_pos") > 0, idcg / F.lit(1e6)).alias("idcg"),
        F.when(
            F.col("n_pos") > 0,
            F.coalesce(F.col("dcg_micro"), F.lit(0)) / idcg.cast("double"),
        ).alias("ndcg"),
    )


def mutual_information(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str,
) -> DataFrame:
    """Mutual information (nats) between each LOW-CARDINALITY feature
    column and the label — the model-free feature-relevance ranking
    that, unlike Pearson correlation, sees non-monotone structure.
    One (feature, label) cell count per feature (map-side combined);
    the MI sum folds integer micro-nats (``floor(term·1e12 + 0.5)``)
    over the ≤|bins|·|labels| cells, so the cross-engine result is
    exact — a float Σ p·ln(...) differs in its last bits with
    aggregation order. Continuous features must be binned first (F7);
    at 100 TB each feature costs one cheap agg over the corpus.
    """
    spark = df.sparkSession
    out = None
    for fc in feature_cols:
        # |bins|·|labels| cells feed both marginals, the total and the MI join
        cells = df.groupBy(
            F.col(fc).alias("__x"), F.col(label_col).alias("__y")
        ).agg(F.count(F.lit(1)).alias("__nxy")).transform(reuse)
        xm = cells.groupBy("__x").agg(F.sum("__nxy").alias("__nx"))
        ym = cells.groupBy("__y").agg(F.sum("__nxy").alias("__ny"))
        tot = cells.agg(F.sum("__nxy").alias("__n"))
        j = (
            cells.join(F.broadcast(xm), "__x")
            .join(F.broadcast(ym), "__y")
            .crossJoin(F.broadcast(tot))
        )
        pxy = F.col("__nxy") / F.col("__n")
        term = pxy * F.log(
            pxy / ((F.col("__nx") / F.col("__n")) * (F.col("__ny") / F.col("__n")))
        )
        mi_row = j.agg(
            F.sum(F.floor(term * 1e12 + F.lit(0.5)).cast("long")).alias("__mi_micro"),
            F.first("__n").alias("__n"),
            F.count(F.lit(1)).alias("n_cells"),
        ).select(
            F.lit(fc).alias("feature"),
            (F.col("__mi_micro") / F.lit(1e12)).alias("mi_nats"),
            F.col("__n").cast("long").alias("n_rows"),
            F.col("n_cells").cast("long").alias("n_cells"),
        )
        out = mi_row if out is None else out.unionByName(mi_row)
    return out


def ab_test(
    df: DataFrame,
    arm_col: str,
    success_col: str,
) -> DataFrame:
    """Two-proportion z-test between arms 0 and 1 of ``arm_col``
    (0/1 int) on the 0/1 ``success_col`` — the experiment read-out
    behind every launch decision. One conditional-count aggregate; the
    z assembles from four integer counts in a single closed-form
    expression, so there is nothing order-sensitive to drift across
    engines. Returns one row: per-arm n/successes/rate, the absolute
    lift, and the pooled z statistic (NULL when either arm is empty or
    the pooled variance is zero).
    """
    a = df.agg(
        F.sum(F.when(F.col(arm_col) == 0, 1).otherwise(0)).alias("n_a"),
        F.sum(
            F.when((F.col(arm_col) == 0) & (F.col(success_col) == 1), 1).otherwise(0)
        ).alias("s_a"),
        F.sum(F.when(F.col(arm_col) == 1, 1).otherwise(0)).alias("n_b"),
        F.sum(
            F.when((F.col(arm_col) == 1) & (F.col(success_col) == 1), 1).otherwise(0)
        ).alias("s_b"),
    )
    na, sa = F.col("n_a").cast("double"), F.col("s_a").cast("double")
    nb, sb = F.col("n_b").cast("double"), F.col("s_b").cast("double")
    pa, pb = sa / na, sb / nb
    pool = (sa + sb) / (na + nb)
    se = F.sqrt(pool * (1.0 - pool) * (1.0 / na + 1.0 / nb))
    return a.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("s_a").cast("long").alias("s_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.col("s_b").cast("long").alias("s_b"),
        F.when(na > 0, pa).alias("rate_a"),
        F.when(nb > 0, pb).alias("rate_b"),
        F.when((na > 0) & (nb > 0), pb - pa).alias("lift"),
        F.when((na > 0) & (nb > 0) & (se > 0), (pb - pa) / se).alias("z"),
    )


def conformal_intervals(
    cal: DataFrame,
    test: DataFrame,
    value_col: str,
    group_col: str,
    alpha: float = 0.1,
    n_chunks: int = 32,
) -> DataFrame:
    """Split-conformal prediction intervals per group with finite-sample
    coverage ≥ 1−α (Vovk; Lei et al.): the distribution-free uncertainty
    wrapper every scored pipeline should report next to its point
    predictions. Point predictor here is the per-group CALIBRATION
    median; nonconformity is the absolute residual; the conformal
    quantile q̂ is the k-th smallest calibration residual with
    k = ⌈(n_cal+1)(1−α)⌉ — an exact ORDER STATISTIC, not an
    interpolated quantile, per the conformal guarantee.

    Exactness: q̂ = min{r : #(residuals ≤ r) ≥ k} resolves from integer
    cumulative counts over distinct residuals — no float folds anywhere;
    k's one float product is the same IEEE expression on both engines
    (and any k ≥ ⌈·⌉ stays conservatively valid). Coverage divides two
    exact counts and lands on the 1e-6 grid.

    Scale shape: the per-group cumulative runs on chunked primitives —
    residual-distinct rows get a GLOBAL range chunk id, the running sum
    windows over (group, chunk) partitions, and the exclusive offsets
    window over the |groups|·n_chunks-row totals frame (bounded, NOT the
    partitionless trap). Centers/q̂/k ride |groups|-row broadcasts.
    Returns one row per group: n_cal, center, q_hat, lo, hi, n_test,
    coverage.
    """
    # centers, the distinct residuals and params each feed several
    # consumers; each break keeps the corpus groupBy single
    centers = cal.groupBy(group_col).agg(
        F.median(value_col).alias("__center"),
        F.count(F.lit(1)).alias("n_cal"),
    ).transform(reuse)
    r_cal = cal.join(F.broadcast(centers), group_col).select(
        group_col, F.abs(F.col(value_col) - F.col("__center")).alias("__r")
    )
    g = r_cal.groupBy(group_col, "__r").agg(
        F.count(F.lit(1)).alias("__cnt")
    ).transform(reuse)
    ch = _range_chunk(g, "__r", n_chunks)
    w_in = (
        Window.partitionBy(group_col, "__chunk")
        .orderBy("__r")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    within = ch.withColumn("__c_in", F.sum("__cnt").over(w_in))
    totals = within.groupBy(group_col, "__chunk").agg(
        F.max("__c_in").alias("__ct")
    )
    w_off = (
        Window.partitionBy(group_col)
        .orderBy("__chunk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.withColumn(
        "__off", F.coalesce(F.sum("__ct").over(w_off), F.lit(0).cast("long"))
    ).select(group_col, "__chunk", "__off")
    ks = centers.select(
        group_col,
        F.least(
            F.ceil((F.col("n_cal") + F.lit(1)) * F.lit(1.0 - alpha)).cast("long"),
            F.col("n_cal").cast("long"),
        ).alias("__k"),
    )
    qhat = (
        within.join(F.broadcast(offsets), [group_col, "__chunk"])
        .join(F.broadcast(ks), group_col)
        .where(F.col("__off") + F.col("__c_in") >= F.col("__k"))
        .groupBy(group_col)
        .agg(F.min("__r").alias("q_hat"))
    )
    params = centers.join(qhat, group_col).transform(reuse)
    covered = (
        test.join(
            F.broadcast(params.select(group_col, "__center", "q_hat")), group_col
        )
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_test"),
            F.sum(
                F.when(
                    F.abs(F.col(value_col) - F.col("__center"))
                    <= F.col("q_hat"),
                    1,
                ).otherwise(0)
            ).alias("__cov"),
        )
    )
    return params.join(covered, group_col).select(
        group_col,
        F.col("n_cal").cast("long").alias("n_cal"),
        F.col("__center").alias("center"),
        "q_hat",
        (F.col("__center") - F.col("q_hat")).alias("lo"),
        (F.col("__center") + F.col("q_hat")).alias("hi"),
        F.col("n_test").cast("long").alias("n_test"),
        (
            F.floor(
                F.col("__cov") / F.col("n_test") * F.lit(1e6) + F.lit(0.5)
            )
            / F.lit(1e6)
        ).alias("coverage"),
    )


def anova_f(
    df: DataFrame,
    value_col: str,
    group_col: str,
    value_scale: str = "decimal(25,6)",
) -> DataFrame:
    """One-way ANOVA F-statistic of ``value_col`` across ``group_col``
    groups — the numeric-feature relevance screen next to
    `mutual_information` (categorical) and `corr_vector` (monotone):
    does the group label explain any of the numeric variance?

    ONE map-side-combined aggregation computes per-group sufficient
    statistics (n, Σv, Σv² as exact decimals — reduction-order
    invariant); the F assembly then runs on the |groups|-row frame:
    SSB = Σ n_g·(x̄_g − x̄)², SSW = Σ (Σv²_g − (Σv_g)²/n_g),
    F = (SSB/(k−1)) / (SSW/(N−k)). Groups with NULL value rows drop
    those rows; NULL F when fewer than 2 groups or zero within-group
    variance. Returns one row: (n, k, ss_between, ss_within, f_stat).

    Cross-group fold exactness: the per-group term s²/n splits into
    S² div (n·10¹²) (an exact decimal quotient; S = s in 1e-6 units)
    plus a fractional remainder < 1 folded on the 1e-9 grid — a fixed
    micro-grid on the raw term overflows int64 once s² passes ~1e19
    (the kruskal_wallis sf0.1 lesson, fixed here proactively). Valid
    while S² fits decimal(38): ~1e10 rows per group at cent-scale
    values; beyond that, merge `incremental_moments` partials instead.
    """
    v = F.col(value_col).cast(value_scale)
    g = df.where(F.col(value_col).isNotNull()).groupBy(group_col).agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(v).alias("__s"),
        F.sum((v * v).cast("decimal(38,8)")).alias("__ss"),
    )
    d38 = "decimal(38,0)"
    s_micro = (F.col("__s").cast("decimal(31,6)") * F.lit(1_000_000)).cast(
        d38
    )
    denom = (
        F.col("__n").cast(d38) * F.lit(1_000_000_000_000).cast(d38)
    ).cast(d38)
    s2 = (s_micro * s_micro).cast(d38)
    mod = (s2 % denom).cast(d38)
    quot = ((s2 - mod) / denom).cast(d38)
    frac = mod.cast("double") / denom.cast("double")
    tot = g.agg(
        F.sum("__n").cast("double").alias("__N"),
        F.sum("__s").cast("double").alias("__S"),
        F.sum("__ss").cast("double").alias("__SS"),
        F.count(F.lit(1)).cast("double").alias("__k"),
        F.sum(quot).alias("__q"),
        F.sum(
            F.floor(frac * F.lit(1e9) + F.lit(0.5)).cast(d38)
        ).alias("__f_nano"),
    )
    N = F.col("__N")
    S = F.col("__S")
    k = F.col("__k")
    # Σ s_g²/n_g, exact integer part + sub-1 fractional part
    sb_sum = (
        F.col("__q").cast("double")
        + F.col("__f_nano").cast("double") / F.lit(1e9)
    )
    ssb = sb_sum - S * S / N
    ssw = F.col("__SS") - sb_sum
    f = (ssb / (k - F.lit(1.0))) / (ssw / (N - k))
    return tot.select(
        N.cast("long").alias("n"),
        k.cast("long").alias("k"),
        ssb.alias("ss_between"),
        ssw.alias("ss_within"),
        F.when((k > 1) & (ssw > 0), f).alias("f_stat"),
    )


def sprt_decision(
    df: DataFrame,
    ts_col: str,
    success_col,
    p0: float,
    p1: float,
    alpha: float = 0.05,
    beta: float = 0.2,
    bucket: str = "day",
) -> DataFrame:
    """Sequential probability ratio test (Wald) over the event stream:
    the always-valid alternative to the fixed-horizon ``ab_test`` —
    peeking at the fixed-N z-test inflates false positives, while the
    SPRT's log-likelihood boundaries ln((1−β)/α), ln(β/(1−α)) hold the
    error rates at ANY stopping time.

    Per time bucket: cumulative trials/successes, the Wald LLR
    ``S·ln(p1/p0) + (N−S)·ln((1−p1)/(1−p0))``, and the running verdict
    (accept_h1 / accept_h0 / continue — sticky once a boundary is
    crossed, as the test stops there). The corpus collapses to one
    |buckets|-row aggregate; the cumulative window runs on that tiny
    frame (single-partition window is free at |days| scale, and days
    are calendar-bounded at any corpus size). LLR inputs are exact
    integer cumulative counts × float constants — bit-deterministic.
    """
    la = math.log(p1 / p0)
    lb = math.log((1.0 - p1) / (1.0 - p0))
    hi = math.log((1.0 - beta) / alpha)
    lo = math.log(beta / (1.0 - alpha))
    daily = df.groupBy(
        F.date_trunc(bucket, F.col(ts_col)).alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col(success_col).cast("long")).alias("s"),
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    cum_n = F.sum("n").over(w)
    cum_s = F.sum("s").over(w)
    llr = cum_s * F.lit(la) + (cum_n - cum_s) * F.lit(lb)
    staged = daily.select(
        "bucket",
        F.col("n").cast("long").alias("n"),
        F.col("s").cast("long").alias("s"),
        cum_n.cast("long").alias("cum_n"),
        cum_s.cast("long").alias("cum_s"),
        llr.alias("llr"),
    )
    # sticky verdict: the test STOPS at the FIRST crossing; later buckets
    # report the decision taken THERE. The verdict is frozen to whichever
    # boundary was hit at the earliest crossing bucket — an LLR that dips
    # through the low boundary and later rises through the high one stays
    # accept_h0 (round-8 fix: the old max-flag form let a later hi
    # crossing overturn an earlier lo verdict).
    w2 = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    first_hi = F.min(F.when(F.col("llr") >= hi, F.col("bucket"))).over(w2)
    first_lo = F.min(F.when(F.col("llr") <= lo, F.col("bucket"))).over(w2)
    verdict = (
        F.when(first_hi.isNull() & first_lo.isNull(), F.lit("continue"))
        .when(first_lo.isNull() | (first_hi <= first_lo), F.lit("accept_h1"))
        .otherwise(F.lit("accept_h0"))
    )
    return staged.withColumn("verdict", verdict).orderBy("bucket")


# Poisson(1) CDF thresholds on the 32-bit md5-uniform grid:
# floor(P(X <= k) * 2^32) for k = 0..5; draws past the last threshold
# get weight 6 (P ≈ 6e-5 truncation, standard for Poisson bootstrap).
_POISSON1_T32 = (
    1580030168, 3160060337, 3950075421, 4213413783, 4279248373, 4292415291,
)


def bootstrap_auc(
    df: DataFrame,
    label: str,
    score: str,
    id_col: str,
    reps: int = 16,
    salt: str = "boot",
    grid: float = 1e6,
) -> DataFrame:
    """Distributed Poisson bootstrap of ROC-AUC: ``reps`` resampled AUCs
    in ONE corpus pass — the confidence interval a fixed-N AUC point
    estimate silently lacks. Classical bootstrap resamples rows with
    replacement (impossible to coordinate across executors); the Poisson
    bootstrap draws an independent Poisson(1) weight per (row, replicate)
    — identical in distribution for large n, and embarrassingly
    map-parallel.

    Everything is exact integer arithmetic: the weight comes from
    comparing the row's 32-bit md5 uniform against precomputed integer
    CDF thresholds (no float RNG to drift cross-engine); scores are
    quantized to the 1e-6 grid (bins bounded at 10⁶ per replicate
    regardless of corpus size); the Mann-Whitney numerator folds
    ``Σ wp·(2·cum_wn_below + wn)`` as DECIMAL(38,0). The only corpus
    pass is the explode→hash-agg (map-side combined: each task emits at
    most reps × |bins| partials); the per-replicate cumulative window
    runs on the ≤reps×10⁶-row bin frame, partitioned by replicate.

    Returns one row per replicate: (rep, w_pos, w_neg, auc).
    """
    n_groups = (reps + 3) // 4
    # one md5 yields four independent 32-bit uniforms (32 hex chars /
    # 8): explode digest GROUPS first and materialize each md5 once,
    # then explode the four lanes off the same digest — reps draws for
    # reps/4 digest computations per row, same integer-threshold draw
    grp = F.explode(F.array(*[F.lit(i) for i in range(n_groups)])).alias(
        "__grp"
    )
    digest = F.md5(
        F.concat(
            F.lit(f"{salt}:"),
            F.col("__grp").cast("string"),
            F.lit(":"),
            F.col(id_col).cast("string"),
        )
    )
    lane = F.explode(F.array(*[F.lit(i) for i in range(4)])).alias("__lane")
    h = F.conv(
        F.substring(
            F.col("__d"), (F.col("__lane") * F.lit(8) + F.lit(1)), F.lit(8)
        ),
        16,
        10,
    ).cast("long")
    w = F.lit(6)
    for k in range(len(_POISSON1_T32) - 1, -1, -1):
        w = F.when(h < F.lit(_POISSON1_T32[k]), F.lit(k)).otherwise(w)
    b = F.floor(F.col(score) * F.lit(grid) + F.lit(0.5)).cast("long")
    lab = F.col(label).cast("long")
    # round 12 (guide §2.5 input skew): the reps/4 md5 digests + reps-way
    # explode per row are the corpus-pass cost; a single-split scan runs
    # that map serially. fan_out is a no-op at scale, and the Poisson
    # fold is exact integer aggregation — partitioning-invariant.
    from ..sources.tables import fan_out

    cells = (
        fan_out(df).select(F.col(id_col), lab.alias("__y"), b.alias("__b"), grp)
        .select("__grp", "__y", "__b", digest.alias("__d"))
        .select("__grp", "__y", "__b", "__d", lane)
        .select(
            (F.col("__grp") * F.lit(4) + F.col("__lane")).alias("rep"),
            "__b",
            "__y",
            w.alias("__w"),
        )
        .where(F.col("rep") < reps)
        .groupBy("rep", "__b")
        .agg(
            F.sum(F.col("__w") * F.col("__y")).alias("wp"),
            F.sum(F.col("__w") * (F.lit(1) - F.col("__y"))).alias("wn"),
        )
    )
    wlo = (
        Window.partitionBy("rep")
        .orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    staged = cells.select(
        "rep",
        "wp",
        "wn",
        F.coalesce(F.sum("wn").over(wlo), F.lit(0)).alias("cum_wn"),
    )
    per_rep = staged.groupBy("rep").agg(
        F.sum(
            (
                F.col("wp").cast("decimal(38,0)")
                * (F.lit(2) * F.col("cum_wn") + F.col("wn")).cast("decimal(38,0)")
            )
        ).alias("__num"),
        F.sum("wp").alias("w_pos"),
        F.sum("wn").alias("w_neg"),
    )
    return per_rep.select(
        F.col("rep").cast("int").alias("rep"),
        F.col("w_pos").cast("long").alias("w_pos"),
        F.col("w_neg").cast("long").alias("w_neg"),
        (
            F.col("__num").cast("double")
            / (
                F.lit(2.0)
                * F.col("w_pos").cast("double")
                * F.col("w_neg").cast("double")
            )
        ).alias("auc"),
    ).orderBy("rep")


def grouped_auc(
    df: DataFrame,
    segment: str,
    label: str,
    score: str,
    grid: float = 1e6,
) -> DataFrame:
    """ROC-AUC per segment — the fairness/slice report a single global
    AUC hides (a scorer can clear 0.9 overall while being a coin flip
    on one customer segment). Same exact integer Mann-Whitney form as
    ``bootstrap_auc``: scores quantized to the 1e-6 grid (bins bounded
    at 10⁶ per segment), one hash-agg corpus pass to (segment, bin)
    cells, per-segment cumulative window on the cell frame, numerator
    folded as DECIMAL(38,0) (tie-corrected: within-bin pairs credit ½).
    Returns one row per segment: (segment, n_pos, n_neg, auc) — auc is
    NULL for single-class segments.
    """
    b = F.floor(F.col(score) * F.lit(grid) + F.lit(0.5)).cast("long")
    lab = F.col(label).cast("long")
    cells = (
        df.select(F.col(segment).alias("seg"), lab.alias("__y"), b.alias("__b"))
        .groupBy("seg", "__b")
        .agg(
            F.sum("__y").alias("np"),
            F.sum(F.lit(1) - F.col("__y")).alias("nn"),
        )
    )
    wlo = (
        Window.partitionBy("seg")
        .orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    staged = cells.select(
        "seg",
        "np",
        "nn",
        F.coalesce(F.sum("nn").over(wlo), F.lit(0)).alias("cum_nn"),
    )
    per = staged.groupBy("seg").agg(
        F.sum(
            F.col("np").cast("decimal(38,0)")
            * (F.lit(2) * F.col("cum_nn") + F.col("nn")).cast("decimal(38,0)")
        ).alias("__num"),
        F.sum("np").alias("n_pos"),
        F.sum("nn").alias("n_neg"),
    )
    return per.select(
        F.col("seg").alias(segment),
        F.col("n_pos").cast("long").alias("n_pos"),
        F.col("n_neg").cast("long").alias("n_neg"),
        F.when(
            (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
            F.col("__num").cast("double")
            / (
                F.lit(2.0)
                * F.col("n_pos").cast("double")
                * F.col("n_neg").cast("double")
            ),
        ).alias("auc"),
    ).orderBy(segment)


def platt_scaling(
    df: DataFrame,
    label: str,
    score: str,
    max_iter: int = 8,
) -> tuple:
    """Platt probability calibration: fit P(y=1|s) = σ(a·s + b) by
    Newton-Raphson on the log-loss — the parametric complement of the
    isotonic (PAV) calibrator (monotone-smooth instead of stepwise,
    safe to extrapolate past the observed score range).

    Each Newton step is ONE aggregate over the PERSISTED (score, label)
    projection — the source is scanned exactly once, every later pass
    hits the cached 2-column frame (at 100 TB the projection is the
    only corpus read). Gradient
    and Hessian entries fold as integer micro-units (DECIMAL(38,0)),
    so every iterate — and therefore the fitted (a, b) — is
    bit-deterministic across partitionings and engines; the 2×2 solve
    runs driver-side. Quasi-separable inputs are guarded: each Newton
    step is clamped to ±4 per coordinate and (a, b) to ±60 (past
    |z|≈36 the sigmoid saturates in float64, so the bound never binds
    on a fittable dataset), and the loop breaks on convergence
    (step < 1e-9) or a near-singular Hessian. Returns
    ((a, b), diagnostics DataFrame row) — one row:
    (a, b, n_iter, n_rows, log_loss) where n_iter is the number of
    Newton aggregates actually run, not max_iter.
    """
    s = F.col(score).cast("double")
    y = F.col(label).cast("double")
    proj = df.select(s.alias("__s"), y.alias("__y")).persist()

    def micro(c):
        return F.sum(
            F.floor(c * F.lit(1e9) + F.lit(0.5)).cast("decimal(38,0)")
        ).cast("double") / F.lit(1e9)

    def clamp(x: float, lim: float) -> float:
        return lim if x > lim else (-lim if x < -lim else x)

    a, b = 0.0, 0.0
    n_rows, n_iter = None, 0
    try:
        for _ in range(max_iter):
            z = F.lit(a) * F.col("__s") + F.lit(b)
            p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
            w_ = p * (F.lit(1.0) - p)
            row = proj.agg(
                micro((p - F.col("__y"))).alias("g_b"),
                micro((p - F.col("__y")) * F.col("__s")).alias("g_a"),
                micro(w_).alias("h_bb"),
                micro(w_ * F.col("__s")).alias("h_ab"),
                micro(w_ * F.col("__s") * F.col("__s")).alias("h_aa"),
                F.count(F.lit(1)).alias("n"),
            ).collect()[0]
            n_iter += 1
            n_rows = int(row["n"])
            det = row["h_aa"] * row["h_bb"] - row["h_ab"] * row["h_ab"]
            if abs(det) < 1e-12:
                break
            da = (row["h_bb"] * row["g_a"] - row["h_ab"] * row["g_b"]) / det
            db = (row["h_aa"] * row["g_b"] - row["h_ab"] * row["g_a"]) / det
            # damped, bounded update: separable score distributions push
            # the MLE to infinity; the clamps keep the iterates finite
            # without disturbing any fittable problem's trajectory
            da, db = clamp(da, 4.0), clamp(db, 4.0)
            a = clamp(a - da, 60.0)
            b = clamp(b - db, 60.0)
            if max(abs(da), abs(db)) < 1e-9:
                break
        z = F.lit(a) * F.col("__s") + F.lit(b)
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        eps = F.lit(1e-12)
        ll = proj.agg(
            (
                -micro(
                    F.col("__y") * F.log(F.greatest(p, eps))
                    + (F.lit(1.0) - F.col("__y"))
                    * F.log(F.greatest(F.lit(1.0) - p, eps))
                )
                / F.count(F.lit(1))
            ).alias("log_loss")
        ).collect()[0]["log_loss"]
    finally:
        proj.unpersist()
    diag = local_frame(
        df.sparkSession,
        [(float(a), float(b), int(n_iter), int(n_rows), float(ll))],
        "a double, b double, n_iter int, n_rows long, log_loss double",
    )
    return (a, b), diag


def srm_check(
    df: DataFrame,
    arm_col: str,
    expected: dict,
) -> DataFrame:
    """Sample-ratio-mismatch check for an experiment assignment: the χ²
    goodness-of-fit of observed arm counts against the DESIGNED split —
    the first gate before reading any A/B metric (a biased assignment
    invalidates `ab_test` downstream; SRM is the single most common
    experimentation bug). χ² = Σ (o_k − e_k)²/e_k over the DECLARED
    arms — an expected arm with zero observations still contributes its
    full term (a silently-dead arm IS an SRM), and arms observed in the
    data but absent from ``expected`` surface as ``has_unknown_arm``
    with their rows counted in ``n_unexpected``.

    ONE map-side-combined count aggregate collapses the corpus to
    |arms| rows; the declared-arm frame (a literal explode, no data
    scan) left-joins those counts and the single-row fold micro-folds
    each χ² term on the 1e-9 grid. Returns one row: (n_total, k, chi2,
    dof, max_abs_share_diff, n_unexpected, has_unknown_arm).
    """
    if not expected:
        raise ValueError("srm_check: expected must be non-empty")
    tot_share = sum(expected.values())
    if abs(tot_share - 1.0) > 1e-9:
        raise ValueError(
            f"srm_check: expected shares sum to {tot_share}, not 1"
        )
    counts = df.groupBy(
        F.col(arm_col).cast("string").alias("__arm")
    ).agg(F.count(F.lit(1)).alias("__o"))
    counts = reuse(counts)  # feeds the observed and the expected branch
    declared = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(str(a)).alias("__arm"),
                    F.lit(float(s)).alias("__share"),
                )
                for a, s in sorted(expected.items())
            ]
        )
    ).alias("kv")
    arms = (
        counts.sparkSession.range(1)
        .select(declared)
        .select("kv.__arm", "kv.__share")
        .join(counts, "__arm", "left")
        .withColumn("__o", F.coalesce(F.col("__o"), F.lit(0)))
    )
    unknown = counts.join(
        arms.select("__arm"), "__arm", "left_anti"
    ).agg(
        F.coalesce(F.sum("__o"), F.lit(0)).cast("long").alias("n_unexpected")
    )
    wtot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    n_declared = F.sum("__o").over(wtot).cast("double")
    e = n_declared * F.col("__share")
    o = F.col("__o").cast("double")
    term = (o - e) * (o - e) / F.when(e > 0, e).otherwise(F.lit(1.0))
    share_diff = F.when(
        n_declared > 0, F.abs(o / n_declared - F.col("__share"))
    ).otherwise(F.lit(0.0))
    folded = arms.select(
        "__o",
        F.when(F.col("__share") > 0, term).alias("__term"),
        share_diff.alias("__sd"),
    ).agg(
        F.sum("__o").cast("long").alias("n_total"),
        F.count(F.lit(1)).cast("long").alias("k"),
        (
            F.sum(
                F.floor(F.col("__term") * F.lit(1e9) + F.lit(0.5)).cast(
                    "decimal(38,0)"
                )
            ).cast("double")
            / F.lit(1e9)
        ).alias("__chi2"),
        F.max(
            F.floor(F.col("__sd") * F.lit(1e9) + F.lit(0.5)) / F.lit(1e9)
        ).alias("__msd"),
    )
    return folded.crossJoin(F.broadcast(unknown)).select(
        "n_total",
        "k",
        (F.floor(F.col("__chi2") * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)).alias(
            "chi2"
        ),
        (F.col("k") - F.lit(1)).cast("long").alias("dof"),
        F.col("__msd").alias("max_abs_share_diff"),
        "n_unexpected",
        (F.col("n_unexpected") > 0).alias("has_unknown_arm"),
    )


def cuped(
    df: DataFrame,
    entity_col: str,
    value_col: str,
    ts_col: str,
    split_ts: str,
) -> DataFrame:
    """CUPED variance reduction report: per-entity PRE-period totals as
    the covariate X, POST-period totals as the metric Y, θ* =
    cov(X,Y)/var(X), and the variance of the adjusted metric
    Y − θ(X − x̄) — the standard pre-experiment-data trick that shrinks
    an A/B test's required sample by the squared pre/post correlation
    (Deng et al. 2013). Run it before `ab_test` to size the experiment.

    ONE corpus pass builds per-entity (X, Y) via conditional decimal
    sums (entities missing a period count as 0 — the standard
    all-randomized-units frame); the moment fold is exact decimal
    products micro-folded per entity. Returns one row: (n_entities,
    theta, var_y, var_adj, variance_reduction_pct, corr_xy).
    """
    split = F.lit(split_ts).cast("timestamp")
    v = F.col(value_col).cast("decimal(25,2)")
    per = df.groupBy(F.col(entity_col).alias("__e")).agg(
        F.coalesce(
            F.sum(F.when(F.col(ts_col) < split, v)), F.lit(0).cast("decimal(25,2)")
        ).alias("__x_dec"),
        F.coalesce(
            F.sum(F.when(F.col(ts_col) >= split, v)), F.lit(0).cast("decimal(25,2)")
        ).alias("__y_dec"),
    )
    xd = F.col("__x_dec")
    yd = F.col("__y_dec")
    # cent-valued per-entity totals: the cross-moments are EXACT
    # decimal(38,4) products, so the fold needs no micro-grid at all
    # (and cannot overflow one, whale entities included)
    agg = per.agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("__x_dec").cast("double").alias("__sx"),
        F.sum("__y_dec").cast("double").alias("__sy"),
        F.sum((xd * xd).cast("decimal(38,4)")).cast("double").alias("__sxx"),
        F.sum((yd * yd).cast("decimal(38,4)")).cast("double").alias("__syy"),
        F.sum((xd * yd).cast("decimal(38,4)")).cast("double").alias("__sxy"),
    )
    n = F.col("__n").cast("double")
    sx, sy = F.col("__sx"), F.col("__sy")
    cov = (F.col("__sxy") - sx * sy / n) / F.greatest(
        n - F.lit(1.0), F.lit(1.0)
    )
    var_x = (F.col("__sxx") - sx * sx / n) / F.greatest(
        n - F.lit(1.0), F.lit(1.0)
    )
    var_y = (F.col("__syy") - sy * sy / n) / F.greatest(
        n - F.lit(1.0), F.lit(1.0)
    )
    theta = cov / F.when(var_x > 0, var_x).otherwise(F.lit(1.0))
    var_adj = var_y - theta * cov  # = var_y - cov^2/var_x
    corr = cov / F.sqrt(F.abs(var_x * var_y) + F.lit(1e-300))
    ok = (n > 1) & (var_x > 0) & (var_y > 0)
    r6_ = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    return agg.select(
        F.col("__n").cast("long").alias("n_entities"),
        r6_(F.when(ok, theta)).alias("theta"),
        r6_(F.when(n > 1, var_y)).alias("var_y"),
        r6_(F.when(ok, var_adj)).alias("var_adj"),
        r6_(
            F.when(ok, (var_y - var_adj) / var_y * F.lit(100.0))
        ).alias("variance_reduction_pct"),
        r6_(F.when(ok, corr)).alias("corr_xy"),
    )


def gini_gain(
    df: DataFrame,
    feature_col,
    label_col,
) -> DataFrame:
    """Gini-impurity reduction of a categorical feature against a binary
    label — the split criterion every tree in the reference's boosters
    optimizes, surfaced as a standalone feature-relevance screen next to
    `mutual_information` (entropy-based) and `anova_f` (numeric):
    gain = gini(S) − Σ_v (n_v/N)·gini(S_v), gini = 1 − p² − (1−p)².

    ONE map-side-combined (feature, label) count pass collapses the
    corpus; per-value weighted-gini terms are BOUNDED (≤ 0.5), so the
    1e-9 micro-grid fold across values is magnitude-safe at any
    cardinality; the root gini assembles from exact global counts.
    Returns one row: (n, n_values, gini_root, gini_split, gain).
    """
    per_v = df.groupBy(F.col(feature_col).alias("__v")).agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(F.col(label_col).cast("long")).alias("__pos"),
    )
    n = F.col("__n").cast("double")
    p = F.col("__pos").cast("double") / n
    gini_v = F.lit(1.0) - p * p - (F.lit(1.0) - p) * (F.lit(1.0) - p)
    # weighted term folds in nano units; the N divisor applies AFTER the
    # fold (n_v·gini_v ≤ n_v, then /N ≤ 1 — but folding n_v·gini_v
    # directly would re-grow with corpus size, so fold gini_v weighted
    # by the EXACT integer n_v: quotient-free because gini_v ≤ 0.5 and
    # the product is re-normalized by the exact ΣN afterward)
    agg = per_v.agg(
        F.sum("__n").cast("double").alias("__N"),
        F.sum("__pos").cast("double").alias("__P"),
        F.count(F.lit(1)).cast("long").alias("n_values"),
        F.sum(
            (
                F.col("__n").cast("decimal(38,0)")
                * F.floor(gini_v * F.lit(1e9) + F.lit(0.5)).cast(
                    "decimal(38,0)"
                )
            ).cast("decimal(38,0)")
        ).alias("__wg_nano"),
    )
    N = F.col("__N")
    P = F.col("__P")
    p_root = P / N
    gini_root = (
        F.lit(1.0) - p_root * p_root - (F.lit(1.0) - p_root) * (F.lit(1.0) - p_root)
    )
    gini_split = F.col("__wg_nano").cast("double") / F.lit(1e9) / N
    r6_ = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    return agg.select(
        N.cast("long").alias("n"),
        "n_values",
        r6_(gini_root).alias("gini_root"),
        r6_(gini_split).alias("gini_split"),
        r6_(gini_root - gini_split).alias("gain"),
    )


def qini_curve(
    df: DataFrame,
    treatment_col: str,
    outcome_col: str,
    score_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Qini / uplift gains table (Radcliffe 2007): bin units by their
    uplift score on a fixed [0,1) grid, then report, cumulatively from
    the highest-score bin down, the INCREMENTAL conversions of treated
    over control — cum_uplift = convᵗ − convᶜ·(nᵗ/nᶜ) at each depth —
    against the random-targeting diagonal. The decision table behind
    "treat only the top-k%": if the curve hugs the diagonal the score
    carries no uplift signal even when its AUC is high (`ab_test`
    measures the average effect; this measures its TARGETABILITY).

    Scale shape: ONE map-side-combined corpus aggregate collapses to
    ≤ n_bins rows; cumulative sums come from a triangular broadcast
    self-join over that tiny frame (chunk_offsets convention — no
    window, no second scan) and the totals fold from the same frame.
    All cumulative quantities are exact integers; the uplift assembles
    in closed-form IEEE arithmetic, r6-rounded.
    """
    if not 2 <= int(n_bins) <= 1000:
        raise ValueError(f"qini_curve: n_bins={n_bins} outside 2..1000")
    t = F.col(treatment_col).cast("int")
    y = F.col(outcome_col).cast("int")
    # NULL scores can't be placed on the curve, and letting them through
    # would inflate the totals (depth denominator, random diagonal) past
    # the population the cumulative table covers — floor(NULL·n) stays
    # NULL through least/greatest and vanishes from the triangular join
    binned = df.where(F.col(score_col).isNotNull()).select(
        # clamp BOTH ends of the [0,1) grid: scores >= 1 land in the top
        # bin and negatives in bin 0, instead of silently emitting
        # out-of-grid rows that pollute every cumulative sum
        F.least(
            F.greatest(
                F.floor(F.col(score_col) * F.lit(int(n_bins))).cast("int"),
                F.lit(0),
            ),
            F.lit(int(n_bins) - 1),
        ).alias("__bin"),
        t.alias("__t"),
        y.alias("__y"),
    )
    per = binned.groupBy("__bin").agg(
        F.sum("__t").cast("long").alias("n_treat"),
        F.sum(F.lit(1) - F.col("__t")).cast("long").alias("n_ctrl"),
        F.sum(F.col("__t") * F.col("__y")).cast("long").alias("conv_treat"),
        F.sum((F.lit(1) - F.col("__t")) * F.col("__y"))
        .cast("long")
        .alias("conv_ctrl"),
    )
    a, b = per.alias("a"), per.alias("b")
    cum = (
        a.join(F.broadcast(b), F.col("b.__bin") >= F.col("a.__bin"))
        .groupBy(
            F.col("a.__bin").alias("__bin"),
            F.col("a.n_treat").alias("n_treat"),
            F.col("a.n_ctrl").alias("n_ctrl"),
            F.col("a.conv_treat").alias("conv_treat"),
            F.col("a.conv_ctrl").alias("conv_ctrl"),
        )
        .agg(
            F.sum("b.n_treat").cast("long").alias("__cnt"),
            F.sum("b.n_ctrl").cast("long").alias("__cnc"),
            F.sum("b.conv_treat").cast("long").alias("__cct"),
            F.sum("b.conv_ctrl").cast("long").alias("__ccc"),
        )
    )
    tot = per.agg(
        F.sum("n_treat").cast("long").alias("__T"),
        F.sum("n_ctrl").cast("long").alias("__C"),
        F.sum("conv_treat").cast("long").alias("__CT"),
        F.sum("conv_ctrl").cast("long").alias("__CC"),
    )
    j = cum.join(F.broadcast(tot))
    cum_uplift = F.col("__cct").cast("double") - F.col("__ccc").cast(
        "double"
    ) * (F.col("__cnt").cast("double") / F.col("__cnc").cast("double"))
    total_uplift = F.col("__CT").cast("double") - F.col("__CC").cast(
        "double"
    ) * (F.col("__T").cast("double") / F.col("__C").cast("double"))
    depth = (F.col("__cnt") + F.col("__cnc")).cast("double") / (
        F.col("__T") + F.col("__C")
    ).cast("double")
    return j.select(
        F.col("__bin").cast("int").alias("bin"),
        (F.col("__bin").cast("double") / F.lit(float(n_bins))).alias(
            "score_lo"
        ),
        "n_treat",
        "n_ctrl",
        "conv_treat",
        "conv_ctrl",
        F.when(F.col("__cnc") > 0, r6(cum_uplift)).alias("cum_uplift"),
        F.when(F.col("__C") > 0, r6(total_uplift * depth)).alias(
            "random_uplift"
        ),
    )


# two-sided alpha = 0.05 and power = 0.80 normal quantiles — fixed
# literals shared with the SQL twin (neither engine exposes an inverse
# normal CDF in its SQL surface)
Z_ALPHA_05 = 1.959963984540054
Z_POWER_80 = 0.8416212335729143


def mde_power(
    df: DataFrame,
    treatment_col: str,
    outcome_col: str,
) -> DataFrame:
    """Experiment sensitivity report (two-proportion normal
    approximation, α = 0.05 two-sided, power = 0.80): observed per-arm
    conversion rates, the absolute effect, the minimum detectable
    effect at the CURRENT sample size — MDE = (z_{α/2} + z_β) ·
    √(2·p̄(1−p̄)/n̄) with n̄ the harmonic mean of the arm sizes — and
    the per-arm n required to detect the OBSERVED effect. The question
    every `ab_test` reader asks next: "is this flat result a real null
    or an underpowered test?" — if |effect| ≪ MDE the experiment could
    not have detected it.

    One map-side-combined corpus aggregate to four integers; the report
    assembles in closed-form IEEE arithmetic from those integers and
    the two fixed quantile literals — bit-identical cross-engine.
    """
    t = F.col(treatment_col).cast("int")
    y = F.col(outcome_col).cast("int")
    agg = df.agg(
        F.sum(t).cast("long").alias("__nt"),
        F.sum(F.lit(1) - t).cast("long").alias("__nc"),
        F.sum(t * y).cast("long").alias("__ct"),
        F.sum((F.lit(1) - t) * y).cast("long").alias("__cc"),
    )
    nt = F.col("__nt").cast("double")
    nc = F.col("__nc").cast("double")
    pt = F.col("__ct").cast("double") / nt
    pc = F.col("__cc").cast("double") / nc
    pbar = (F.col("__ct") + F.col("__cc")).cast("double") / (
        F.col("__nt") + F.col("__nc")
    ).cast("double")
    nbar = F.lit(2.0) * nt * nc / (nt + nc)  # harmonic mean of arm sizes
    zsum = F.lit(Z_ALPHA_05 + Z_POWER_80)
    mde = zsum * F.sqrt(F.lit(2.0) * pbar * (F.lit(1.0) - pbar) / nbar)
    eff = pt - pc
    n_req = (
        F.lit(2.0)
        * pbar
        * (F.lit(1.0) - pbar)
        * (zsum / F.abs(eff))
        * (zsum / F.abs(eff))
    )
    r6_ = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    # every ratio is when-guarded: Spark 4's default ANSI mode turns an
    # empty arm into a DIVIDE_BY_ZERO job failure otherwise
    return agg.select(
        F.col("__nt").alias("n_treat"),
        F.col("__nc").alias("n_ctrl"),
        F.when(nt > 0, r6_(pt)).alias("rate_treat"),
        F.when(nc > 0, r6_(pc)).alias("rate_ctrl"),
        F.when((nt > 0) & (nc > 0), r6_(eff)).alias("abs_effect"),
        F.when(nt + nc > 0, r6_(pbar)).alias("pooled_rate"),
        F.when((nt > 0) & (nc > 0), r6_(mde)).alias("mde_at_n"),
        F.when(
            (nt > 0) & (nc > 0) & (F.abs(eff) > 0),
            F.ceil(n_req).cast("long"),
        ).alias("n_per_arm_for_observed"),
    )
