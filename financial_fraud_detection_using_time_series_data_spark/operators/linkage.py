"""Probabilistic record linkage (Fellegi–Sunter): blocked candidate
generation + log-likelihood match scoring — the entity-resolution step a
curation pipeline runs after dedup candidate generation (SNM / LSH
pairs) to decide which near-matches are the SAME real-world entity.

Spark-first shape: blocking is a capped within-block self-join (the
same skew discipline as `events.shared_attr_edges` — an oversized block
means the blocking key is too coarse, and production re-blocks it with
a finer key rather than paying C(n, 2)); scoring is a pure projection
of per-field agreement weights, fully codegen'd, no UDFs, no shuffle
beyond the block join itself.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.local import local_frame

__all__ = ["FieldComparison", "block_pairs", "em_weights", "fellegi_sunter"]


@dataclass(frozen=True)
class FieldComparison:
    """One field-agreement rule: ``agree`` is any boolean Column over
    the pair frame (exact equality, bucketed equality, tolerance bands,
    prefix match, …). ``m`` = P(agree | same entity), ``u`` =
    P(agree | different entities) — the classic m/u probabilities,
    estimated offline (EM or clerical review) and passed in as
    constants."""

    name: str
    agree: Column
    m: float
    u: float


def block_pairs(
    df: DataFrame,
    block_cols: list[str],
    id_col: str,
    attr_cols: list[str],
    max_block: int = 10_000,
) -> DataFrame:
    """Within-block candidate pairs (id_a < id_b) carrying both sides'
    attributes as ``<attr>_a`` / ``<attr>_b``.

    Blocks with more than ``max_block`` members are DROPPED, not
    truncated — an oversized block is a blocking-key defect (pair count
    grows C(n, 2)); the standard fix is a finer key, and silently
    sampling pairs would bias downstream m/u estimation. The cap is one
    broadcast-joined |blocks|-row dim; the pair join shuffles on the
    block key only.
    """
    cnt = df.groupBy(*block_cols).agg(F.count(F.lit(1)).alias("__bn"))
    ok = cnt.where(F.col("__bn") <= max_block).select(*block_cols)
    # round 12 (guide §2.5 input skew): broadcast joins preserve the
    # scan's partitioning, so a single-split input generates (and
    # scores) EVERY candidate pair in one task; spread the blocked base
    # first (no-op at scale, pair set is partitioning-invariant)
    from ..sources.tables import fan_out

    base = fan_out(df.join(F.broadcast(ok), block_cols))
    a = base.select(
        *block_cols,
        F.col(id_col).alias("id_a"),
        *[F.col(c).alias(f"{c}_a") for c in attr_cols],
    )
    b = base.select(
        *block_cols,
        F.col(id_col).alias("id_b"),
        *[F.col(c).alias(f"{c}_b") for c in attr_cols],
    )
    return a.join(b, block_cols).where(F.col("id_a") < F.col("id_b"))


def fellegi_sunter(
    pairs: DataFrame,
    comparisons: list[FieldComparison],
    lower: float = 0.0,
    upper: float = 8.0,
) -> DataFrame:
    """Score candidate pairs with Fellegi–Sunter log-likelihood weights:
    each field contributes log2(m/u) on agreement and
    log2((1−m)/(1−u)) on disagreement; the total decides
    match / possible / non_match against the (lower, upper) thresholds.

    Weights are folded into literal doubles at plan-build time, so the
    whole scorer is one codegen'd projection — the oracle embeds the
    identical literals. NULL agreement evaluates as disagreement
    (coalesce false): absent evidence argues against a match exactly as
    a failed comparison does.
    """
    total = F.lit(0.0)
    out_cols = []
    for c in comparisons:
        w_agree = math.log2(c.m / c.u)
        w_dis = math.log2((1.0 - c.m) / (1.0 - c.u))
        agree = F.coalesce(c.agree, F.lit(False))
        out_cols.append(agree.alias(f"agree_{c.name}"))
        total = total + F.when(agree, F.lit(w_agree)).otherwise(F.lit(w_dis))
    scored = pairs.select("*", *out_cols, total.alias("fs_weight"))
    verdict = (
        F.when(F.col("fs_weight") >= F.lit(upper), F.lit("match"))
        .when(F.col("fs_weight") >= F.lit(lower), F.lit("possible"))
        .otherwise(F.lit("non_match"))
    )
    return scored.withColumn("fs_class", verdict)


def em_weights(
    pairs: DataFrame,
    comparisons: list[FieldComparison],
    max_iter: int = 30,
    lambda0: float = 0.1,
    m0: float = 0.8,
    u0: float = 0.1,
) -> DataFrame:
    """Unsupervised m/u estimation (Fellegi–Sunter EM, the splink-style
    training step): instead of hand-picking the per-field m/u
    probabilities that ``fellegi_sunter`` scores with, learn them from
    the candidate pairs themselves under the standard two-class
    conditional-independence mixture.

    The corpus work is ONE aggregate: pairs collapse to agreement-
    PATTERN counts (≤2^k rows for k fields — the sufficient statistics
    of the mixture). EM then iterates driver-side on that tiny frame
    with pure-Python floats (fixed iteration count, fixed init →
    deterministic). This is the correct 100 TB shape: a naive
    implementation E-steps over every pair per iteration; pattern
    aggregation makes iteration cost independent of corpus size.

    The per-iteration accumulations (Σ w·n and its per-field splits)
    fold as 1e-9-grid integer micro-units, so every EM iterate is
    independent of pattern enumeration order — which makes the whole
    fit reproducible as a recursive-CTE SQL twin (a float accumulation
    would depend on collect() row order).

    Returns one row per field: learned m, u and the log2 agreement /
    disagreement weights ready to feed back into ``fellegi_sunter``.
    ``m`` columns use NULL-as-disagree, matching the scorer.
    """
    names = [c.name for c in comparisons]
    gcols = [
        F.coalesce(c.agree, F.lit(False)).cast("int").alias(f"g_{c.name}")
        for c in comparisons
    ]
    pat = (
        pairs.select(*gcols)
        .groupBy(*[f"g_{n}" for n in names])
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    patterns = [
        ([int(r[f"g_{n}"]) for n in names], float(r["n"])) for r in pat
    ]
    k = len(names)
    m = [float(m0)] * k
    u = [float(u0)] * k
    lam = float(lambda0)
    for _ in range(max_iter):
        sw_u = 0
        tot = 0.0
        sm_u = [0] * k
        su_u = [0] * k
        for g, n in patterns:
            pm = lam
            pu = 1.0 - lam
            for j in range(k):
                pm *= m[j] if g[j] else (1.0 - m[j])
                pu *= u[j] if g[j] else (1.0 - u[j])
            w = pm / (pm + pu) if (pm + pu) > 0 else 0.0
            # integer micro-unit folds: iterate is pattern-order invariant
            wn = math.floor(w * n * 1e9 + 0.5)
            cn = math.floor((1.0 - w) * n * 1e9 + 0.5)
            sw_u += wn
            tot += n
            for j in range(k):
                if g[j]:
                    sm_u[j] += wn
                    su_u[j] += cn
        sw = sw_u / 1e9
        if tot == 0 or sw == 0 or sw == tot:
            break
        lam = sw / tot
        for j in range(k):
            m[j] = min(max(sm_u[j] / 1e9 / sw, 1e-6), 1.0 - 1e-6)
            u[j] = min(max(su_u[j] / 1e9 / (tot - sw), 1e-6), 1.0 - 1e-6)
    out = [
        (
            names[j],
            m[j],
            u[j],
            math.log2(m[j] / u[j]),
            math.log2((1.0 - m[j]) / (1.0 - u[j])),
            lam,
        )
        for j in range(k)
    ]
    return local_frame(
        pairs.sparkSession,
        out,
        "field string, m double, u double, w_agree double, "
        "w_disagree double, lambda double",
    )
