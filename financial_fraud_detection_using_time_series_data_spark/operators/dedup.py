"""Deduplication operators (SURVEY §7 M8): exact, MinHash-LSH, SimHash,
n-gram Jaccard.

Scale design:
- exact: hash-groupBy on a fingerprint — one shuffle keyed by a 128-bit
  hash (uniform, skew-free).
- MinHash+LSH: per-doc signature (map-only) → explode bands → groupBy
  band-hash (the classic bucket join) → pairwise verify only within
  buckets. Candidate pairs ≪ n²; each stage is a bounded shuffle.
- SimHash: 64-bit signature from token hashes; near-dup = small Hamming
  distance within LSH-style prefix buckets.

MinHash permutations are derived from md5(seed || shingle) so the DuckDB
oracle can reproduce them bit-exactly (xxhash64 is Spark-only).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import local
from ..functions.exprs import r6
from ..functions.lineage import reuse
from ..functions.local import fetch_bounded, local_frame

from .text import char_shingles, fingerprint, normalize, tokens


def _md5_hash64(col: Column, seed: int) -> Column:
    """Deterministic 63-bit hash reproducible in DuckDB:
    first 15 hex digits of md5(seed || ':' || value) as a BIGINT."""
    h = F.md5(F.concat(F.lit(f"{seed}:"), col))
    return F.conv(F.substring(h, 1, 15), 16, 10).cast("long")


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: canonical row per normalized-text fingerprint (keep the
    min id — deterministic). Returns (fingerprint, keep_id, n_dups)."""
    return (
        df.select(fingerprint(F.col(text_col)).alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def minhash_signature(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_k: int = 3,
    fast: bool = False,
) -> DataFrame:
    """Per-doc MinHash signature: sig[i] = min over shingles of h_i(s).

    fast=False (oracle mode): h_i(s) = md5(i || ':' || s) compared
    LEXICOGRAPHICALLY — md5 hex strings are uniform, and string-min is
    reproducible bit-exactly in the DuckDB oracle (integer conversion of
    hex is not portable SQL).
    fast=True (scale mode): h_i(s) = xxhash64(i, s) — JVM-native 64-bit
    integer hashing, ~10× cheaper; Spark-only (rows-only checks).

    Map-only (no shuffle); signature length bounds the state.

    The shingle array is materialized in its OWN projection before the
    num_hashes min-hash columns reference it: CollapseProject refuses to
    inline a non-cheap multiply-referenced alias, so the O(len²)
    array_distinct in char_shingles runs once per doc, not num_hashes
    times (the inlined form was ~80× slower at sf0.1).
    """
    # round 12 (guide §2.5 input skew): num_hashes × per-shingle hashing
    # is the operator's cost; a single-split corpus runs it in ONE task.
    # Map-only and per-row deterministic → partitioning-invariant.
    from ..sources.tables import fan_out

    df = fan_out(df)
    # two layered selects: normalize once, then shingle the attribute
    # (see char_shingles PERF note — HOF lambdas re-evaluate captured
    # expressions per element)
    shingled = df.select(
        F.col(id_col), normalize(F.col(text_col)).alias("__norm")
    ).select(
        F.col(id_col),
        # distinct only in oracle mode (DuckDB twin builds a distinct set);
        # minhash itself is multiset-invariant, so fast mode skips the
        # O(len²) array_distinct
        char_shingles(
            F.col("__norm"), shingle_k, normalized=True, distinct=not fast
        ).alias("__sh"),
    )
    sh = F.col("__sh")

    # NB: the lambda must take exactly ONE parameter — PySpark dispatches a
    # two-parameter lambda as (element, index), so a captured default arg
    # (lambda s, i=i: ...) silently receives the array-index Column instead
    # of the seed. Bind the seed via a closure factory.
    def _minhash(seed: int):
        if fast:
            return F.array_min(F.transform(sh, lambda s: F.xxhash64(F.lit(seed), s)))
        prefix = f"{seed}:"
        return F.array_min(F.transform(sh, lambda s: F.md5(F.concat(F.lit(prefix), s))))

    sig = F.array(*[_minhash(i) for i in range(num_hashes)])
    return shingled.select(F.col(id_col), sig.alias("signature"))


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 2,
    shingle_k: int = 5,
    fast: bool = True,
    max_bucket_size: int = 64,
) -> DataFrame:
    """Candidate near-dup pairs via banded LSH: docs sharing any band of
    the signature. Returns (id_a, id_b) with id_a < id_b, distinct.
    fast=True uses integer minhashes + xxhash64 bucket keys (scale mode;
    this operator is rows-only checked, so oracle portability is moot).

    Tuning note: short natural-language docs share many char-3-grams, so
    the baseline Jaccard between NON-duplicates is high; k=5 shingles +
    8 rows/band (P[candidate] = s^8 per band) keeps the candidate set
    ~linear in corpus size where k=3/4-rows admitted ~8% of all n² pairs.
    Exact duplicates (s=1) are always caught regardless of banding.

    Degenerate-bucket cap (the 100 TB guard): web corpora concentrate
    mass-duplicated boilerplate into a single (band, signature) bucket,
    and an uncapped self-join there goes O(B²) — a 1M-member bucket is
    5·10¹¹ pairs. Buckets with ≤ ``max_bucket_size`` members keep the
    exact all-pairs join; larger buckets degrade to the STAR linkage
    (every member ↔ the bucket's min id, O(B) pairs) plus exact
    all-pairs over the ``max_bucket_size`` lowest ids. The star keeps
    every member reachable from the hub, so connected-component
    clustering (dedup_clusters_lsh) still collapses the whole bucket,
    and downstream exact verification (ngram_jaccard) filters any false
    positives the hub introduces. Pair-level recall inside oversized
    buckets is intentionally traded for the bound; audit the trade with
    :func:`lsh_bucket_stats`."""
    sigs = minhash_signature(df, text_col, id_col, num_hashes, shingle_k, fast=fast)
    banded = _band_buckets(sigs, id_col, num_hashes, bands, fast)
    return _bucket_pairs(banded, id_col, max_bucket_size)


def _band_buckets(
    sigs: DataFrame, id_col: str, num_hashes: int, bands: int, fast: bool
) -> DataFrame:
    """Explode a signature frame into (id, band, bucket) rows — map-only;
    shared by the batch LSH path and the incremental (signature-index)
    path, which bands persisted signatures WITHOUT touching text."""
    rows_per_band = num_hashes // bands
    bucket = (
        F.xxhash64("band_sig") if fast
        else F.md5(F.concat_ws(",", "band_sig"))
    )
    return sigs.select(
        F.col(id_col),
        F.posexplode(
            F.array(
                *[
                    F.slice(F.col("signature"), b * rows_per_band + 1, rows_per_band)
                    for b in range(bands)
                ]
            )
        ).alias("band", "band_sig"),
    ).select(id_col, "band", bucket.alias("bucket"))


def _bucket_pairs(banded: DataFrame, id_col: str, max_bucket_size: int) -> DataFrame:
    """Degenerate-capped within-bucket pair emission (see
    `minhash_lsh_pairs` for the cap rationale)."""
    # one extra window pass on the SAME (band,bucket) shuffle key ranks
    # members and sizes buckets without a second exchange
    w = Window.partitionBy("band", "bucket").orderBy(id_col)
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ranked = banded.select(
        id_col,
        "band",
        "bucket",
        F.row_number().over(w).alias("__rn"),
        F.count(F.lit(1)).over(wfull).alias("__n"),
        F.first(id_col).over(wfull).alias("__hub"),
    )
    capped = ranked.filter(
        (F.col("__n") <= max_bucket_size) | (F.col("__rn") <= max_bucket_size)
    )
    a = capped.alias("a")
    b = capped.alias("b")
    exact_pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
    )
    star_pairs = (
        ranked.filter((F.col("__n") > max_bucket_size) & (F.col(id_col) != F.col("__hub")))
        .select(F.col("__hub").alias("id_a"), F.col(id_col).alias("id_b"))
    )
    return exact_pairs.unionByName(star_pairs).distinct()


def dedup_incremental(
    batch: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 2,
    shingle_k: int = 5,
    fast: bool = True,
    max_bucket_size: int = 64,
) -> DataFrame:
    """Delta-vs-corpus near-dup pairs — what a daily 100 TB ingestion
    actually runs: shingle and minhash ONLY the new batch, then join its
    band buckets against the persisted signature ``index`` (the
    `minhash_signature` output materialized as a table, id + signature).
    The historical corpus' TEXT is never re-read — its signatures are
    ~num_hashes longs/doc, a ~1000× smaller scan.

    Emits exactly the pairs a full `minhash_lsh_pairs` rerun over
    (corpus ∪ batch) would emit that TOUCH the batch: bucket membership,
    ranking, and the degenerate-bucket star cap are evaluated over the
    union of signatures restricted to buckets containing ≥1 batch doc
    (any union bucket with a batch member is such a bucket, so nothing
    is missed; pure corpus-corpus pairs are yesterday's output and are
    not re-emitted).

    Plan shape: batch shingling is map-only over the (small) delta; the
    index side is one scan of the signature table + a semi-join on the
    hot (band, bucket) keys; then the same capped within-bucket join as
    the batch path. No full-corpus shuffle anywhere."""
    batch_sigs = minhash_signature(
        batch, text_col, id_col, num_hashes, shingle_k, fast=fast
    )
    # the union and the hot-bucket probe share one shingling of the delta
    batch_sigs = reuse(batch_sigs)
    all_sigs = index.select(id_col, "signature").unionByName(batch_sigs)
    banded_all = _band_buckets(all_sigs, id_col, num_hashes, bands, fast)
    hot = (
        _band_buckets(batch_sigs, id_col, num_hashes, bands, fast)
        .select("band", "bucket")
        .distinct()
    )
    members = banded_all.join(hot, ["band", "bucket"], "left_semi")
    pairs = _bucket_pairs(members, id_col, max_bucket_size)
    # keep pairs touching the batch: two broadcastable equi-joins on the
    # (small) delta id set — an OR-condition semi-join would degrade to a
    # nested-loop join
    ba = batch.select(F.col(id_col).alias("id_a"), F.lit(1).alias("__ia")).distinct()
    bb = batch.select(F.col(id_col).alias("id_b"), F.lit(1).alias("__ib")).distinct()
    return (
        pairs.join(F.broadcast(ba), "id_a", "left")
        .join(F.broadcast(bb), "id_b", "left")
        .filter(F.col("__ia").isNotNull() | F.col("__ib").isNotNull())
        .select("id_a", "id_b")
    )


def lsh_bucket_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 2,
    shingle_k: int = 5,
    fast: bool = True,
    max_bucket_size: int = 64,
) -> DataFrame:
    """Audit companion for :func:`minhash_lsh_pairs`: per-band bucket
    census — bucket count, max/mean size, oversized-bucket count, and the
    number of within-bucket candidate pairs the cap DROPPED (replaced by
    star links). Pure aggregation, no self-join — safe at any scale."""
    rows_per_band = num_hashes // bands
    sigs = minhash_signature(df, text_col, id_col, num_hashes, shingle_k, fast=fast)
    bucket = (
        F.xxhash64("band_sig") if fast
        else F.md5(F.concat_ws(",", "band_sig"))
    )
    banded = sigs.select(
        F.col(id_col),
        F.posexplode(
            F.array(
                *[
                    F.slice(F.col("signature"), b * rows_per_band + 1, rows_per_band)
                    for b in range(bands)
                ]
            )
        ).alias("band", "band_sig"),
    ).select(id_col, "band", bucket.alias("bucket"))
    sizes = banded.groupBy("band", "bucket").agg(F.count(F.lit(1)).alias("n"))
    n, cap = F.col("n"), F.lit(max_bucket_size)
    # pairs dropped in an oversized bucket: full C(n,2) minus the kept
    # C(cap,2) exact block minus the (n-1) star links (minus overlap of
    # star links already inside the exact block: cap-1)
    dropped = (
        n * (n - 1) / 2 - cap * (cap - 1) / 2 - (n - 1) + (cap - 1)
    )
    return sizes.groupBy("band").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.max("n").alias("max_bucket"),
        F.avg("n").alias("mean_bucket"),
        F.sum((n > cap).cast("long")).alias("oversized_buckets"),
        F.sum(F.when(n > cap, dropped).otherwise(F.lit(0))).cast("long").alias("dropped_pairs"),
    )


def ngram_jaccard(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
) -> DataFrame:
    """Verify candidate pairs with exact shingle-set Jaccard similarity.
    Join shingle sets onto pair ids (broadcast if small), compute
    |A∩B| / |A∪B| with array ops."""
    sh = df.select(F.col(id_col), char_shingles(F.col(text_col), shingle_k).alias("sh"))
    j = (
        pairs.join(sh.withColumnRenamed(id_col, "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed(id_col, "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
    )
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size(F.array_union(F.col("sh_a"), F.col("sh_b")))
    return j.select(
        "id_a", "id_b",
        r6(inter / F.nullif(union.cast("double"), F.lit(0.0))).alias("jaccard"),
    )


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 32) -> DataFrame:
    """SimHash signature: sign-sum of per-token hash bits. Near-dups have
    small Hamming distance. Map-only."""
    # materialize the per-token hash array ONCE (own projection, see
    # minhash_signature) — the naive form re-tokenizes + re-hashes every
    # token per bit, i.e. `bits`× the work
    from ..sources.tables import fan_out

    df = fan_out(df)
    hashed = df.select(
        F.col(id_col),
        F.transform(tokens(F.col(text_col)), lambda t: _md5_hash64(t, 9999)).alias(
            "__tok_hash"
        ),
    )

    # ONE fold over the token array with an array<int> accumulator —
    # the per-bit-aggregate form walked the array `bits` times per row
    # (32 separate folds; 5.7s → 1.3s at 500 docs). The hash is 60-bit
    # positive (15 hex digits), so the mask test (h & 2^b != 0) is
    # bit-identical to the old (h >> b) % 2 == 1.
    masks = F.array(*[F.lit(1 << b).cast("long") for b in range(bits)])
    contribs = F.aggregate(
        F.col("__tok_hash"),
        F.array_repeat(F.lit(0), bits),
        lambda acc, h: F.zip_with(
            acc,
            masks,
            lambda a, m: a + F.when(h.bitwiseAND(m) != 0, 1).otherwise(-1),
        ),
    )
    sig = F.aggregate(
        F.zip_with(
            contribs,
            masks,
            lambda c, m: F.when(c > 0, m).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return hashed.select(F.col(id_col), sig.alias("simhash"))


def embedding_near_dup(
    emb: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, ORACLE-EXACT path:
    (id_a, id_b, cos_sim) for every pair with cosine >= threshold.

    All arithmetic is a sequential left-to-right fold over the arrays
    (F.aggregate/zip_with), which is bit-identical to DuckDB's
    list_dot_product — numpy's pairwise/BLAS summation is NOT (it flipped
    a 1e-6 rounding boundary in testing; see embedding_near_dup_blocked
    for the throughput path). Norms are precomputed per SIDE (one per
    row), so each pair costs exactly one dot product; parallelism comes
    from the probe side's partitioning — repartition upstream if the
    input is a single file.
    """
    from .similarity import dot, norm

    side = emb.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(vec_col).alias("v"),
    ).select("id", "v", norm(F.col("v")).alias("nrm"))
    a = side.select(
        F.col("id").alias("id_a"), F.col("v").alias("va"), F.col("nrm").alias("na")
    )
    b = side.select(
        F.col("id").alias("id_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb")
    )
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    sim = dot(F.col("va"), F.col("vb")) / F.nullif(
        F.col("na") * F.col("nb"), F.lit(0.0)
    )
    return pairs.select("id_a", "id_b", sim.alias("cos_sim")).filter(
        F.col("cos_sim") >= threshold
    )


def embedding_near_dup_blocked(
    emb: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 8,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a, id_b, cos_sim) for
    every pair with cosine >= threshold — EXACT all-pairs via blocked
    matrix products.

    The 100 TB shape: split the corpus into uniform blocks (hash of id),
    replicate each row once per partner block (n_blocks× inflation — the
    unavoidable cost of exact all-pairs; tune n_blocks so a block pair
    fits one executor), then one ``applyInPandas`` per block pair computes
    the full cosine submatrix with a numpy matmul and emits only pairs
    over threshold. Each task is O((n/b)²·d) flops on an Arrow
    batch — BLAS speed — and block size is tunable to executor memory.
    The interpreted alternative (self-join + per-row higher-order-function
    dot product) was ~30× slower at sf0.1. For corpora where even blocked
    n² is too big, pre-bucket with similarity.rh_signature and run this
    within buckets.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("id_a", LongType()),
            StructField("id_b", LongType()),
            StructField("cos_sim", DoubleType()),
        ]
    )

    blocked = emb.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(vec_col).alias("v"),
        (F.abs(F.hash(F.col(id_col))) % n_blocks).alias("block"),
    )
    # upper-triangle replication: row in block i participates in pair
    # groups (min(i,j), max(i,j)) for every j
    pairs_of_blocks = blocked.select(
        "id",
        "v",
        "block",
        F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))).alias("other"),
    ).select(
        "id",
        "v",
        "block",
        F.least("block", "other").alias("ba"),
        F.greatest("block", "other").alias("bb"),
    )

    def _block_pair(pdf: pd.DataFrame) -> pd.DataFrame:
        ba, bb = int(pdf["ba"].iloc[0]), int(pdf["bb"].iloc[0])
        same = ba == bb
        if same:
            sub = pdf.drop_duplicates("id")
            left = right = sub
        else:
            left = pdf[pdf["block"] == ba].drop_duplicates("id")
            right = pdf[pdf["block"] == bb].drop_duplicates("id")
        if len(left) == 0 or len(right) == 0:
            return pd.DataFrame(columns=["id_a", "id_b", "cos_sim"])
        # promote float32 embeddings to float64 BEFORE the matmul: a
        # float32 accumulation carries ~1e-7 relative error — enough to
        # flip >=threshold membership and 5dp rounding vs any engine
        # that folds in double (the r04 flake). float64 leaves only
        # ~1e-15 reassociation noise, far below both boundaries.
        la = np.stack(left["v"].to_numpy()).astype(np.float64)
        rb = np.stack(right["v"].to_numpy()).astype(np.float64)
        la = la / np.linalg.norm(la, axis=1, keepdims=True)
        rb = rb / np.linalg.norm(rb, axis=1, keepdims=True)
        sims = la @ rb.T
        ia, ib = np.where(sims >= threshold)
        id_a = left["id"].to_numpy()[ia]
        id_b = right["id"].to_numpy()[ib]
        if same:
            # full matrix contains self + both mirrors; keep one orientation
            keep = id_a < id_b
        else:
            # each cross-block pair appears exactly once; keep all
            keep = np.ones(len(id_a), dtype=bool)
        return pd.DataFrame(
            {
                "id_a": np.minimum(id_a, id_b)[keep],
                "id_b": np.maximum(id_a, id_b)[keep],
                "cos_sim": sims[ia, ib][keep],
            }
        )

    return (
        pairs_of_blocks.groupBy("ba", "bb")
        .applyInPandas(_block_pair, schema=out_schema)
    )


def embedding_near_dup_lsh(
    emb: DataFrame,
    dim: int,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 4,
    n_bands: int = 16,
    max_bucket_size: int = 1024,
) -> DataFrame:
    """Embedding near-dup, the END-TO-END 100 TB path: banded random-
    hyperplane LSH prefilter → EXACT numpy-matmul verification inside each
    (band, signature) bucket → cross-band pair dedup.

    This is the composition the blocked all-pairs docstring points at:
    instead of n² flops over the corpus, each vector is replicated
    n_bands× and all-pairs runs only WITHIN buckets of expected size
    |corpus|/2^n_planes — total cost ~ n_bands · Σ bucket², linear-ish
    when signatures spread. Two candidate pairs colliding in several
    bands produce identical cosines (a pair's dot product is order-
    independent), so the final groupBy-max dedup is exact. Recall < 1 by
    design (tune n_planes↓ / n_bands↑ for higher recall; the recall test
    pins ≥ 0.6 at cos≥0.4 on the test corpus with these defaults, and
    every emitted pair is exact-verified, so precision is 1 vs the
    all-pairs oracle by construction).

    One shuffle on (band, sig); the signature pass is map-only JVM fold
    arithmetic (`rh_signature`), the verify is Arrow-batched BLAS.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    from .similarity import rh_signature

    out_schema = StructType(
        [
            StructField("id_a", LongType()),
            StructField("id_b", LongType()),
            StructField("cos_sim", DoubleType()),
        ]
    )

    base = emb.select(
        F.col(id_col).cast("long").alias("id"), F.col(vec_col).alias("v")
    )
    # Pack the n_bands·n_planes plane-bits into as few signature WORDS as
    # fit a long (≤ 60 bits each, power-of-two weights stay exact), then
    # slice each band's bits out with shift/mask — one fold per word
    # instead of one per band (measured ~2.9s → sub-second at sf0.1 with
    # 16×4 bits). Plane indexing is identical to per-band signatures
    # (word w's plane j = global plane w·bpw·n_planes + j), so buckets —
    # and therefore recall — are unchanged.
    bands_per_word = max(1, 60 // n_planes)
    n_words = -(-n_bands // bands_per_word)
    words = base.select(
        "id",
        "v",
        *[
            rh_signature(
                F.col("v"),
                dim,
                n_planes * min(bands_per_word, n_bands - w * bands_per_word),
                plane_offset=w * bands_per_word * n_planes,
            ).alias(f"__w{w}")
            for w in range(n_words)
        ],
    )
    mask = (1 << n_planes) - 1
    band_structs = []
    for b in range(n_bands):
        w, lb = divmod(b, bands_per_word)
        band_structs.append(
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(f"__w{w}", lb * n_planes).bitwiseAND(mask).alias("sig"),
            )
        )
    exploded = words.select(
        "id", "v", F.explode(F.array(*band_structs)).alias("bs")
    ).select("id", "v", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig"))

    def _bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame(columns=["id_a", "id_b", "cos_sim"])
        pdf = pdf.sort_values("id")
        ids = pdf["id"].to_numpy()
        mat = np.stack(pdf["v"].to_numpy()).astype(np.float64)
        mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        if len(pdf) <= max_bucket_size:
            sims = mat @ mat.T
            ia, ib = np.where(sims >= threshold)
            keep = ids[ia] < ids[ib]
            return pd.DataFrame(
                {
                    "id_a": ids[ia][keep],
                    "id_b": ids[ib][keep],
                    "cos_sim": sims[ia, ib][keep],
                }
            )
        # degenerate-bucket guard: a mass-duplicated corpus can put
        # nearly everything in one (band, sig) bucket, and the full
        # B×B matmul goes quadratic in ONE task. Bound it: exact
        # all-pairs over the max_bucket_size lowest ids, plus a STAR
        # pass (every remaining member vs that head block, O(B·cap·d))
        # so oversized-bucket members stay reachable from the head for
        # cluster collapse. Pair recall among the un-capped tail is
        # traded for the bound — by construction those members also
        # collide in other bands with probability ≥ the band's, so
        # cross-band union recovers most of it.
        head = mat[:max_bucket_size]
        hsims = head @ head.T
        ia, ib = np.where(hsims >= threshold)
        keep = ia < ib
        frames = [
            pd.DataFrame(
                {
                    "id_a": ids[ia][keep],
                    "id_b": ids[ib][keep],
                    "cos_sim": hsims[ia, ib][keep],
                }
            )
        ]
        tail = mat[max_bucket_size:]
        tids = ids[max_bucket_size:]
        tsims = tail @ head.T  # (B-cap, cap)
        ta, hb = np.where(tsims >= threshold)
        frames.append(
            pd.DataFrame(
                {
                    "id_a": np.minimum(tids[ta], ids[hb]),
                    "id_b": np.maximum(tids[ta], ids[hb]),
                    "cos_sim": tsims[ta, hb],
                }
            )
        )
        return pd.concat(frames, ignore_index=True)

    candidates = exploded.groupBy("band", "sig").applyInPandas(
        _bucket, schema=out_schema
    )
    return candidates.groupBy("id_a", "id_b").agg(F.max("cos_sim").alias("cos_sim"))


def dedup_keep_first(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup, survivor form: the full surviving rows (first id per
    normalized-text fingerprint) rather than the group summary — what a
    training-data pipeline actually materializes downstream. Window
    row_number over the fingerprint key: one shuffle, streaming pass, no
    join back (vs groupBy(min)+join = two shuffles of the wide table)."""
    from pyspark.sql import Window

    w = Window.partitionBy("fingerprint").orderBy(id_col)
    tagged = df.withColumn("fingerprint", fingerprint(F.col(text_col)))
    return (
        tagged.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def _cc_driver(spark, edges: pa.Table, id_type: str) -> DataFrame:
    """Small-graph connected components: union-find (union-by-min root +
    path halving) over a fetched edge list. Invariant preserved from
    the distributed path: a tree's root is always the minimum id in its
    component (union attaches the larger root under the smaller), so
    ``component = min reachable id`` exactly. Returns (node, component)
    with the input id type, as a local relation."""
    parent: dict = {}

    def find(x):
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])  # path halving
            x = parent[x]
        return x

    src, dst = edges.column("src").to_pylist(), edges.column("dst").to_pylist()
    for s, t in zip(src, dst):
        ra, rb = find(s), find(t)
        if ra == rb:
            continue
        if rb < ra:
            ra, rb = rb, ra
        parent[rb] = ra

    return local_frame(
        spark,
        [(n, find(n)) for n in dict.fromkeys(src + dst)],
        f"node {id_type}, component {id_type}",
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Collapse near-dup PAIRS into duplicate CLUSTERS: (node, component)
    where component = min node id reachable through the pair graph — the
    step every production dedup needs between pair emission and survivor
    selection (keep component id, drop the rest).

    Min-label propagation WITH pointer jumping: each round every node
    takes the min of its own and its neighbors' labels, then label-chases
    one hop (component := component of its component) — the path-halving
    step squares the propagation distance, so rounds are O(log diameter)
    instead of O(diameter). Pure joins + groupBy, no graph library.
    The label frame's lineage is broken each round (`reuse`; the plan
    would otherwise double per iteration).

    Convergence detection exploits monotonicity: every node's label is
    non-increasing across rounds (least of own/neighbors, then the jump
    target's label ≤ the label itself), so Σ labels strictly decreases
    until the fixpoint — one tiny sum-aggregate per round on the
    already-broken frame (decimal(38,0): no int64 overflow at any
    node count) replaces a join+count convergence job, which would cost
    as much as the propagation it guards.

    HYBRID small-graph path: upstream pair emission (LSH bucket caps,
    ring degree caps) bounds the edge list far below the corpus size; if
    the deduped symmetric edge list has ≤ `local.DRIVER_ROWS` rows (~2M
    edges ≈ tens of MB), a driver union-find with path halving replaces
    the whole iterative phase — ~10 Spark jobs become the one bounded
    fetch that also decides the path, and the result is a local
    relation. Larger graphs take the distributed rounds unchanged, over
    the edge blocks the fetch filled. This is the standard production
    hybrid (small-graph solve-local, big-graph iterate) — not a
    local[32]-only shortcut.
    """
    # the fetch fills it; every distributed round reuses it, not the pair generation
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionAll(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        .transform(reuse)
    )
    table = fetch_bounded(edges, local.DRIVER_ROWS)
    if table is not None:
        id_type = edges.schema["src"].dataType.simpleString()
        return _cc_driver(pairs.sparkSession, table, id_type)
    labels = edges.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("component")
    ).transform(reuse)
    prev_sum = None
    for it in range(max_iter):
        neigh = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("component").alias("__nc"))
        )
        stepped = labels.join(neigh, labels.node == neigh.src, "left").select(
            "node",
            F.least(
                F.col("component"), F.coalesce(F.col("__nc"), F.col("component"))
            ).alias("component"),
        )
        # pointer jump: component := component's component (labels are
        # always node ids, so the self-join always hits); squares the
        # effective propagation distance per round
        new = (
            stepped.alias("x")
            .join(
                stepped.select(
                    F.col("node").alias("__pn"), F.col("component").alias("__pc")
                ),
                F.col("x.component") == F.col("__pn"),
                "left",
            )
            .select(
                "node",
                F.coalesce(F.col("__pc"), F.col("x.component")).alias("component"),
            )
            .transform(reuse)
        )
        labels = new
        # monotone-sum convergence check: Σ labels decreases strictly
        # until the fixpoint, so an unchanged sum ⟺ no label changed —
        # a scalar agg over the broken frame, no join
        cur_sum = new.agg(
            F.sum(F.col("component").cast("decimal(38,0)")).alias("s")
        ).collect()[0].s
        if prev_sum is not None and cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels


def dedup_keep_best(
    df: DataFrame,
    pairs: DataFrame,
    quality: Column,
    id_col: str = "doc_id",
) -> DataFrame:
    """Survivor selection over near-dup CLUSTERS by QUALITY — the step a
    production curation pipeline runs after pair emission: collapse the
    pair graph into components (`connected_components`) and keep the
    highest-quality member of each (ties → lowest id), not merely the
    lowest id. Singletons (docs in no pair) survive as their own
    component.

    One window pass on the component key yields both the argmax member
    and the member count; the quality expression is evaluated once per
    doc in the same projection, so the composition costs the CC
    iterations + one join + one window shuffle. Returns
    (component, keep_id, n_members, best_q)."""
    comp = connected_components(pairs)
    scored = df.select(F.col(id_col), quality.alias("__q"))
    members = scored.join(
        comp, scored[id_col] == comp["node"], "left"
    ).select(
        id_col,
        F.coalesce(F.col("component"), F.col(id_col)).alias("component"),
        "__q",
    )
    w = Window.partitionBy("component").orderBy(F.col("__q").desc(), F.col(id_col))
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ranked = members.select(
        "component",
        F.col(id_col),
        "__q",
        F.row_number().over(w).alias("__rn"),
        F.count(F.lit(1)).over(wfull).alias("n_members"),
    )
    return ranked.filter(F.col("__rn") == 1).select(
        "component",
        F.col(id_col).alias("keep_id"),
        "n_members",
        F.col("__q").alias("best_q"),
    )


def simhash_near_dup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """Complete the SimHash path from signatures to near-dup PAIRS:
    split each ``bits``-bit signature into ``bands`` equal slices and
    bucket-join on identical slices — by pigeonhole, any pair within
    ``max_hamming ≤ bands − 1`` bit flips MUST agree on at least one
    slice, so banding loses no qualifying pair (this is exact recall,
    unlike probabilistic MinHash banding). Candidates then verify with
    ``bit_count(xor)`` JVM-side; pairs that matched in several bands
    dedupe once.

    Shapes like ``minhash_lsh_pairs``: map-only signatures → band
    explode → bucket groupBy self-join. Bucket population is bounded by
    the corpus's signature diversity; a degenerate slice value (e.g.
    boilerplate-dominated corpora pushing many docs to the same 8-bit
    slice) fans out quadratically, so at 100 TB apply the same
    per-bucket cap + census discipline as ``minhash_lsh_pairs``
    (``lsh_bucket_stats``); left uncapped here because the cap changes
    output semantics and this operator's contract is exact recall.
    """
    assert bits % bands == 0, "bands must divide bits"
    width = bits // bands
    mask = (1 << width) - 1
    sigs = simhash(df, text_col, id_col, bits=bits)
    banded = sigs.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        (
                            F.shiftright(F.col("simhash"), b * width)
                            .bitwiseAND(F.lit(mask))
                        ).alias("slice"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("__bs"),
    ).select(id_col, "simhash", "__bs.band", "__bs.slice")
    left = banded.alias("l")
    right = banded.alias("r")
    pairs = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.slice") == F.col("r.slice"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            F.bit_count(
                F.col("l.simhash").bitwiseXOR(F.col("r.simhash"))
            ).alias("hamming"),
        )
        .where(F.col("hamming") <= int(max_hamming))
        .distinct()
    )
    return pairs


def sorted_neighborhood_pairs(
    df: DataFrame,
    key: Column,
    id_col: str = "doc_id",
    window: int = 4,
    n_chunks: int = 32,
) -> DataFrame:
    """Sorted-Neighborhood Method (SNM) candidate generation — the
    classic windowed-blocking dedup alternative to MinHash/SimHash
    (Hernandez & Stolfo, SIGMOD'95): sort the corpus by a blocking key,
    slide a window of ``window`` rows, and emit every in-window pair.
    Where LSH recall depends on similarity thresholds, SNM recall
    depends on key design — production pipelines run both and union
    the candidate sets.

    Distributed without a single-partition sort: the global row_number
    comes from `chunked.global_rank` (range-chunk on an order-preserving
    4-byte numeric prefix of the key + within-chunk window + broadcast
    offsets), then in-window pairs are ONE equi-join of the ranked frame
    against itself on ``rank + d`` for d in 1..window-1 (an
    `explode(sequence(...))` fan-out — no range join, no theta join).
    Both sides shuffle on the rank key once; pair volume is exactly
    (window-1)·n, independent of key skew — the property that makes SNM
    predictable at 100 TB where a skewed blocking key would explode a
    plain block-join.

    The numeric prefix is order-preserving for ASCII keys (code point
    per byte, 4 bytes packed big-endian); ties beyond 4 chars are
    resolved by the full key within a chunk, which is exact because
    equal prefixes share a chunk. Returns (id_a, id_b, key_a, key_b,
    dist) with dist = rank distance in 1..window-1, id_a ranked before
    id_b.
    """
    keyed = df.select(
        F.col(id_col).alias("__id"), key.alias("__key")
    ).where(key.isNotNull())
    padded = F.rpad(F.col("__key"), 4, " ")
    proxy = sum(
        F.ascii(F.substring(padded, i + 1, 1)) * (256 ** (3 - i)) for i in range(4)
    ).cast("long")
    keyed = keyed.withColumn("__kp", proxy)
    from .chunked import global_rank

    ranked = global_rank(
        keyed,
        "__kp",
        ["__kp", "__key", "__id"],
        n_chunks=n_chunks,
        rank_col="__rn",
        count_col=None,
    )
    left = ranked.select(
        F.col("__id").alias("id_a"), F.col("__key").alias("key_a"), "__rn"
    ).withColumn("__d", F.explode(F.sequence(F.lit(1), F.lit(window - 1))))
    right = ranked.select(
        F.col("__id").alias("id_b"),
        F.col("__key").alias("key_b"),
        F.col("__rn").alias("__rn_b"),
    )
    return (
        left.withColumn("__rn_b", F.col("__rn") + F.col("__d"))
        .join(right, "__rn_b")
        .select("id_a", "id_b", "key_a", "key_b", F.col("__d").cast("long").alias("dist"))
    )
