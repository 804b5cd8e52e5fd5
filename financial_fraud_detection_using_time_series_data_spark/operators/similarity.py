"""Similarity search over embedding columns (SURVEY §7 M8).

- Brute-force cosine top-k: the exact baseline. Query set × corpus join;
  dot/norm via `aggregate`/`zip_with` (JVM, codegen) — no Python.
- LSH-bucketed ANN: random-hyperplane signatures (sign of dot with
  deterministic pseudo-random planes) → candidates share a signature
  prefix bucket → exact re-rank inside buckets. The 100 TB path: the
  cross-join collapses from |Q|×|C| to |Q|×bucket_size.

Planes are derived from md5-seeded hashes (deterministic, no RNG state),
so results are reproducible across runs and cluster sizes.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.exprs import r6
from ..functions.local import local_frame


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / F.nullif(norm(a) * norm(b), F.lit(0.0))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
) -> DataFrame:
    """Exact cosine top-k per query. Queries are broadcast (small side);
    the corpus scan is the only big pass; per-query top-k via window rank
    (AQE handles the skewless groupBy)."""
    # round 12: |Q| cosine folds per corpus row; fan_out spreads a
    # single-split corpus before the map (no-op at scale)
    from ..sources.tables import fan_out

    q = queries.select(F.col(qid_col), F.col(vec_col).alias("qvec"))
    joined = fan_out(corpus).crossJoin(F.broadcast(q)).filter(
        F.col(id_col) != F.col(qid_col)
    )
    scored = joined.select(
        qid_col,
        id_col,
        r6(cosine(F.col(vec_col), F.col("qvec"))).alias("cos_sim"),
    )
    w = Window.partitionBy(qid_col).orderBy(F.col("cos_sim").desc(), F.col(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _plane(dim: int, plane_idx: int) -> list[float]:
    """Deterministic pseudo-random hyperplane component in [-1,1] derived
    from md5 — stable across sessions, no RNG."""
    import hashlib

    vals = []
    for j in range(dim):
        h = hashlib.md5(f"plane:{plane_idx}:{j}".encode()).hexdigest()
        vals.append(int(h[:8], 16) / float(0xFFFFFFFF) * 2.0 - 1.0)
    return vals


def rh_signature(
    vec: Column,
    dim: int,
    n_planes: int = 8,
    band: int = 0,
    plane_offset: int | None = None,
) -> Column:
    """Random-hyperplane LSH signature as an int (bit b = sign of dot with
    plane b).

    The whole n_planes×dim matrix ships as ONE nested literal + a single
    indexed transform/aggregate — the per-plane form was n_planes·dim
    separate `lit()` py4j calls (~1s of driver time at 6×64) and a
    correspondingly huge codegen unit. `vec` must be a plain attribute
    (HOF lambdas re-evaluate captured expressions per element)."""
    # one py4j call: ship the whole matrix as SQL text, parsed JVM-side
    # into a foldable array literal (F.lit on a nested python list walks
    # every element through py4j — ~0.3s at 6×64)
    # `band` (or an explicit `plane_offset`) offsets the plane seeds so
    # multi-band LSH (banded dedup) gets independent signatures; band=0
    # reproduces the historical planes. plane_offset exists for packed
    # multi-band words whose plane range doesn't start at a multiple of
    # the call's own n_planes.
    offset = plane_offset if plane_offset is not None else band * n_planes
    matrix_sql = "array({})".format(
        ", ".join(
            "array({})".format(
                ", ".join(f"{v!r}D" for v in _plane(dim, offset + b))
            )
            for b in range(n_planes)
        )
    )
    planes = F.expr(matrix_sql)
    # shiftleft needs a literal shift amount, so weight by 2^i instead
    # (exact in double for i < 53, cast back to long)
    bits = F.transform(
        planes,
        lambda p, i: (dot(vec, p) > 0).cast("long")
        * F.pow(F.lit(2.0), i.cast("double")).cast("long"),
    )
    return F.aggregate(bits, F.lit(0).cast("long"), lambda acc, b: acc + b)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
) -> DataFrame:
    """ANN top-k: candidates share the hyperplane-signature bucket; exact
    cosine re-rank within the bucket. Recall < 1.0 by design; bucket count
    2^n_planes bounds the join fan-out."""
    # coalesce(.., sentinel): the bucket join key is otherwise nullable,
    # the inner join derives IsNotNull(bucket), and filter pushdown
    # re-inlines the FULL n_planes x dim signature fold into a Filter on
    # BOTH sides — every row paid the signature twice (round 13,
    # plan-verified). Signatures are >= 0; distinct sentinels per side
    # keep NULL-never-matches semantics for contract-violating rows.
    c = corpus.withColumn(
        "bucket",
        F.coalesce(rh_signature(F.col(vec_col), dim, n_planes), F.lit(-1)),
    )
    q = queries.select(
        F.col(qid_col),
        F.col(vec_col).alias("qvec"),
    ).withColumn(
        "bucket",
        F.coalesce(rh_signature(F.col("qvec"), dim, n_planes), F.lit(-2)),
    )
    joined = c.join(F.broadcast(q), "bucket").filter(F.col(id_col) != F.col(qid_col))
    scored = joined.select(
        qid_col,
        id_col,
        r6(cosine(F.col(vec_col), F.col("qvec"))).alias("cos_sim"),
    )
    w = Window.partitionBy(qid_col).orderBy(F.col("cos_sim").desc(), F.col(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _matrix_sql(rows: list[list[float]]) -> str:
    return "array({})".format(
        ", ".join(
            "array({})".format(", ".join(f"{float(v)!r}D" for v in row))
            for row in rows
        )
    )


def _matrix_literal(rows: list[list[float]]) -> Column:
    """Ship a small float matrix as ONE SQL-text array literal (single py4j
    call, parsed JVM-side) — the nested-`lit` form walks every element
    through py4j and bloats codegen (see `rh_signature`)."""
    return F.expr(_matrix_sql(rows))


# SQL-text twins of dot/norm/cosine for the literal-matrix hot paths.
# Python-side HOF construction (F.transform/zip_with/aggregate lambdas)
# costs ~5 py4j round trips PER lambda; an expression like per-row
# centroid argmax builds dozens of them, adding ~1.5s of pure
# driver-side plan construction per query (measured). One F.expr parse
# of the same tree is a single round trip, and the parsed plan — hence
# every result bit — is identical to the Column form.


def _dot_sql(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * "
        f"cast(y as double)), 0.0D, (acc, v) -> acc + v)"
    )


def _norm_sql(a: str) -> str:
    return f"sqrt({_dot_sql(a, a)})"


def _cosine_sql(a: str, b: str) -> str:
    return f"({_dot_sql(a, b)} / nullif({_norm_sql(a)} * {_norm_sql(b)}, 0.0D))"


def _norms_py(rows: list[list[float]]) -> list[float]:
    """Python twin of `_norm_sql` over a literal matrix: the same
    left-to-right `acc + x*x` double fold and one IEEE sqrt — the result
    bits are identical to evaluating `_norm_sql(c)` in the JVM, which is
    what lets `_sims_vs_matrix_sql` hoist the per-cell norms out of the
    per-row loop without moving a single output ulp."""
    import math

    out = []
    for row in rows:
        acc = 0.0
        for v in row:
            fv = float(v)
            acc += fv * fv
        out.append(math.sqrt(acc))
    return out


def _sims_vs_matrix_sql(vec: str, vn: str, rows: list[list[float]]) -> str:
    """Per-cell cosine sims of one row vector against a literal matrix,
    with BOTH norm factors hoisted (round 13, guide §1.2 per-task work):
    the naive `transform(matrix, c -> cosine(vec, c))` recomputes
    norm(c) — a dim-long fold + sqrt — per ROW per CELL at runtime
    (Catalyst does not constant-fold under a lambda binder), and
    norm(vec) per CELL. Here the cell norms are Python-precomputed
    literals (`_norms_py`, bit-identical) and the row norm arrives as
    the ``vn`` column computed once per row, so each cell costs exactly
    one dot product: ~3x fewer flops on every corpus row at any scale.
    Division/multiplication order matches `_cosine_sql(vec, c)` exactly
    (vn * norm_c), so every sim bit is unchanged (oracle-hash pinned)."""
    norms_lit = "array({})".format(
        ", ".join(f"{n!r}D" for n in _norms_py(rows))
    )
    return (
        f"transform({_matrix_sql(rows)}, (c, i) -> "
        f"({_dot_sql(vec, 'c')} / "
        f"nullif({vn} * element_at({norms_lit}, i + 1), 0.0D)))"
    )


def assign_cells(
    corpus: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Tag each row with the argmax-cosine centroid index — MAP-ONLY.

    The centroid matrix is a foldable literal, so assignment is a pure
    projection: no crossJoin, no shuffle, no window. At 100 TB this is the
    difference between a free pass over the scan and materializing
    nlist×|C| join rows. Ties take the lowest cell index
    (`array_position` returns the first exact match)."""
    from ..sources.tables import fan_out

    # round 13: per-cell norms precomputed as literals, row norm hoisted
    # to ONE column (see _sims_vs_matrix_sql) — each cell now costs one
    # dot product instead of dot + two dim-long norm folds. Sim bits
    # identical (same op order), so assignment — and k-means training
    # built on it — is unchanged.
    sims = F.expr(
        _sims_vs_matrix_sql(f"`{vec_col}`", "__vn", centroids)
    )
    # layered select: materialize sims once; array_max + array_position
    # would otherwise each re-expand the 64-term cosine fold.
    # fan_out: the per-row argmax costs nlist×dim flops, so a
    # single-split scan must spread before this map (no-op at scale);
    # assignment is per-row deterministic, so results are bit-identical
    # under any partitioning.
    # cell_id is wrapped in coalesce(..., -1) to make it provably
    # NON-NULLABLE (round 13): the downstream inner join on cell_id
    # otherwise derives an IsNotNull(cell_id) constraint, and filter
    # pushdown re-inlines the FULL argmax expression — sims and all —
    # into a Filter below this Project, so every corpus row paid the
    # 16x64 cosine fold ~3x (plan-verified: the literal matrix appeared
    # inside Filter conditions). -1 equi-joins nothing, exactly like
    # NULL, and array_position cannot return 0 on a non-empty sims
    # array, so results are bit-identical (oracle-hash pinned).
    return (
        fan_out(corpus)
        .withColumn(
            "__vn", F.expr(_norm_sql(f"`{vec_col}`"))
        )
        .withColumn("__sims", sims)
        .withColumn(
            "cell_id",
            F.coalesce(
                (
                    F.array_position(
                        F.col("__sims"), F.array_max(F.col("__sims"))
                    )
                    - 1
                ).cast("int"),
                F.lit(-1),
            ),
        )
        .drop("__sims", "__vn")
    )


def kmeans_centroids(
    corpus: DataFrame,
    nlist: int = 16,
    n_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Lloyd refinement of the IVF seed centroids, DataFrame-native.

    Per iteration (one Spark job each):
      1. `assign_cells` — map-only argmax over the literal centroid matrix.
      2. element-wise cell means via `posexplode` → groupBy(cell, pos) avg.
         The explode is dim×|C| rows, but hash aggregation combines
         map-side, so the shuffle carries only ~partitions·nlist·dim
         partial rows — bytes independent of |C|.
      3. the nlist·dim means are collected (a few KB) and re-shipped as the
         next literal matrix, so iteration N does not lazily recompute
         iterations 1..N-1 (the classic iterative-lineage trap).
    Empty cells keep their previous centroid. Seeds are the first nlist
    vectors by id — deterministic, no RNG (reference trains no ANN index;
    this is the scale path for `src/models`-style embedding retrieval).

    Returns plain Python lists so callers can feed `ivf_topk(centroids=...)`
    or persist them as a model artifact.
    """
    seeds = (
        corpus.orderBy(id_col)
        .limit(nlist)
        .select(F.col(vec_col).alias("v"))
        .collect()
    )
    cents = [[float(x) for x in r.v] for r in seeds]
    for _ in range(n_iter):
        assigned = assign_cells(corpus, cents, vec_col)
        # means via integer pico-unit decimal sums, NOT F.avg(double):
        # assign_cells fans a narrow scan out to many partitions, and a
        # float sum's merge order follows shuffle-fetch order — training
        # would stop being bit-reproducible run-to-run. The 1e-12
        # quantization is far below any recall-relevant resolution.
        means = (
            assigned.select("cell_id", F.posexplode(F.col(vec_col)).alias("pos", "x"))
            .groupBy("cell_id", "pos")
            .agg(
                F.sum(
                    F.floor(F.col("x") * 1e12 + F.lit(0.5)).cast("decimal(28,0)")
                ).alias("__s"),
                F.count(F.lit(1)).alias("__n"),
            )
            .select(
                "cell_id",
                "pos",
                (F.col("__s").cast("double") / F.lit(1e12) / F.col("__n")).alias("m"),
            )
            .collect()
        )
        new = [list(c) for c in cents]
        for r in means:
            # zero-norm vectors carry assign_cells' -1 sentinel; a negative
            # index would silently overwrite the last centroid
            if 0 <= r.cell_id < len(new):
                new[r.cell_id][r.pos] = float(r.m)
        cents = new
    return cents


def save_centroids(spark, centroids: list[list[float]], path: str) -> None:
    """Persist a trained IVF index as parquet (S5 model-artifact analog):
    build once on the cluster, reload for any later search job."""
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(centroids)]
    local_frame(
        spark, rows, "cell_id int, centroid array<double>"
    ).repartition(1).write.mode("overwrite").parquet(path)


def load_centroids(spark, path: str) -> list[list[float]]:
    """Reload a persisted IVF index (nlist·dim scalars — a driver-safe
    collect by construction)."""
    rows = spark.read.parquet(path).orderBy("cell_id").collect()
    return [[float(x) for x in r.centroid] for r in rows]


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    nlist: int = 16,
    nprobe: int = 4,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
    exclude_self: bool = True,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF-style ANN: partition the corpus into nlist cells (nearest
    seed centroid), probe only the nprobe cells nearest each query, exact
    cosine re-rank within probed cells.

    With ``centroids`` (e.g. from `kmeans_centroids`) BOTH the corpus
    assignment and the query probe become map-only projections over the
    literal centroid matrix — no crossJoin, no window; the only shuffle
    left is the cell_id join. That is the 100 TB shape: index once with
    k-means, then every search pass is scan + one bounded join.

    ``exclude_self=True`` (default) assumes queries are drawn FROM the
    corpus and share its id space, dropping the trivial self-match by id
    equality. Pass ``exclude_self=False`` when query ids live in an
    independent domain — otherwise a legitimate neighbor whose vec_id
    happens to collide with a qid would be silently dropped.

    Seeds are the first nlist vectors by id — deterministic, no RNG/k-means
    state (a Lloyd refinement would slot in here as an iterative groupBy-
    average; seeds keep the operator reproducible for the harness). The
    centroid table is nlist rows → broadcast twice (assignment + probe);
    the corpus is scanned once to assign cells and shuffles once on
    cell_id. Join fan-out is |Q|·nprobe·cell_size ≪ |Q|·|C| — the scale
    win over brute force. Recall < 1 by design (rows-only check).
    """
    if centroids is not None:
        assigned = assign_cells(corpus, centroids, vec_col).select(
            id_col, vec_col, "cell_id"
        )
        probes = _probe_cells(queries, centroids, nprobe, qid_col, vec_col)
        return _ivf_rerank(
            assigned, probes, k, id_col, vec_col, qid_col, exclude_self
        )
    # partitionless window is safe here: its input is the nlist-row
    # (≤ dozens) centroid seed set, not the corpus
    w_id = Window.orderBy(F.col(id_col))
    cents = (
        corpus.orderBy(id_col).limit(nlist)
        .select(
            (F.row_number().over(w_id) - 1).alias("cell_id"),
            F.col(vec_col).alias("cvec"),
        )
    )
    # assign: argmax cosine over the broadcast centroid table
    w_assign = Window.partitionBy(id_col).orderBy(F.col("__sim").desc(), F.col("cell_id"))
    assigned = (
        corpus.crossJoin(F.broadcast(cents))
        .withColumn("__sim", cosine(F.col(vec_col), F.col("cvec")))
        .withColumn("__rn", F.row_number().over(w_assign))
        .filter(F.col("__rn") == 1)
        .select(id_col, vec_col, "cell_id")
    )
    # probe: nprobe nearest cells per query
    q = queries.select(qid_col, F.col(vec_col).alias("qvec"))
    w_probe = Window.partitionBy(qid_col).orderBy(F.col("__sim").desc(), F.col("cell_id"))
    probes = (
        q.crossJoin(F.broadcast(cents))
        .withColumn("__sim", cosine(F.col("qvec"), F.col("cvec")))
        .withColumn("__rn", F.row_number().over(w_probe))
        .filter(F.col("__rn") <= nprobe)
        .select(qid_col, "qvec", "cell_id")
    )
    # search only within probed cells
    return _ivf_rerank(assigned, probes, k, id_col, vec_col, qid_col, exclude_self)


def _probe_cells(
    queries: DataFrame,
    centroids: list[list[float]],
    nprobe: int,
    qid_col: str,
    vec_col: str,
) -> DataFrame:
    """Top-nprobe cells per query, MAP-ONLY — rank the sims array itself
    (sort structs of (-sim, idx): desc sim, asc cell on ties, matching
    the window path's tie-break). Output: (qid, qvec, cell_id)."""
    q = queries.select(qid_col, F.col(vec_col).alias("qvec"))
    # norms hoisted as in assign_cells — bit-identical sims
    sims = F.expr(_sims_vs_matrix_sql("qvec", "__vn", centroids))
    return (
        q.withColumn("__vn", F.expr(_norm_sql("qvec")))
        .withColumn("__sims", sims)
        .withColumn(
            "__top",
            F.slice(
                F.array_sort(
                    F.transform(
                        F.col("__sims"),
                        lambda s, i: F.struct((-s).alias("n"), i.alias("i")),
                    )
                ),
                1,
                nprobe,
            ),
        )
        .select(
            qid_col,
            "qvec",
            # explode_outer: plain explode derives a size(__top) > 0
            # guard which filter-pushdown re-inlines as the FULL
            # sims-sort-slice expression per query row; __top is never
            # empty (nprobe >= 1 over a non-empty centroid list), so
            # the outer form is row-identical and skips the re-eval.
            F.explode_outer(F.col("__top")).alias("__t"),
        )
        .select(
            qid_col,
            "qvec",
            # -2, not -1: the assign side's sentinel is -1, and the two
            # must differ so a (contract-violating) null-embedding row
            # on each side can never equi-join the other — preserving
            # the old NULL-never-matches semantics exactly.
            F.coalesce(F.col("__t.i").cast("int"), F.lit(-2)).alias(
                "cell_id"
            ),
        )
    )


def _ivf_rerank(
    assigned: DataFrame,
    probes: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    qid_col: str,
    exclude_self: bool,
) -> DataFrame:
    """Exact cosine re-rank within probed cells; probes (|Q|·nprobe rows)
    are the broadcast side of the single cell_id join."""
    joined = assigned.join(F.broadcast(probes), "cell_id")
    if exclude_self:
        joined = joined.filter(F.col(id_col) != F.col(qid_col))
    scored = joined.select(
        qid_col, id_col, r6(cosine(F.col(vec_col), F.col("qvec"))).alias("cos_sim")
    )
    w_rank = Window.partitionBy(qid_col).orderBy(F.col("cos_sim").desc(), F.col(id_col))
    return scored.withColumn("rank", F.row_number().over(w_rank)).filter(F.col("rank") <= k)


# ---------------------------------------------------------------------------
# Product quantization (IVF-PQ style compressed ANN)


def _normalized(vec_col: str) -> Column:
    v = F.col(vec_col)
    n = F.sqrt(dot(v, v))
    return F.transform(v, lambda x: x.cast("double") / F.nullif(n, F.lit(0.0)))


def _subdists_sql(sub: str, book: list[list[float]]) -> str:
    """Per-codeword squared-L2 distances of one subvector, as SQL text
    (see the `_dot_sql` note: one parse beats dozens of py4j lambda
    round trips; the parsed tree is identical to the Column form)."""
    return (
        f"transform({_matrix_sql(book)}, "
        f"c -> aggregate(zip_with({sub}, c, (x, y) -> (x - y) * (x - y)), "
        f"0.0D, (acc, d) -> acc + d))"
    )


def _argmin_code_sql(sub: str, book: list[list[float]]) -> str:
    d = _subdists_sql(sub, book)
    return f"cast(array_position({d}, array_min({d})) - 1 as int)"


def pq_train(
    corpus: DataFrame,
    dim: int,
    m: int = 8,
    ksub: int = 16,
    n_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Train product-quantization codebooks: split the (L2-normalized)
    vector into m subspaces of dim/m and run L2 k-means with ksub
    centroids in each.

    Normalizing first makes the additive-dot reconstruction rank by
    COSINE: cos(q, x) ∝ dot(q, x̂) = Σ_j dot(q_j, x̂_j), and each x̂_j is
    replaced by its nearest codeword. Returns m codebooks of
    ksub×(dim/m) plain floats — a few KB, the persistable index.

    Scale shape: ONE Spark job per Lloyd iteration REGARDLESS of m — all
    m subspace assignments are map-only argmin projections in a single
    select, exploded to (subspace, cell, pos, x) rows whose groupBy
    mean combines map-side, so the shuffle carries ~partitions·m·ksub·
    dsub = partitions·dim·ksub partial rows however big the corpus. The
    per-subspace-sequential formulation costs m× the jobs (and m× full
    scans) for identical results. Seeds are the first ksub vectors by id
    — deterministic, no RNG. Means are collected (m·ksub·dsub doubles, a
    few KB) and re-shipped as literals each iteration, so iteration N
    does not lazily recompute 1..N-1."""
    from ..sources.tables import fan_out

    assert dim % m == 0, "dim must divide into m subspaces"
    dsub = dim // m
    normed = fan_out(corpus).select(id_col, _normalized(vec_col).alias("__v"))
    seed_rows = normed.orderBy(id_col).limit(ksub).collect()
    books = [
        [[float(x) for x in r["__v"][j * dsub : (j + 1) * dsub]] for r in seed_rows]
        for j in range(m)
    ]
    for _ in range(n_iter):
        structs = []
        for j, book in enumerate(books):
            sub = f"slice(__v, {j * dsub + 1}, {dsub})"
            structs.append(
                F.expr(
                    f"struct({j} as sub, "
                    f"{_argmin_code_sql(sub, book)} as cell, {sub} as vals)"
                )
            )
        # order-invariant means (see kmeans_centroids): pico-unit decimal
        # sums keep multi-partition training bit-reproducible
        means = (
            normed.select(F.explode(F.array(*structs)).alias("s"))
            .select("s.sub", "s.cell", F.posexplode("s.vals").alias("pos", "x"))
            .groupBy("sub", "cell", "pos")
            .agg(
                F.sum(
                    F.floor(F.col("x") * 1e12 + F.lit(0.5)).cast("decimal(28,0)")
                ).alias("__s"),
                F.count(F.lit(1)).alias("__n"),
            )
            .select(
                "sub",
                "cell",
                "pos",
                (F.col("__s").cast("double") / F.lit(1e12) / F.col("__n")).alias(
                    "mval"
                ),
            )
            .collect()
        )
        new = [[list(c) for c in book] for book in books]
        for r in means:
            new[r.sub][r.cell][r.pos] = float(r.mval)
        books = new
    return books


def pq_encode(
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Encode each vector as m codeword indices — the 100 TB compression
    step: the search scan then reads m small ints per row instead of dim
    floats (8 codes vs 64 floats = 32× less IO at the defaults), and the
    codes column is what you'd materialize next to (or instead of) the
    raw embeddings. Map-only: one argmin-L2 projection per subspace over
    a foldable codebook literal; no shuffle, no Python.

    ``keep``: extra columns carried through unchanged (e.g. the IVF
    ``cell_id`` when building a composed IVF×PQ index)."""
    from ..sources.tables import fan_out

    dsub = len(codebooks[0][0])
    # m×ksub×dsub flops per row — spread a narrow scan first (no-op at
    # scale); encoding is per-row deterministic under any partitioning
    row = fan_out(corpus).select(id_col, *keep, _normalized(vec_col).alias("__v"))

    # ONE select + ONE parsed expression for all m codes — a
    # withColumn-per-subspace loop re-analyzes a plan whose expressions
    # embed the full ksub×dsub codebook literals on every pass, i.e.
    # O(m²) driver-side analysis over kilobyte expression trees
    # (measured ~1.5s of pure plan-build at m=8; the data job itself is
    # milliseconds at small SF)
    codes = ", ".join(
        _argmin_code_sql(f"slice(__v, {j * dsub + 1}, {dsub})", book)
        for j, book in enumerate(codebooks)
    )
    return row.select(id_col, *keep, F.expr(f"array({codes})").alias("codes"))


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
    codes: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric-distance ANN top-k over PQ codes: the query stays
    full-precision, every corpus vector is reconstructed from its m
    codewords inside the scoring expression — approx cos(q, x) =
    Σ_j dot(q_j, codebook_j[code_j]) / ‖q‖.

    Scale shape: the corpus side touches ONLY (id, codes) — the
    compressed index — broadcast-joins the (small) query set, and ranks
    with the same per-query window as `brute_force_topk`. Codebooks ride
    along as foldable literals. Pass a pre-materialized ``codes`` frame
    (from `pq_encode`, typically persisted) to skip re-encoding; recall
    < 1 by design (quantization distortion), so this is rows-only
    checked with a recall-floor test."""
    if codes is None:
        codes = pq_encode(corpus, codebooks, id_col, vec_col)
    q = queries.select(F.col(qid_col), F.col(vec_col).alias("qvec"))
    joined = codes.crossJoin(F.broadcast(q)).filter(F.col(id_col) != F.col(qid_col))
    scored = joined.select(
        qid_col,
        id_col,
        r6(_adc_cosine(codebooks)).alias("cos_approx"),
    )
    w = Window.partitionBy(qid_col).orderBy(F.col("cos_approx").desc(), F.col(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _adc_cosine(codebooks: list[list[list[float]]]) -> Column:
    """Asymmetric-distance cosine over a (qvec, codes) row:
    approx cos(q, x) = Σ_j dot(q_j, codebook_j[code_j]) / ‖q‖ — the
    query stays full-precision, the corpus vector is reconstructed
    codeword-by-codeword inside the expression (codebooks are foldable
    literals)."""
    dsub = len(codebooks[0][0])
    terms = " + ".join(
        _dot_sql(
            f"slice(qvec, {j * dsub + 1}, {dsub})",
            f"element_at({_matrix_sql(book)}, codes[{j}] + 1)",
        )
        for j, book in enumerate(codebooks)
    )
    return F.expr(f"(({terms}) / nullif(sqrt({_dot_sql('qvec', 'qvec')}), 0.0D))")


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    nprobe: int = 4,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
    exclude_self: bool = True,
    index: DataFrame | None = None,
) -> DataFrame:
    """IVF×PQ composed ANN — the production shape (FAISS IVFPQ analog):
    probe the ``nprobe`` cells nearest each query, then ADC-score ONLY
    the PQ codes of the probed cells' members. Search IO per query is
    nprobe/nlist of the corpus × m bytes of codes per row — both the
    candidate-set bound (IVF) and the per-row bound (PQ) compose.

    Plan shape: the (id, cell_id, codes) index scans WITHOUT the raw
    embedding column; probes (|Q|·nprobe rows, map-only over the literal
    centroid matrix) broadcast into the single cell_id join; no
    crossJoin anywhere; per-query window resolves top-k. Pass a
    pre-materialized ``index`` (from
    ``pq_encode(assign_cells(...), keep=("cell_id",))``, typically
    persisted parquet) to skip re-encoding — then the search job never
    reads embeddings at all. Recall < 1 by design (cell pruning ×
    quantization distortion): rows-only + recall-floor checked."""
    if index is None:
        assigned = assign_cells(corpus, centroids, vec_col)
        index = pq_encode(assigned, codebooks, id_col, vec_col, keep=("cell_id",))
    probes = _probe_cells(queries, centroids, nprobe, qid_col, vec_col)
    joined = index.join(F.broadcast(probes), "cell_id")
    if exclude_self:
        joined = joined.filter(F.col(id_col) != F.col(qid_col))
    scored = joined.select(
        qid_col,
        id_col,
        r6(_adc_cosine(codebooks)).alias("cos_approx"),
    )
    w = Window.partitionBy(qid_col).orderBy(F.col("cos_approx").desc(), F.col(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def mmr_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    pool: int = 50,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
    max_pool: int = 4096,
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998): from each query's top-``pool`` cosine candidates, greedily
    pick ``k`` maximizing λ·sim(q, d) − (1−λ)·max_{s∈selected}
    sim(d, s) — the diversity pass that keeps a retrieval-augmented
    training batch from being ``k`` near-copies of the same document.

    Scale shape: candidate generation is the existing distributed
    `brute_force_topk` (swap in `ivf_topk`/`pq_topk` upstream at
    scale); the inherently-sequential greedy then runs per query inside
    ONE `applyInPandas` group — a ``pool``-sized numpy problem per
    query, parallel ACROSS queries, never on the driver. The pairwise
    candidate-similarity matrix is pool² ≈ 2500 floats.

    Deterministic: ties on the MMR score break on lowest id (exact
    match with the reference greedy pinned in tests).

    ``max_pool`` bounds the per-query task: the greedy materializes a
    pool² float similarity matrix inside one Arrow group, so an
    unbounded pool balloons a single task (4096² ≈ 134 MB is the loud
    ceiling). Oversized pools are a knob defect, not data — raise
    rather than silently truncate (same contract as
    `events.attribution_markov`'s ``max_channels``).
    """
    import numpy as np
    import pandas as pd

    if pool > max_pool:
        raise ValueError(
            f"mmr_rerank: pool={pool} exceeds max_pool={max_pool}; the "
            "per-query greedy holds a pool^2 similarity matrix in one "
            "task. Rerank a smaller candidate pool (IVF/PQ upstream) or "
            "raise max_pool explicitly."
        )
    cands = brute_force_topk(
        corpus, queries, k=pool, id_col=id_col, vec_col=vec_col, qid_col=qid_col
    )
    with_vec = cands.join(
        corpus.select(F.col(id_col), F.col(vec_col).alias("__cv")), id_col
    )
    schema = f"{qid_col} long, {id_col} long, mmr_rank int, cos_sim double, mmr_score double"

    def _greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        ids = pdf[id_col].to_numpy()
        rel = pdf["cos_sim"].to_numpy(dtype=np.float64)
        V = np.stack(pdf["__cv"].to_numpy()).astype(np.float64)
        nrm = np.linalg.norm(V, axis=1)
        nrm[nrm == 0.0] = 1.0
        Vn = V / nrm[:, None]
        S = Vn @ Vn.T                      # candidate-candidate cosine
        n = len(ids)
        chosen: list[int] = []
        max_sim = np.full(n, -np.inf)
        out_rows = []
        for rank in range(1, min(k, n) + 1):
            if chosen:
                score = lam * rel - (1.0 - lam) * max_sim
            else:
                score = lam * rel
            score[chosen] = -np.inf
            best = int(np.argmax(score))   # argmax takes first (lowest id) on ties
            chosen.append(best)
            out_rows.append(
                (int(pdf[qid_col].iloc[0]), int(ids[best]), rank,
                 float(rel[best]), float(score[best]))
            )
            max_sim = np.maximum(max_sim, S[:, best])
        return pd.DataFrame(
            out_rows, columns=[qid_col, id_col, "mmr_rank", "cos_sim", "mmr_score"]
        )

    return with_vec.groupBy(qid_col).applyInPandas(_greedy, schema=schema)


def topk_recall(
    exact: DataFrame,
    approx: DataFrame,
    k: int,
    qid_col: str = "qid",
    id_col: str = "vec_id",
) -> DataFrame:
    """Recall@k of an ANN result against the exact top-k — the eval a
    production vector pipeline runs after every index rebuild (recall
    regressions are silent: the ANN still returns k plausible rows).

    Both inputs are (qid, id[, ...]) top-k frames; recall@k =
    |approx ∩ exact| / |exact| per query (denominator = the exact list
    size, ≤ k when the corpus is small). One semi-join + two tiny
    groupBys on the |queries|·k frames — the corpora are never touched.
    Returns per-query rows plus a qid = −1 summary row with the mean.
    """
    e = exact.select(F.col(qid_col), F.col(id_col))
    a = approx.select(F.col(qid_col), F.col(id_col))
    hits = a.join(e, [qid_col, id_col], "left_semi").groupBy(qid_col).agg(
        F.count(F.lit(1)).alias("__hits")
    )
    base = e.groupBy(qid_col).agg(F.count(F.lit(1)).alias("__n"))
    per_q = base.join(hits, qid_col, "left").select(
        F.col(qid_col),
        F.col("__n").cast("long").alias("n_exact"),
        F.coalesce(F.col("__hits"), F.lit(0)).cast("long").alias("n_hit"),
        (F.coalesce(F.col("__hits"), F.lit(0)) / F.col("__n")).alias("recall_at_k"),
    )
    summary = per_q.agg(
        F.lit(-1).cast(per_q.schema[qid_col].dataType.simpleString()).alias(qid_col),
        F.sum("n_exact").cast("long").alias("n_exact"),
        F.sum("n_hit").cast("long").alias("n_hit"),
        (F.sum("n_hit") / F.sum("n_exact")).alias("recall_at_k"),
    )
    return per_q.unionByName(summary)


def label_centroid_similarity(
    emb: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Inter-class centroid cosine matrix: mean embedding per label,
    then pairwise cosine between centroids — the embedding-space
    confusion diagnostic (two labels whose centroids sit at cos ≥ 0.9
    will be inseparable for any downstream linear head; near-duplicate
    label definitions show up here before any model is trained).

    Element sums fold integer micro-units per (label, dimension) —
    float vector sums drift with aggregation order, this doesn't. The
    corpus pass is one explode → (label, pos) aggregate (map-side
    combined, |labels|·dim cells); the pairwise cosine runs on the
    |labels|²·dim joined cell frame with micro-nat dot folds —
    driver-scale for any sane label count. Upper triangle only
    (label_a < label_b).
    """
    cells = (
        emb.select(
            F.col(label_col).alias("lab"),
            F.posexplode(F.col(vec_col)).alias("pos", "v"),
        )
        .groupBy("lab", "pos")
        .agg(
            F.sum(
                F.floor(F.col("v").cast("double") * F.lit(1e6) + F.lit(0.5)).cast(
                    "decimal(38,0)"
                )
            ).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "lab",
            "pos",
            (F.col("s").cast("double") / F.lit(1e6) / F.col("n")).alias("c"),
        )
    )
    a = cells.select(
        F.col("lab").alias("label_a"), "pos", F.col("c").alias("ca")
    )
    b = cells.select(
        F.col("lab").alias("label_b"), "pos", F.col("c").alias("cb")
    )
    j = a.join(b, "pos").where(F.col("label_a") < F.col("label_b"))

    def fold(c):
        return F.sum(
            F.floor(c * F.lit(1e12) + F.lit(0.5)).cast("decimal(38,0)")
        ).cast("double") / F.lit(1e12)

    dots = j.groupBy("label_a", "label_b").agg(
        fold(F.col("ca") * F.col("cb")).alias("dot"),
        fold(F.col("ca") * F.col("ca")).alias("na"),
        fold(F.col("cb") * F.col("cb")).alias("nb"),
    )
    return dots.select(
        "label_a",
        "label_b",
        (
            F.col("dot")
            / F.sqrt(F.col("na"))
            / F.sqrt(F.col("nb"))
        ).alias("cos_sim"),
    ).orderBy("label_a", "label_b")


def quantize_audit(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 8,
) -> DataFrame:
    """Int-quantization fidelity audit per embedding: symmetric per-
    vector quantization (scale = max|x| / qmax, q = round(x/scale)
    clamped to ±qmax) and the reconstruction error it would cost — the
    go/no-go table before shipping an int8 ANN index (4× memory, but
    HOW much recall risk?). Pairs with `pq_topk`'s codebook path: this
    audits the scalar-quantization alternative.

    Everything is JVM array built-ins (transform/aggregate) — map-only,
    scan-speed, no Python. Error sums fold SEQUENTIALLY left-to-right
    over each array (the `embedding_near_dup` contract), bit-identical
    to DuckDB list folds. Zero vectors report NULL errors (nothing to
    reconstruct). Returns per vector: (id, dim, norm, scale,
    rel_err_l2, max_abs_err, n_saturated).
    """
    if not 2 <= int(bits) <= 16:
        raise ValueError(f"quantize_audit: bits={bits} outside 2..16")
    qmax = float(2 ** (int(bits) - 1) - 1)
    v = F.col("__v")
    absmax = F.aggregate(
        v, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x.cast("double")))
    )
    base = emb.select(
        F.col(id_col).cast("long").alias(id_col),
        F.col(vec_col).alias("__v"),
    ).withColumn("__scale", absmax / F.lit(qmax))
    sc = F.col("__scale")
    # ANSI-safe divisor: a zero vector has scale 0; its outputs are
    # gated NULL below, so dividing by the placeholder 1.0 is inert
    scd = F.when(sc > 0, sc).otherwise(F.lit(1.0))
    # recon_i = clamp(round(x_i/scale), ±qmax) * scale
    recon = F.transform(
        v,
        lambda x: F.greatest(
            F.least(F.round(x.cast("double") / scd, 0), F.lit(qmax)),
            F.lit(-qmax),
        )
        * sc,
    )
    staged = base.withColumn("__r", recon)
    err2 = F.aggregate(
        F.zip_with(
            v,
            F.col("__r"),
            lambda x, r: (x.cast("double") - r) * (x.cast("double") - r),
        ),
        F.lit(0.0),
        lambda acc, e: acc + e,
    )
    nrm2 = F.aggregate(
        v,
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    maxerr = F.aggregate(
        F.zip_with(
            v, F.col("__r"), lambda x, r: F.abs(x.cast("double") - r)
        ),
        F.lit(0.0),
        lambda acc, e: F.greatest(acc, e),
    )
    n_sat = F.aggregate(
        v,
        F.lit(0),
        lambda acc, x: acc
        + F.when(
            sc > 0,
            (F.abs(F.round(x.cast("double") / scd, 0)) >= F.lit(qmax)).cast(
                "int"
            ),
        ).otherwise(F.lit(0)),
    )
    r6_ = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    ok = nrm2 > 0
    return staged.select(
        id_col,
        F.size("__v").cast("int").alias("dim"),
        r6_(F.sqrt(nrm2)).alias("norm"),
        r6_(sc).alias("scale"),
        r6_(F.when(ok, F.sqrt(err2 / nrm2))).alias("rel_err_l2"),
        r6_(F.when(ok, maxerr)).alias("max_abs_err"),
        n_sat.cast("int").alias("n_saturated"),
    )


# ---------------------------------------------------------------------------
# Planted-integer PQ / IVF×PQ (oracle-replayable fixtures; round 10)
#
# The TRAINED codebook path (`pq_train` → `pq_topk`) is the production
# mode, recall-floor-pinned in tests. These variants swap Lloyd-trained
# float codebooks for PLANTED integer ones — the ksub smallest-id
# vectors' subvectors on the 1e-6 grid — the same treatment that made
# the banded-LSH entries oracle-backed (md5-seeded planes): every
# quantity up to the final cosine is an EXACT BIGINT fold (|x| ≤ ~0.6
# ⇒ per-dim squares ≤ 4e11, 64-dim sums ≤ ~3e13 — far inside both
# int64 and double-exact range), and the final score is two sqrts and
# one division over identical integers, so an external SQL engine
# replays codes, probes and scores bit-exactly. Plan shape is identical
# to the trained path: codes-only scan, broadcast queries/probes, no
# crossJoin in the IVF form, per-query window top-k.


def _int_vec_sql(vec_col: str, scale: int) -> str:
    return (
        f"transform({vec_col}, x -> cast(floor(cast(x as double) * "
        f"{scale}.0D + 0.5D) as bigint))"
    )


def _int_matrix_sql(rows: list[list[int]]) -> str:
    return "array({})".format(
        ", ".join(
            "array({})".format(", ".join(f"{int(v)}L" for v in row))
            for row in rows
        )
    )


def _int_sqdist_sql(sub: str, book: list[list[int]]) -> str:
    return (
        f"transform({_int_matrix_sql(book)}, "
        f"c -> aggregate(zip_with({sub}, c, (x, y) -> (x - y) * (x - y)), "
        f"cast(0 as bigint), (acc, d) -> acc + d))"
    )


def _int_argmin_sql(sub: str, book: list[list[int]]) -> str:
    # array_position returns the FIRST index of the min → ties resolve
    # to the smallest codeword id on both engines
    d = _int_sqdist_sql(sub, book)
    return f"cast(array_position({d}, array_min({d})) - 1 as int)"


def _int_dot_sql(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
        f"cast(0 as bigint), (acc, d) -> acc + d)"
    )


def planted_int_seeds(
    corpus: DataFrame,
    n: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1_000_000,
    offset: int = 0,
) -> list[list[int]]:
    """The ``n`` smallest-id vectors (after skipping ``offset``) on the
    1e-6 integer grid — the planted fixture both engines can rederive
    from the data alone (ORDER BY id LIMIT n OFFSET o)."""
    rows = (
        corpus.select(id_col, vec_col)
        .orderBy(id_col)
        .limit(n + offset)
        .collect()[offset:]
    )
    return [
        [int(math.floor(float(x) * scale + 0.5)) for x in r[vec_col]]
        for r in rows
    ]


def pq_planted_codebooks(
    seeds: list[list[int]], m: int = 8
) -> list[list[list[int]]]:
    """Slice planted integer seed vectors into m per-subspace codebooks:
    books[j][k] = seed k's j-th subvector."""
    dim = len(seeds[0])
    assert dim % m == 0
    dsub = dim // m
    return [
        [v[j * dsub : (j + 1) * dsub] for v in seeds] for j in range(m)
    ]


def pq_topk_planted(
    corpus: DataFrame,
    queries: DataFrame,
    books_int: list[list[list[int]]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
    scale: int = 1_000_000,
) -> DataFrame:
    """ADC PQ top-k over planted integer codebooks: codes are exact
    integer argmins, score = (Σ_j q_j·cb_j[code_j]) /
    (‖q‖·‖recon‖) — reconstruction-normalized asymmetric cosine whose
    numerator and both squared norms are exact BIGINTs. The corpus side
    of the scoring join carries ONLY (id, codes) — the 100 TB
    compression path — with queries broadcast."""
    m = len(books_int)
    dsub = len(books_int[0][0])
    # the int-vector expression is INLINED into every consumer rather
    # than materialized as an intermediate attribute: corpus and queries
    # usually share one scan (self-join), and a branch-local attribute
    # for the shared subtree trips an exprId-collision bug in Catalyst's
    # HOF binding (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND, order-of-
    # execution dependent). Inlining costs m extra transform folds per
    # row and removes the attribute entirely.
    iv_txt = _int_vec_sql(vec_col, scale)
    codes_exprs = ", ".join(
        _int_argmin_sql(f"slice({iv_txt}, {j * dsub + 1}, {dsub})", book)
        for j, book in enumerate(books_int)
    )
    # round 12: the per-row m×codes×dsub argmin fold is the operator's
    # cost; fan_out spreads a single-split corpus before it (no-op at
    # scale, per-row deterministic so results are partitioning-invariant)
    from ..sources.tables import fan_out

    enc = fan_out(corpus).select(
        id_col, F.expr(f"array({codes_exprs})").alias("codes")
    )
    q = queries.select(qid_col, F.expr(iv_txt).alias("__qiv"))
    joined = enc.crossJoin(F.broadcast(q)).filter(
        F.col(id_col) != F.col(qid_col)
    )
    dot_terms = " + ".join(
        _int_dot_sql(
            f"slice(__qiv, {j * dsub + 1}, {dsub})",
            f"element_at({_int_matrix_sql(book)}, codes[{j}] + 1)",
        )
        for j, book in enumerate(books_int)
    )
    rn_terms = " + ".join(
        f"aggregate(element_at({_int_matrix_sql(book)}, codes[{j}] + 1), "
        "cast(0 as bigint), (acc, d) -> acc + d * d)"
        for j, book in enumerate(books_int)
    )
    qn = "aggregate(__qiv, cast(0 as bigint), (acc, d) -> acc + d * d)"
    score = (
        f"(cast(({dot_terms}) as double) / "
        f"nullif(sqrt(cast({qn} as double)) * "
        f"sqrt(cast(({rn_terms}) as double)), 0.0D))"
    )
    scored = joined.select(
        qid_col, id_col, r6(F.expr(score)).alias("cos_approx")
    )
    w = Window.partitionBy(qid_col).orderBy(
        F.col("cos_approx").desc(), F.col(id_col)
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def ivf_pq_topk_planted(
    corpus: DataFrame,
    queries: DataFrame,
    cents_int: list[list[int]],
    books_int: list[list[list[int]]],
    nprobe: int = 4,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
    scale: int = 1_000_000,
) -> DataFrame:
    """Composed IVF×PQ over planted integer centroids AND codebooks:
    cell assignment and probe selection are exact integer argmins, the
    ADC score is `pq_topk_planted`'s. Index side scans (id, cell,
    codes) only; probes broadcast into the single cell join — no
    crossJoin anywhere (same plan contract as the trained
    `ivf_pq_topk`, plan-pinned in tests)."""
    m = len(books_int)
    dsub = len(books_int[0][0])
    # no intermediate __iv attribute (see pq_topk_planted: exprId-
    # collision hazard on self-joins) — the int-vector text is inlined
    # into the cell and code argmins
    iv_txt = _int_vec_sql(vec_col, scale)
    cell_expr = _int_argmin_sql(iv_txt, cents_int)
    codes_exprs = ", ".join(
        _int_argmin_sql(f"slice({iv_txt}, {j * dsub + 1}, {dsub})", book)
        for j, book in enumerate(books_int)
    )
    # cell + code argmins are the per-row cost; fan_out
    # spreads a single-split corpus before them (no-op at scale)
    from ..sources.tables import fan_out

    # coalesce(.., -1) makes cell_id provably NON-NULLABLE: the
    # downstream inner join otherwise derives IsNotNull(cell_id)
    # and filter pushdown re-inlines the FULL integer argmin — the
    # whole centroid matrix — into a Filter, doubling the per-row
    # assignment cost (plan-verified). -1 joins nothing, like NULL;
    # argmin over a non-empty centroid list never yields it, so output
    # is bit-identical (oracle-hash pinned).
    index = fan_out(corpus).select(
        id_col,
        F.expr(f"coalesce({cell_expr}, -1)").alias("cell_id"),
        F.expr(f"array({codes_exprs})").alias("codes"),
    )
    # probes are computed DRIVER-SIDE: the query set is small by
    # contract (it is broadcast into the cell join regardless), which
    # keeps the centroid-distance tree out of a second branch of the
    # same scan. Exact integer argmin, ties to the smallest cell id —
    # identical to the SQL twin's (dist, cell) ordering.
    from pyspark.sql.types import IntegerType, StructField, StructType

    qbase = queries.select(qid_col, F.expr(iv_txt).alias("__qiv"))
    probe_rows = []
    for r in qbase.collect():
        qiv = [int(x) for x in r["__qiv"]]
        ds = sorted(
            (
                sum((a - b) * (a - b) for a, b in zip(qiv, cvec)),
                ci,
            )
            for ci, cvec in enumerate(cents_int)
        )
        for _d, ci in ds[:nprobe]:
            probe_rows.append((r[qid_col], ci, qiv))
    probe_schema = StructType(
        [
            qbase.schema[qid_col],
            StructField("cell_id", IntegerType(), False),
            qbase.schema["__qiv"],
        ]
    )
    probes = local_frame(queries.sparkSession, probe_rows, probe_schema)
    joined = index.join(F.broadcast(probes), "cell_id").filter(
        F.col(id_col) != F.col(qid_col)
    )
    dot_terms = " + ".join(
        _int_dot_sql(
            f"slice(__qiv, {j * dsub + 1}, {dsub})",
            f"element_at({_int_matrix_sql(book)}, codes[{j}] + 1)",
        )
        for j, book in enumerate(books_int)
    )
    rn_terms = " + ".join(
        f"aggregate(element_at({_int_matrix_sql(book)}, codes[{j}] + 1), "
        "cast(0 as bigint), (acc, d) -> acc + d * d)"
        for j, book in enumerate(books_int)
    )
    qn = "aggregate(__qiv, cast(0 as bigint), (acc, d) -> acc + d * d)"
    score = (
        f"(cast(({dot_terms}) as double) / "
        f"nullif(sqrt(cast({qn} as double)) * "
        f"sqrt(cast(({rn_terms}) as double)), 0.0D))"
    )
    scored = joined.select(
        qid_col, id_col, r6(F.expr(score)).alias("cos_approx")
    )
    w = Window.partitionBy(qid_col).orderBy(
        F.col("cos_approx").desc(), F.col(id_col)
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )
