"""Recall/precision contract of the banded-LSH embedding dedup (the
100 TB composition) against the exact all-pairs path."""

from pyspark.sql import functions as F

from financial_fraud_detection_using_time_series_data_spark.functions import local
from financial_fraud_detection_using_time_series_data_spark.operators import dedup
from financial_fraud_detection_using_time_series_data_spark.sources import load_table


def test_lsh_dedup_recall_and_exactness(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    exact = {
        (r.id_a, r.id_b): r.cos_sim
        for r in dedup.embedding_near_dup(emb, threshold=0.4).collect()
    }
    lsh = {
        (r.id_a, r.id_b): r.cos_sim
        for r in dedup.embedding_near_dup_lsh(emb, dim=64, threshold=0.4).collect()
    }
    assert exact, "test corpus must contain near-dup pairs"
    # precision: every emitted pair is exact-verified inside its bucket,
    # so it MUST appear in the all-pairs result
    assert set(lsh) <= set(exact), sorted(set(lsh) - set(exact))[:5]
    # values agree to rounding (BLAS vs fold differ in the last ulp)
    for k, v in lsh.items():
        assert abs(v - exact[k]) < 1e-9
    # recall floor at the default (n_planes=4, n_bands=16) banding
    recall = len(lsh) / len(exact)
    assert recall >= 0.6, f"recall {recall:.2f} below floor ({len(lsh)}/{len(exact)})"


def test_connected_components_chain_and_islands(spark, monkeypatch):
    """A 6-node chain (diameter 5 — forces multiple propagation rounds)
    plus a separate 2-node island must collapse to min-id components."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (10, 11)],
        "id_a long, id_b long",
    )
    from financial_fraud_detection_using_time_series_data_spark.operators.dedup import (
        connected_components,
    )

    got = {r.node: r.component for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 1, 10: 10, 11: 10}
    # both engine paths must agree: driver union-find (default here, the
    # edge list is tiny) and the distributed min-label iterations
    # (forced via DRIVER_ROWS = -1)
    monkeypatch.setattr(local, "DRIVER_ROWS", -1)
    dist = {r.node: r.component for r in connected_components(pairs).collect()}
    assert dist == got


def test_lsh_dedup_single_shuffle_shape(spark, sf_dir):
    """The candidate stage must shuffle ONCE on (band, sig) — signatures
    are map-side fold arithmetic, not a join."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = dedup.embedding_near_dup_lsh(emb, dim=64, threshold=0.4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan or "FlatMapGroupsIn" in plan, plan[:1500]
    assert "Join" not in plan, plan[:1500]


def test_dedup_keep_best_quality_argmax(spark):
    """Survivor = quality argmax per component (ties -> lowest id);
    singletons survive as themselves."""
    import pandas as pd

    from financial_fraud_detection_using_time_series_data_spark.operators.dedup import (
        dedup_keep_best,
    )

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 9],
                "q": [0.2, 0.9, 0.5, 0.4],
            }
        )
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    got = {
        r.component: (r.keep_id, r.n_members, r.best_q)
        for r in dedup_keep_best(docs, pairs, F.col("q"), id_col="doc_id").collect()
    }
    # cluster {1,2,3}: doc 2 wins on quality despite not being min id
    assert got[1] == (2, 3, 0.9)
    # singleton 9 survives as its own component
    assert got[9] == (9, 1, 0.4)


def test_dedup_incremental_matches_full_rerun(spark, sf_dir, tmp_path):
    """Incremental (delta-vs-signature-index) dedup must emit exactly the
    pairs a full LSH rerun over corpus ∪ batch emits that touch the
    batch — and must never re-read the corpus text column."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    # materialize the batch to its own parquet so the plan check below
    # can tell batch-text scans (legitimate) from corpus-text scans
    batch_path = str(tmp_path / "batch_docs")
    docs.filter(F.col("doc_id") % 5 == 0).write.mode("overwrite").parquet(batch_path)
    batch = spark.read.parquet(batch_path)

    # persist the signature index (what yesterday's run materialized)
    idx_path = str(tmp_path / "sig_index")
    dedup.minhash_signature(
        corpus, num_hashes=16, shingle_k=5, fast=True
    ).write.mode("overwrite").parquet(idx_path)
    index = spark.read.parquet(idx_path)

    inc = dedup.dedup_incremental(batch, index, fast=True)
    got = {(r.id_a, r.id_b) for r in inc.collect()}

    full = dedup.minhash_lsh_pairs(docs, fast=True)
    batch_ids = {r.doc_id for r in batch.select("doc_id").collect()}
    expected = {
        (r.id_a, r.id_b)
        for r in full.collect()
        if r.id_a in batch_ids or r.id_b in batch_ids
    }
    assert got == expected, (
        f"missing={sorted(expected - got)[:5]} extra={sorted(got - expected)[:5]}"
    )
    assert expected, "fixture must produce batch-touching pairs"

    # the CORPUS text is never scanned: any FileScan whose ReadSchema
    # includes text must be the batch's own parquet, and the index scan
    # reads signatures only
    import re
    plan = inc._jdf.queryExecution().executedPlan().toString()
    scans = re.findall(r"FileScan parquet[^\n]*", plan)
    sig_scans = [s for s in scans if "signature" in s.split("ReadSchema:")[-1]]
    assert sig_scans, plan
    for s in scans:
        if "text" in s.split("ReadSchema:")[-1]:
            # Location paths are truncated in toString; the corpus table
            # would show as .../documents.parquet — assert it is absent
            assert "documents" not in s, s


# --- simhash_near_dup --------------------------------------------------------


def test_simhash_near_dup_planted_mutation(spark):
    from financial_fraud_detection_using_time_series_data_spark.operators import dedup

    base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet " * 5
    rows = [
        (1, base),
        (2, base.replace("india", "xray", 1)),  # near-identical -> small hamming
        (3, "completely different words zulu yankee whiskey victor uniform " * 5),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = dedup.simhash_near_dup(df, "text", "doc_id", bits=32, bands=4,
                                   max_hamming=3).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(1, 2)}
    assert all(r.hamming <= 3 for r in pairs)


def test_simhash_near_dup_identical_docs_and_no_dup_pairs(spark):
    from financial_fraud_detection_using_time_series_data_spark.operators import dedup

    txt = "same words every time " * 10
    df = spark.createDataFrame(
        [(i, txt) for i in range(4)], "doc_id long, text string"
    )
    pairs = dedup.simhash_near_dup(df, "text", "doc_id").collect()
    # identical signatures match in ALL 4 bands -> must still emit each
    # pair exactly once, with hamming 0
    assert sorted((r.id_a, r.id_b) for r in pairs) == [
        (0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3)
    ]
    assert all(r.hamming == 0 for r in pairs)


def _components(spark, pairs: list) -> dict:
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    return {r.node: r.component for r in dedup.connected_components(df).collect()}


def test_connected_components_pointer_jump_matches_driver_union_find(
    spark, monkeypatch
):
    """The distributed pointer-jump rounds and the driver union-find give
    identical (node, component) labels on two planted corpora: a long
    chain (diameter stress), a dense clique, a star and 2-node islands;
    and a 0-9 path plus a 100-101 pair."""
    planted = []
    # 40-node chain: 100..139
    planted += [(100 + i, 101 + i) for i in range(39)]
    # 12-node clique: 200..211
    planted += [(200 + i, 200 + j) for i in range(12) for j in range(i + 1, 12)]
    # star: hub 300, leaves 301..320
    planted += [(300, 300 + i) for i in range(1, 21)]
    # islands
    planted += [(400, 401), (500, 501)]
    path = [(i, i + 1) for i in range(9)] + [(100, 101)]

    drv = [_components(spark, planted), _components(spark, path)]
    monkeypatch.setattr(local, "DRIVER_ROWS", -1)
    jump = [_components(spark, planted), _components(spark, path)]
    assert jump == drv
    assert drv[0][139] == 100 and drv[0][211] == 200 and drv[0][320] == 300
    assert drv[1] == {i: 0 for i in range(10)} | {100: 100, 101: 100}
