"""M4/M5/M7: MLlib pipeline, sequences, and Structured Streaming tests."""

import pytest
from pyspark.sql import functions as F

from financial_fraud_detection_using_time_series_data_spark.ml import (
    add_class_weights,
    build_feature_pipeline,
    evaluate,
    train_gbt,
    train_stacking_ensemble,
    weighted_average_scores,
)
from financial_fraud_detection_using_time_series_data_spark.ml.pipeline import (
    FraudModelConfig,
    feature_importances,
    score_column,
)
from financial_fraud_detection_using_time_series_data_spark.plans import (
    FraudPipelineConfig,
    engineer_features,
    preprocess,
)
from financial_fraud_detection_using_time_series_data_spark.sources import (
    generate_transactions,
)


@pytest.fixture(scope="module")
def txns(spark):
    return generate_transactions(spark, n=8000, fraud_rate=0.05, seed=7).cache()


@pytest.fixture(scope="module")
def engineered(spark, txns):
    cfg = FraudPipelineConfig()
    return engineer_features(preprocess(txns, cfg), cfg).cache()


def test_fraud_plan_columns(engineered, txns):
    assert engineered.count() == txns.count()
    expected = {
        "hour", "dayofweek", "hour_sin", "is_weekend", "is_night",
        "amount_log", "amount_zscore", "amount_bin", "amount_percentile_user",
        "user_txn_count_1d", "user_avg_amount_7d", "amount_deviation",
        "time_since_last_txn", "is_first_txn", "txn_velocity_1h",
        "spending_rate", "spending_acceleration", "merchant_fraud_rate",
        "product_fraud_rate", "user_merchant_avg_amount",
        "is_first_txn_merchant", "is_new_device", "users_per_device",
        "devices_per_user",
    }
    missing = expected - set(engineered.columns)
    assert not missing, f"missing engineered columns: {missing}"


def test_fraud_plan_no_leaked_nulls(engineered):
    # engineered numerics are fillna(-999)'d (engineer.py:307)
    num_cols = [c for c, t in engineered.dtypes if t == "double"][:20]
    null_counts = engineered.agg(
        *[F.sum(F.col(c).isNull().cast("int")).alias(c) for c in num_cols]
    ).collect()[0]
    assert all(v == 0 for v in null_counts)


def test_split_compat_truncates_histories(spark, txns):
    """Reference-exact per-split recomputation (train_pipeline.py:124-132):
    expanding windows must RESTART at each split boundary — every user's
    first row inside each split is flagged first with zero prior count,
    so a user spanning train+val has (up to) one first-flag per split,
    unlike the compute-once pipeline where only the global first row is."""
    from financial_fraud_detection_using_time_series_data_spark.plans import (
        engineer_features_split_compat,
    )

    cfg = FraudPipelineConfig()
    out = engineer_features_split_compat(preprocess(txns, cfg), cfg).cache()
    try:
        assert out.count() == txns.count()
        # split proportions: chronological 70/15/15
        sizes = {r["split"]: r["n"] for r in out.groupBy("split").agg(
            F.count(F.lit(1)).alias("n")).collect()}
        n = txns.count()
        assert sizes["train"] == int(n * 0.7)
        assert sizes["train"] + sizes["val"] == int(n * 0.85)
        # windows restart per split: #first-flags == #(split,user) pairs,
        # and every first row has zero prior txns
        firsts = out.filter(F.col("is_first_txn") == 1)
        pairs = out.select("split", cfg.user_col).distinct().count()
        assert firsts.count() == pairs
        assert firsts.filter(F.col("user_txn_count_1d") != 0).count() == 0
        # a user crossing the train/val boundary must be re-flagged in val
        multi = (
            out.groupBy(cfg.user_col)
            .agg(F.countDistinct("split").alias("ns"))
            .filter(F.col("ns") >= 2)
            .count()
        )
        assert multi > 0, "fixture must have users spanning splits"
    finally:
        out.unpersist()


def test_gbt_early_stop_selection(spark, engineered):
    """Validation-driven maxIter selection (the MLlib early-stopping
    analog): TrainValidationSplit must produce one AUC per grid entry and
    keep the best model."""
    from financial_fraud_detection_using_time_series_data_spark.ml.pipeline import (
        train_gbt_early_stop,
    )

    cfg = FraudModelConfig(max_iter=8, max_depth=3)
    weighted = add_class_weights(engineered)
    num_cols = [
        c for c, t in weighted.dtypes
        if t in ("double", "int", "bigint")
        and c not in ("isFraud", "TransactionID", "weight")
    ][:20]
    feat = build_feature_pipeline(weighted, ["ProductCD"], num_cols)
    prepped = feat.fit(weighted).transform(weighted)
    tvs_model = train_gbt_early_stop(
        prepped, cfg, max_iter_grid=(2, 5), seed=3
    )
    assert len(tvs_model.validationMetrics) == 2
    assert all(0.0 <= m <= 1.0 for m in tvs_model.validationMetrics)
    chosen = tvs_model.bestModel.getMaxIter()
    assert chosen in (2, 5)
    # the best model scores like any other GBT
    scored = tvs_model.bestModel.transform(prepped)
    assert "probability" in scored.columns


def test_gbt_train_score_ensemble(spark, engineered):
    cfg = FraudModelConfig(max_iter=8, max_depth=4, seeds=(42, 202))
    weighted = add_class_weights(engineered)
    num_cols = [
        c for c, t in weighted.dtypes
        if t in ("double", "int", "bigint")
        and c not in ("isFraud", "TransactionID", "weight")
    ][:40]
    feat = build_feature_pipeline(weighted, ["ProductCD", "card4"], num_cols)
    prepped = feat.fit(weighted).transform(weighted)
    train, test = prepped.randomSplit([0.8, 0.2], seed=1)

    models = [train_gbt(train, cfg, seed=s) for s in cfg.seeds]
    scored = test
    for i, m in enumerate(models):
        scored = score_column(m, scored, f"base_score_{i}")
    metrics = evaluate(scored, "base_score_0")
    assert metrics["areaUnderROC"] > 0.55, metrics

    meta, score_cols = train_stacking_ensemble(train, models, cfg)
    stacked = meta.transform(scored)
    assert "meta_features" in stacked.columns

    avg = weighted_average_scores(scored, score_cols)
    row = avg.select(F.min("ensemble_score"), F.max("ensemble_score")).collect()[0]
    assert 0.0 <= row[0] <= row[1] <= 1.0

    imps = feature_importances(models[0], num_cols + ["ProductCD_idx", "card4_idx"], top_n=5)
    assert len(imps) == 5 and imps[0][1] >= imps[-1][1]


def test_streaming_scorer_microbatch(spark, tmp_path):
    """Drive a real Structured Streaming query: rate source → score_batch
    → memory sink; assert rows flow with scores + risk buckets."""
    from financial_fraud_detection_using_time_series_data_spark.streaming import (
        build_stream_scorer,
    )

    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 200).load()
        .select(
            F.col("timestamp").alias("ts"),
            (F.col("value") % 15).alias("user_id"),
            (F.col("value") % 2000).cast("double").alias("value"),
        )
    )
    scored = build_stream_scorer(stream, ts_col="ts")
    q = (
        scored.writeStream.format("memory")
        .queryName("scored_stream")
        .outputMode("append")
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        # NB: never processAllAvailable() on a rate source — it produces
        # forever, so the call can spin indefinitely. Poll the sink instead.
        import time

        deadline = time.time() + 60
        n = 0
        while time.time() < deadline:
            n = spark.sql("select count(*) c from scored_stream").collect()[0].c
            if n > 0:
                break
            time.sleep(1)
        assert n > 0, "no rows flowed through the stream"
        sample = spark.sql(
            "select fraud_score, risk from scored_stream limit 5"
        ).collect()
        assert all(0.0 <= r.fraud_score <= 1.0 for r in sample)
        assert all(r.risk in ("MINIMAL", "LOW", "MEDIUM", "HIGH", "CRITICAL") for r in sample)
    finally:
        q.stop()


def test_streaming_velocity_window(spark):
    """Watermarked sliding-window velocity aggregation compiles and runs
    one micro-batch (complete mode to observe counts)."""
    from financial_fraud_detection_using_time_series_data_spark.streaming import (
        streaming_velocity,
    )

    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 500).load()
        .select(
            F.col("timestamp").alias("ts"),
            (F.col("value") % 10).alias("user_id"),
            (F.col("value") % 300).cast("double").alias("value"),
        )
    )
    vel = streaming_velocity(stream, window_dur="1 minute", slide="30 seconds")
    q = (
        vel.writeStream.format("memory")
        .queryName("velocity_stream")
        .outputMode("complete")
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        import time

        deadline = time.time() + 60
        rows = []
        while time.time() < deadline:
            rows = spark.sql(
                "select user_id, txn_velocity_1h from velocity_stream"
            ).collect()
            if rows:
                break
            time.sleep(1)
        assert rows, "windowed aggregation produced no rows"
    finally:
        q.stop()


def test_one_hot_and_scaler_pipeline(spark, engineered, tmp_path):
    """F11 one-hot + F13 standard scaling as pipeline stages, plus S5
    model persistence round-trip."""
    from pyspark.ml import PipelineModel

    feat = build_feature_pipeline(
        engineered,
        ["ProductCD", "card4"],
        ["TransactionAmt", "amount_log", "hour"],
        one_hot=True,
        standardize=True,
    )
    model = feat.fit(engineered)
    out = model.transform(engineered)
    assert "features" in out.columns
    # scaled features: mean ~0 for the first (numeric) slot
    from pyspark.ml.functions import vector_to_array

    m = out.select(F.avg(vector_to_array("features")[0])).collect()[0][0]
    assert abs(m) < 1e-6

    path = str(tmp_path / "feat_model")
    model.write().overwrite().save(path)
    back = PipelineModel.load(path)
    assert back.transform(engineered).count() == engineered.count()


def test_streaming_dedup_drops_duplicates(spark, tmp_path):
    """streaming_dedup: duplicate event_ids within the watermark horizon
    must be dropped (file source, availableNow)."""
    import pandas as pd

    from financial_fraud_detection_using_time_series_data_spark.streaming import (
        streaming_dedup,
    )

    src = tmp_path / "dup_events"
    src.mkdir()
    pdf = pd.DataFrame(
        {
            "event_id": [1, 2, 2, 3, 3, 3, 4],
            "ts": (
                pd.to_datetime("2024-01-01 00:00:00")
                + pd.to_timedelta(range(7), unit="s")
            ).tz_localize("UTC"),  # tz-aware -> TIMESTAMP (watermark needs ltz)
            "value": [10.0] * 7,
        }
    )
    # µs precision: pandas default nanos parquet reads as bigint under the
    # session's nanosAsLong setting
    pdf.to_parquet(src / "part0.parquet", coerce_timestamps="us")
    schema = spark.read.parquet(str(src)).schema
    stream = spark.readStream.schema(schema).parquet(str(src))
    deduped = streaming_dedup(stream, keys=["event_id"], watermark="10 minutes")
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(60)
    finally:
        q.stop()
    ids = sorted(
        r.event_id for r in spark.sql("select event_id from dedup_stream").collect()
    )
    assert ids == [1, 2, 3, 4]


def test_end_to_end_training_pipeline(spark):
    """train_pipeline.py equivalent: one call from raw transactions to
    trained ensemble + metrics, with chronological splits and fit-on-train
    encodings."""
    from financial_fraud_detection_using_time_series_data_spark.plans import (
        run_training_pipeline,
    )

    res = run_training_pipeline(spark, n_synthetic=6000)
    assert res.n_train > res.n_val > 0 and res.n_test > 0
    total = res.n_train + res.n_val + res.n_test
    assert abs(res.n_train / total - 0.7) < 0.02
    assert "ensemble" in res.metrics and "model_0" in res.metrics
    assert res.metrics["model_0"]["areaUnderROC"] > 0.5
    assert len(res.importances) == 20


def test_running_stats_stream(spark, tmp_path):
    """V3: global running prediction stats as a streaming aggregation."""
    import pandas as pd

    from financial_fraud_detection_using_time_series_data_spark.streaming import (
        running_stats,
    )

    src = tmp_path / "scored_events"
    src.mkdir()
    pdf = pd.DataFrame(
        {
            "ts": (
                pd.to_datetime("2024-01-01") + pd.to_timedelta(range(20), unit="s")
            ).tz_localize("UTC"),
            "fraud_score": [i / 20.0 for i in range(20)],
        }
    )
    pdf.to_parquet(src / "p0.parquet", coerce_timestamps="us")
    schema = spark.read.parquet(str(src)).schema
    stream = spark.readStream.schema(schema).parquet(str(src))
    stats = running_stats(stream)
    q = (
        stats.writeStream.format("memory")
        .queryName("running_stats")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(60)
    finally:
        q.stop()
    row = spark.sql("select * from running_stats").collect()[0]
    assert row.prediction_count == 20
    assert row.flagged_count == 10  # scores 0.5..0.95
    assert abs(row.avg_score - sum(i / 20.0 for i in range(20)) / 20) < 1e-9


def test_streaming_session_window(spark):
    """Event-time session windows (gap-based) over a rate stream: rows
    flow, per-session counts are positive, session bounds are ordered."""
    from financial_fraud_detection_using_time_series_data_spark.streaming import (
        streaming_session_agg,
    )

    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 200).load()
        .select(
            F.col("timestamp").alias("ts"),
            (F.col("value") % 5).alias("user_id"),
            (F.col("value") % 100).cast("double").alias("value"),
        )
    )
    sess = streaming_session_agg(stream, gap="10 seconds", watermark="30 seconds")
    q = (
        sess.writeStream.format("memory")
        .queryName("session_stream")
        .outputMode("complete")
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        import time

        deadline = time.time() + 60
        rows = []
        while time.time() < deadline:
            rows = spark.sql(
                "select session_window.start s, session_window.end e, user_id,"
                " n_events, total_value from session_stream"
            ).collect()
            if rows:
                break
            time.sleep(1)
        assert rows, "no session rows emitted"
        assert all(r.n_events > 0 and r.s <= r.e for r in rows)
    finally:
        q.stop()


def test_sequence_scorer_matches_jvm_expression(spark, sf_dir):
    """The Arrow/mapInPandas forward pass must equal the same formula
    computed entirely JVM-side — pins the Arrow plumbing (batch shapes,
    column alignment), not just the math."""
    from financial_fraud_detection_using_time_series_data_spark.ml.sequence_scorer import (
        score_sequences,
    )
    from financial_fraud_detection_using_time_series_data_spark.operators import windows
    from financial_fraud_detection_using_time_series_data_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events")
    w = windows.user_window("user_id", "ts", "event_id")
    seq = windows.sliding_sequence(F.col("value"), w, seq_len=5)
    seqs = ev.select("event_id", "user_id", seq.alias("seq")).filter(F.size("seq") == 5)

    got = score_sequences(seqs, w=0.01, b=-5.0)
    mean = F.aggregate("seq", F.lit(0.0), lambda a, x: a + x) / F.lit(5.0)
    want = seqs.select(
        "event_id",
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-(F.lit(0.01) * mean + F.lit(-5.0))))).alias(
            "want_score"
        ),
    )
    j = got.join(want, "event_id")
    bad = j.filter(F.abs(F.col("seq_score") - F.col("want_score")) > 1e-12).count()
    assert bad == 0
    assert got.count() == seqs.count()


def test_score_to_parquet_foreach_batch(spark, tmp_path):
    """foreachBatch durable sink: rate source → score_batch → parquet
    partitioned by risk; assert files land and partition pruning sees the
    risk directories."""
    import time

    from financial_fraud_detection_using_time_series_data_spark.streaming.scoring import (
        score_to_parquet,
    )

    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 500).load()
        .select(
            F.col("timestamp").alias("ts"),
            (F.col("value") % 15).alias("user_id"),
            (F.col("value") % 2000).cast("double").alias("value"),
        )
    )
    out_dir = str(tmp_path / "scored")
    q = score_to_parquet(stream, out_dir, str(tmp_path / "ckpt"))
    try:
        deadline = time.time() + 60
        n = 0
        while time.time() < deadline:
            try:
                n = spark.read.parquet(out_dir).count()
            except Exception:
                n = 0
            if n > 0:
                break
            time.sleep(1)
        assert n > 0, "no parquet output from foreachBatch sink"
        out = spark.read.parquet(out_dir)
        assert "risk" in out.columns and "fraud_score" in out.columns
        # risk partition values materialized as directories
        import os

        parts = [d for d in os.listdir(out_dir) if d.startswith("risk=")]
        assert parts, os.listdir(out_dir)
    finally:
        q.stop()


def test_trained_sequence_head_parity_and_signal(spark, sf_dir):
    """M4 upgrade: the sequence head is TRAINED (MLlib LR over raw
    sequence vectors) and the Arrow-hosted forward pass must reproduce
    the MLlib model's probabilities to float64 precision — the
    batch-vs-hosted parity any exported deep model needs."""
    import numpy as np
    from pyspark.ml.functions import array_to_vector, vector_to_array

    from financial_fraud_detection_using_time_series_data_spark.ml.sequence_scorer import (
        score_sequences_trained,
        train_sequence_head,
    )
    from financial_fraud_detection_using_time_series_data_spark.operators import windows
    from financial_fraud_detection_using_time_series_data_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events")
    w = windows.user_window("user_id", "ts", "event_id")
    seqs = (
        ev.select(
            "event_id",
            "user_id",
            windows.sliding_sequence(F.col("value"), w, seq_len=5).alias("seq"),
        )
        .filter(F.size("seq") == 5)
        .select("event_id", "user_id", F.col("seq").cast("array<double>").alias("seq"))
    )
    # planted signal: label = sequence mean above the global value mean
    # (data-driven cut so both classes are populated at any SF)
    gmean = seqs.agg(
        F.avg(F.aggregate("seq", F.lit(0.0), lambda a, v: a + v) / F.size("seq")).alias("g")
    )
    labeled = seqs.crossJoin(F.broadcast(gmean)).withColumn(
        "label",
        (
            F.aggregate("seq", F.lit(0.0), lambda a, v: a + v) / F.size("seq")
            > F.col("g")
        ).cast("double"),
    ).drop("g")
    w, b = train_sequence_head(labeled, max_iter=30)
    assert w.shape == (5,)

    hosted = score_sequences_trained(labeled, w, b)
    # MLlib's own probabilities on the same rows
    from pyspark.ml.classification import LogisticRegression

    prepped = labeled.withColumn("__features", array_to_vector(F.col("seq")))
    model = LogisticRegression(
        featuresCol="__features", labelCol="label", maxIter=30, regParam=0.0
    ).fit(prepped)
    want = model.transform(prepped).select(
        "event_id", vector_to_array("probability")[1].alias("p")
    )
    j = hosted.join(want, "event_id").select(
        F.max(F.abs(F.col("seq_score") - F.col("p"))).alias("max_err")
    ).collect()[0]
    assert j.max_err < 1e-9, j.max_err
    # and the trained head actually separates the planted signal
    auc_df = hosted.join(labeled.select("event_id", "label"), "event_id")
    from financial_fraud_detection_using_time_series_data_spark.operators.evaluation import roc_auc

    auc = roc_auc(auc_df.withColumn("label", F.col("label").cast("int")), "label", "seq_score").collect()[0][0]
    assert auc > 0.95, auc


def _planted_sequences(spark, n=2000, seq_len=10, seed=11):
    """Planted-signal corpus: fraud rows carry a +3/-3 adjacent
    alternation at a random position — MEAN-ZERO, so no linear
    functional of the raw sequence separates the classes, but a width-2+
    convolution detector does."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(seed)
    X = rng.normal(size=(n, seq_len))
    y = (rng.random(n) < 0.3).astype("int64")
    pos = rng.integers(0, seq_len - 1, size=n)
    for i in np.where(y == 1)[0]:
        X[i, pos[i]] += 3.0
        X[i, pos[i] + 1] -= 3.0
    pdf = pd.DataFrame(
        {
            "event_id": np.arange(n, dtype="int64"),
            "user_id": np.arange(n, dtype="int64") % 50,
            "seq": list(X),
            "label": y,
        }
    )
    return spark.createDataFrame(pdf).repartition(8).cache()


def _auc(scores_and_labels):
    import numpy as np

    s = np.array([x[0] for x in scores_and_labels])
    y = np.array([x[1] for x in scores_and_labels])
    order = np.argsort(s, kind="stable")
    ranks = np.empty(len(s))
    ranks[order] = np.arange(1, len(s) + 1)
    npos = int(y.sum())
    nneg = len(y) - npos
    return (ranks[y == 1].sum() - npos * (npos + 1) / 2) / (npos * nneg)


def test_sequence_model_trained_auc(spark):
    """M4 gate: the distributed-SGD conv net must (a) drive training loss
    down, (b) clear an absolute AUC floor on the planted-signal corpus,
    and (c) beat the linear sequence head by a wide margin — the linear
    model provably cannot see the mean-zero planted pattern."""
    from financial_fraud_detection_using_time_series_data_spark.ml import (
        sequence_model as sm,
    )
    from financial_fraud_detection_using_time_series_data_spark.ml.sequence_scorer import (
        score_sequences_trained,
        train_sequence_head,
    )

    seqs = _planted_sequences(spark)
    try:
        params, history = sm.train_sequence_convnet(
            seqs, epochs=60, lr=0.5, n_filters=4, width=3, seed=7
        )
        assert history[-1] < history[0] * 0.8, history[:3] + history[-3:]

        scored = sm.score_sequences_convnet(seqs, params)
        joined = scored.join(seqs.select("event_id", "label"), "event_id")
        conv_auc = _auc(
            [(r.seq_score, r.label) for r in joined.collect()]
        )

        w, b = train_sequence_head(seqs)
        lin = score_sequences_trained(seqs, w, b)
        lin_auc = _auc(
            [
                (r.seq_score, r.label)
                for r in lin.join(seqs.select("event_id", "label"), "event_id").collect()
            ]
        )
        assert conv_auc >= 0.85, f"conv AUC {conv_auc:.3f}"
        assert conv_auc > lin_auc + 0.15, f"conv {conv_auc:.3f} vs linear {lin_auc:.3f}"
    finally:
        seqs.unpersist()


def test_sequence_convnet_training_is_deterministic(spark):
    """Partition-ordered gradient reduction: two training runs over the
    same frame must produce bit-identical parameters."""
    import numpy as np

    from financial_fraud_detection_using_time_series_data_spark.ml import (
        sequence_model as sm,
    )

    seqs = _planted_sequences(spark, n=400)
    try:
        p1, h1 = sm.train_sequence_convnet(seqs, epochs=3, seed=7)
        p2, h2 = sm.train_sequence_convnet(seqs, epochs=3, seed=7)
        assert h1 == h2
        for k in p1:
            assert np.array_equal(p1[k], p2[k]), k
    finally:
        seqs.unpersist()


def test_conv_forward_saturates_without_overflow_warning():
    """A logit far below -709 overflows exp(-logit) to inf; the head must
    return exactly 0.0 and raise no RuntimeWarning (scoring runs it on
    every executor batch, so a warning floods the logs)."""
    import warnings

    import numpy as np

    from financial_fraud_detection_using_time_series_data_spark.ml import (
        sequence_model as sm,
    )

    p = sm.init_params(n_filters=2, width=3)
    p["wd"] = np.zeros(2)
    p["bd"] = np.array(-900.0)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        prob, _ = sm.conv_forward(np.ones((2, 5)), p)
    assert prob.tolist() == [0.0, 0.0]


# --- BiRNN + attention (M4, recurrent) --------------------------------------


def test_birnn_gradients_match_central_differences():
    """BPTT + attention backward vs numerical central differences on a
    tiny batch — every parameter within 1e-4 relative."""
    import numpy as np

    from financial_fraud_detection_using_time_series_data_spark.ml import recurrent as rn

    rng = np.random.default_rng(0)
    X = rng.normal(size=(5, 7))
    y = np.array([1.0, 0, 1, 0, 1])
    p = rn.init_birnn_params(hidden=4, attn=3, seed=1)
    g, _ = rn.birnn_grads(X, y, p)
    flat = rn._flatten(p)
    gflat = rn._flatten(g)
    num = np.zeros_like(flat)
    h = 1e-6
    for i in range(len(flat)):
        fp = flat.copy(); fp[i] += h
        fm = flat.copy(); fm[i] -= h
        _, lp = rn.birnn_grads(X, y, rn._unflatten(fp, 4, 3))
        _, lm = rn.birnn_grads(X, y, rn._unflatten(fm, 4, 3))
        num[i] = (lp - lm) / (2 * h)
    rel = np.abs(num - gflat) / np.maximum(1e-8, np.abs(num) + np.abs(gflat))
    assert rel.max() < 1e-4, rel.max()


def _planted_order_sequences(spark, n=1500, seq_len=14, seed=11):
    """Order-signal corpus: both classes carry a +3 spike and a -3 spike
    >= 4 steps apart and >= 2 steps from either edge; y encodes WHICH
    comes first. Every spike sits in exactly 3 width-3 windows, so the
    mean-pooled conv's window bag is class-identical (order-blind by
    construction) while recurrent state sees the order."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(seed)
    X = rng.normal(size=(n, seq_len))
    y = (rng.random(n) < 0.5).astype("int64")
    for i in range(n):
        a = rng.integers(2, seq_len - 8)
        b = rng.integers(a + 4, seq_len - 2)
        s = 1.0 if y[i] == 1 else -1.0
        X[i, a] += 3.0 * s
        X[i, b] -= 3.0 * s
    pdf = pd.DataFrame(
        {
            "event_id": np.arange(n, dtype="int64"),
            "user_id": np.arange(n, dtype="int64") % 50,
            "seq": list(X),
            "label": y,
        }
    )
    return spark.createDataFrame(pdf).repartition(8).cache()


def test_birnn_learns_order_signal_conv_cannot(spark):
    """M4 recurrent gate: on the order corpus the BiRNN+attention must
    clear AUC >= 0.9 while the (order-blind) mean-pooled conv net stays
    near chance — the capability that justifies recurrence."""
    from financial_fraud_detection_using_time_series_data_spark.ml import (
        recurrent as rn,
        sequence_model as sm,
    )

    seqs = _planted_order_sequences(spark)
    try:
        params, history = rn.train_sequence_birnn(seqs, epochs=60, lr=0.05, seed=7)
        assert history[-1] < history[0] * 0.5, history[:3] + history[-3:]
        scored = rn.score_sequences_birnn(seqs, params)
        rnn_auc = _auc(
            [
                (r.seq_score, r.label)
                for r in scored.join(seqs.select("event_id", "label"), "event_id").collect()
            ]
        )

        cp, _ = sm.train_sequence_convnet(seqs, epochs=40, lr=0.5, n_filters=4, width=3, seed=7)
        conv_auc = _auc(
            [
                (r.seq_score, r.label)
                for r in sm.score_sequences_convnet(seqs, cp)
                .join(seqs.select("event_id", "label"), "event_id")
                .collect()
            ]
        )
        assert rnn_auc >= 0.9, f"birnn AUC {rnn_auc:.3f}"
        assert conv_auc <= 0.65, f"conv should be order-blind, got {conv_auc:.3f}"
    finally:
        seqs.unpersist()


def test_birnn_training_is_deterministic(spark):
    """Partition-ordered gradient reduction + driver-side Adam: two runs
    over the same frame produce bit-identical parameters."""
    import numpy as np

    from financial_fraud_detection_using_time_series_data_spark.ml import recurrent as rn

    seqs = _planted_order_sequences(spark, n=300)
    try:
        p1, h1 = rn.train_sequence_birnn(seqs, epochs=3, seed=7)
        p2, h2 = rn.train_sequence_birnn(seqs, epochs=3, seed=7)
        assert h1 == h2
        for k in p1:
            assert np.array_equal(p1[k], p2[k]), k
    finally:
        seqs.unpersist()
