"""Structured Streaming scoring surface (SURVEY §2.11 V1-V4).

The reference serves one Pydantic record at a time over FastAPI
(``api/main.py:185-285``) and keeps mutable global stats; its "real-time"
path is stateless per request, so every user-history feature is
unavailable at serve time (train/serve skew — api/main.py:189-195).

The Spark design fixes that skew:
- ONE scoring formula (``score_columns``: the fraud_score, risk and
  reasons columns) behind ``score_batch`` (DataFrame -> DataFrame),
  reused verbatim by batch jobs and by the stream (via ``foreachBatch``
  or direct transformation) — identical semantics in both planes. The
  HTTP service builds the same columns once and selects them over each
  request's rows.
- event-time watermark + sliding window velocity features
  (``streaming_velocity``) — the 1h velocity the reference *names* but
  computes as a cumulative count (engineer.py:130).
- bounded state: watermark TTL caps per-user state; at 100 TB/day the
  state store shards by user key across executors.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import exprs as E
from ..functions.local import local_frame


def score_columns(amount_col: str = "value", model_score_col: str | None = None) -> list[Column]:
    """V1/V2: heuristic sigmoid base + optional model blend 0.4/0.6
    (api/main.py:269-272), risk bucket + reasons array (reasons =
    array(when(...)) with nulls filtered — api/main.py:324-357).

    Returns the three output columns ``fraud_score``, ``risk`` and
    ``reasons``, unbound to any DataFrame, so a caller that scores many
    small frames (the HTTP service) can build them once."""
    amt = F.col(amount_col)
    heuristic = E.heuristic_score(amt)
    score = (
        F.lit(0.4) * F.col(model_score_col) + F.lit(0.6) * heuristic
        if model_score_col
        else heuristic
    )
    reasons = F.filter(
        F.array(
            F.when(amt > 1000, F.lit("high_amount")),
            F.when(amt % 100 == 0, F.lit("round_amount")),
            F.when(score >= 0.8, F.lit("critical_score")),
        ),
        lambda x: x.isNotNull(),
    )
    return [
        E.clip(score, 0.0, 1.0).alias("fraud_score"),
        E.risk_bucket(score).alias("risk"),
        reasons.alias("reasons"),
    ]


def score_batch(df: DataFrame, amount_col: str = "value", model_score_col: str | None = None) -> DataFrame:
    """``df`` with the ``score_columns`` appended."""
    return df.select("*", *score_columns(amount_col, model_score_col))


def build_stream_scorer(
    stream: DataFrame,
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """V1 as a streaming query: watermarked event stream -> scored stream.
    Append-mode safe (row-wise transforms only)."""
    return score_batch(stream.withWatermark(ts_col, watermark))


def streaming_velocity(
    stream: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    amount_col: str = "value",
    watermark: str = "1 hour",
    window_dur: str = "1 hour",
    slide: str = "5 minutes",
) -> DataFrame:
    """V3 + the *intended* 1h velocity: per-user sliding event-time window
    counts/sums with late-data tolerance = watermark. outputMode('update')
    or append-after-watermark."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window_dur, slide), F.col(user_col))
        .agg(
            F.count(F.lit(1)).alias("txn_velocity_1h"),
            F.sum(amount_col).alias("amount_velocity_1h"),
            F.avg(amount_col).alias("avg_amount_1h"),
        )
    )


def score_to_parquet(
    stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    amount_col: str = "value",
    model_score_col: str | None = None,
):
    """The durable-sink leg of the one-scorer-three-planes design:
    ``foreachBatch`` applies the SAME ``score_batch`` plan to each
    micro-batch and appends it as parquet partitioned by risk — so the
    scored archive is immediately prunable by risk level downstream.

    foreachBatch (vs a direct parquet sink) is what lets a micro-batch
    reuse arbitrary BATCH writers — partitionBy, bucketing, multi-sink
    fan-out — while the checkpoint still gives end-to-end exactly-once
    for this idempotent append (batch replays overwrite the same files).
    Returns the started StreamingQuery; caller owns stop().
    """

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        scored = score_batch(batch_df, amount_col, model_score_col)
        # reasons is array<string>; fine for parquet
        scored.write.mode("append").partitionBy("risk").parquet(out_dir)

    return (
        stream.writeStream.foreachBatch(_write)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .start()
    )


def drift_monitor(
    stream: DataFrame,
    ref: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    value_col: str = "value",
    n_bins: int = 10,
    eps: float = 1e-6,
):
    """Per-micro-batch PSI against a static reference window — the
    streaming leg of `operators/drift.py` (model-decay monitoring the
    reference's stats endpoint gestures at but never computes).

    The reference profile is fit ONCE: decile edges + bin proportions
    (2·n_bins scalars collected to the driver). Each micro-batch then
    pays only a map-only binning against the literal edge array plus one
    ≤ n_bins-row groupBy; the PSI reduction over those 10 rows happens
    driver-side, and one (batch_id, n_events, psi) row is appended —
    a monitoring sink whose cost is independent of reference size.
    Returns the started StreamingQuery; caller owns stop().
    """
    import math

    from ..operators import drift as D

    edges_df = D._edges(ref, value_col, n_bins)
    edges = [float(e) for e in edges_df.collect()[0]["__edges"]]
    ref_rows = D._bin_counts(ref, edges_df, value_col, "n_ref").collect()
    tot_ref = sum(r.n_ref for r in ref_rows)
    got = {r.bin: r.n_ref for r in ref_rows}
    p_ref = [max(got.get(b, 0) / tot_ref, eps) for b in range(n_bins)]
    edge_arr = F.array(*[F.lit(e) for e in edges])

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        counts = (
            batch_df.select(
                F.size(
                    F.filter(edge_arr, lambda e: F.col(value_col) > e)
                ).alias("bin")
            )
            .groupBy("bin")
            .count()
            .collect()
        )
        tot = sum(r["count"] for r in counts)
        if tot == 0:
            return
        byb = {r.bin: r["count"] for r in counts}
        psi = sum(
            (pc - pr) * math.log(pc / pr)
            for b, pr in enumerate(p_ref)
            for pc in [max(byb.get(b, 0) / tot, eps)]
        )
        local_frame(
            spark,
            [(int(batch_id), int(tot), float(psi))],
            "batch_id long, n_events long, psi double",
        ).write.mode("append").parquet(out_dir)

    return (
        stream.writeStream.foreachBatch(_write)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .start()
    )


def running_stats(stream: DataFrame, ts_col: str = "ts") -> DataFrame:
    """V3 (api/main.py:379-391): global running prediction stats as a
    streaming aggregation (replaces mutable process globals)."""
    return stream.withWatermark(ts_col, "1 hour").agg(
        F.count(F.lit(1)).alias("prediction_count"),
        F.avg("fraud_score").alias("avg_score"),
        F.sum((F.col("fraud_score") >= 0.5).cast("long")).alias("flagged_count"),
    )


def streaming_dedup(
    stream: DataFrame,
    keys: list[str] | None = None,
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Exactly-once-per-key within the watermark horizon: drop duplicate
    events (retries, at-least-once sources) by key. State is bounded by
    the watermark — Spark evicts seen-keys older than the horizon, so the
    dedup set never grows without bound (the batch exact_dedup operator's
    streaming counterpart)."""
    keys = keys or ["event_id"]
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def streaming_session_agg(
    stream: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    amount_col: str = "value",
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Event-time session windows (gap-based, same 30-min semantics as the
    batch ``windows.sessionize``): per-(user, session) event count and
    value total, sessions close after `gap` inactivity and emit once the
    watermark passes — state per open session is O(1) and bounded by the
    watermark horizon. The streaming twin of ``windows.session_agg``."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap), F.col(user_col))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(amount_col).alias("total_value"),
        )
    )


def stream_stream_attribution(
    clicks: DataFrame,
    purchases: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    within: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream inner join: attribute each purchase to the click(s)
    by the same user in the preceding ``within`` interval — the classic
    conversion-attribution join, fully streaming on both sides.

    Both inputs carry a watermark and the join condition time-bounds the
    match, so Spark can expire buffered state: click state is held
    ``watermark + within``, purchase state ``watermark`` — bounded
    regardless of stream length. Equi-key (user) + range condition →
    state is partitioned by user across executors.
    """
    c = clicks.withWatermark(ts_col, watermark).select(
        F.col(user_col).alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col(ts_col).alias("click_ts"),
    )
    p = purchases.withWatermark(ts_col, watermark).select(
        F.col(user_col).alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col(ts_col).alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    return c.join(
        p,
        F.expr(
            f"""
            c_user = p_user AND
            purchase_ts > click_ts AND
            purchase_ts <= click_ts + INTERVAL {within}
            """
        ),
    ).select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "click_ts",
        "purchase_id",
        "purchase_ts",
        "purchase_value",
    )


def incremental_state_stream(
    stream: DataFrame,
    state_dir: str,
    key_col: str = "event_type",
    ts_col: str = "ts",
    user_col: str = "user_id",
    value_col: str = "value",
):
    """Continuous maintained-aggregate pipeline: every micro-batch folds
    into the persisted state tables (moment partials, per-day user HLL
    sketches, value counts) via the SAME `plans.incremental` merges the
    batch path uses — streaming and batch maintenance are one code path,
    so the daily-ingest invariant (fold == recompute) carries over.

    The sink is IDEMPOTENT, as foreachBatch requires: each fold writes a
    complete new state version under ``state_dir/v<batch_id>/`` while
    reading from the version named by the ``CURRENT`` pointer, then
    flips the pointer atomically (os.replace). A crash anywhere before
    the flip leaves CURRENT on the old version, and the replayed batch
    finds ``current_version >= batch_id`` only after a completed flip —
    so a batch can never be folded twice, and readers never see a
    half-written state. (On an object store, replace the pointer flip
    with a conditional put.) Superseded versions are pruned best-effort
    after the flip.

    Returns the started query; call ``.processAllAvailable()`` in tests.
    Resolve the live state with ``read_state(spark, state_dir)``.
    """
    import os

    from ..plans import incremental

    names = ("moments", "user_sketches", "value_counts")

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        cur_file = os.path.join(state_dir, "CURRENT")
        prev_id = -1
        if os.path.exists(cur_file):
            with open(cur_file) as f:
                prev_id = int(f.read().strip())
        if prev_id >= batch_id:
            return  # replay of an already-committed batch: no-op
        if prev_id >= 0:
            prev_dir = os.path.join(state_dir, f"v{prev_id}")
            prev = {
                n: spark.read.parquet(os.path.join(prev_dir, n))
                for n in names
            }
            new_state = incremental.update_state(
                prev, batch_df, key_col, ts_col, user_col, value_col
            )
        else:
            new_state = incremental.init_state(
                batch_df, key_col, ts_col, user_col, value_col
            )
        vdir = os.path.join(state_dir, f"v{batch_id}")
        for n in names:
            new_state[n].write.mode("overwrite").parquet(
                os.path.join(vdir, n)
            )
        tmp = cur_file + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(batch_id))
        os.replace(tmp, cur_file)  # the commit point
        if prev_id >= 0:
            import shutil

            shutil.rmtree(
                os.path.join(state_dir, f"v{prev_id}"), ignore_errors=True
            )

    import os as _os

    return (
        stream.writeStream.foreachBatch(_fold)
        .option(
            "checkpointLocation", _os.path.join(state_dir, "_checkpoint")
        )
        .trigger(availableNow=True)
        .start()
    )


def read_state(spark, state_dir: str) -> dict[str, DataFrame]:
    """Resolve the live state version written by
    `incremental_state_stream` (follows the CURRENT pointer)."""
    import os

    with open(os.path.join(state_dir, "CURRENT")) as f:
        v = int(f.read().strip())
    vdir = os.path.join(state_dir, f"v{v}")
    return {
        n: spark.read.parquet(os.path.join(vdir, n))
        for n in ("moments", "user_sketches", "value_counts")
    }


def streaming_ohlc(
    stream: DataFrame,
    ts_col: str = "ts",
    series_col: str = "event_type",
    value_col: str = "value",
    id_col: str = "event_id",
    window_dur: str = "1 hour",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming counterpart of `operators.finance.ohlc_bars`: tumbling
    event-time bars per series with late-data tolerance = ``watermark``.

    Open/close ride min/max over the (ts, id, value) struct — struct
    ordering is lexicographic, (ts, id) is unique, so the min/max struct
    IS the earliest/latest row and its value field is the open/close.
    Struct min/max partial-aggregates in streaming state exactly like
    the batch min_by (one candidate per open window per series), so
    state size is O(open windows × series), never O(events). In
    append mode bars emit once their window falls behind the watermark;
    batch==stream equality over a bounded replay is test-pinned.
    """
    first = F.min(F.struct(ts_col, id_col, value_col))
    last = F.max(F.struct(ts_col, id_col, value_col))
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window_dur).alias("__win"), F.col(series_col))
        .agg(
            first[value_col].alias("open"),
            F.max(value_col).alias("high"),
            F.min(value_col).alias("low"),
            last[value_col].alias("close"),
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col(value_col).cast("decimal(25,2)"))
            .cast("double")
            .alias("total"),
        )
        .select(
            series_col,
            F.col("__win.start").alias("bucket"),
            "open",
            "high",
            "low",
            "close",
            "n",
            "total",
        )
    )
