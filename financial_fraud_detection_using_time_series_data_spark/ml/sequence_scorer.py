"""Sequence-model inference hosting (SURVEY §2.9 M4).

The reference trains a BiLSTM over per-user sliding windows
(``src/models/lstm_model.py:178-271``) and predicts on ``(N, 10, F)``
tensors. Stock Spark has no LSTM; what the engine preserves is the
INFERENCE-HOSTING pattern every deep sequence model needs at scale:

- sequences built JVM-side by the window engine (W10 ``sliding_sequence``
  — no driver materialization, no Python loop);
- batches cross into Python ONCE via Arrow (``mapInPandas``), shaped
  ``(batch, seq_len)`` — the exact shape a keras/torch
  ``model.predict(batch)`` consumes;
- model weights ride the task closure (broadcast for real weight
  matrices), loaded once per executor, not per row.

`host` is that pattern, shared by every sequence scorer (this module's
linear heads, `sequence_model`'s conv net, `recurrent`'s BiRNN). The
stub forward pass is a deterministic logistic head over the sequence
mean; `score_sequences` documents the plug-point for a real model, so
no deep-learning runtime is a dependency.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

SCORE_SCHEMA = "event_id long, user_id long, seq_score double"


def host(df: DataFrame, prob_fn, seq_col: str = "seq") -> DataFrame:
    """Host a sequence model over (event_id, user_id, seq array<double>)
    rows with equal-length seqs (the W10 full-window filter guarantees
    this): ``prob_fn`` maps each Arrow batch's float64
    ``(batch, seq_len)`` array to one score per row. One Python
    crossing per batch; the model rides the task closure (broadcast for
    real weight matrices), loaded once per executor; map-only plan.
    Output: ``SCORE_SCHEMA``."""

    def _forward(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf[seq_col].to_numpy()).astype(np.float64)
            out = pdf[["event_id", "user_id"]].copy()
            out["seq_score"] = prob_fn(X)
            yield out

    return df.mapInPandas(_forward, schema=SCORE_SCHEMA)


def score_sequences(
    df: DataFrame,
    seq_col: str = "seq",
    w: float = 0.01,
    b: float = -5.0,
) -> DataFrame:
    """Score fixed-length sequence arrays with a vectorized forward pass:
    ``seq_score`` = sigmoid(w · mean(seq) + b) in [0, 1].

    Plug-point for a real model: pass its forward pass to `host` as
    ``prob_fn`` (e.g. a ``torch.jit.load(path).eval()`` module applied
    to ``torch.from_numpy(X)``), with the weights in the closure or in a
    file pushed via spark.files; the deterministic logistic head below
    stands in for the trained model.
    """
    return host(
        df, lambda X: 1.0 / (1.0 + np.exp(-(w * X.mean(axis=1) + b))), seq_col
    )


def train_sequence_head(
    df: DataFrame,
    seq_col: str = "seq",
    label_col: str = "label",
    max_iter: int = 50,
    reg: float = 0.0,
):
    """TRAIN the sequence head distributed: MLlib LogisticRegression over
    the raw sequence vector (`array_to_vector`, no Python in the fit
    path) — the linear baseline a BiLSTM is benchmarked against, and the
    piece that upgrades the hosting path from a fixed stub to a model
    actually fit on data. Returns ``(weights ndarray(seq_len), bias)``
    exported for the Arrow forward pass below; a deep model would export
    its state dict through the same seam."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.functions import array_to_vector
    from pyspark.sql import functions as F

    prepped = df.withColumn("__features", array_to_vector(F.col(seq_col)))
    lr = LogisticRegression(
        featuresCol="__features", labelCol=label_col, maxIter=max_iter, regParam=reg
    )
    model = lr.fit(prepped)
    return np.asarray(model.coefficients.toArray()), float(model.intercept)


def score_sequences_trained(
    df: DataFrame,
    weights: "np.ndarray",
    bias: float,
    seq_col: str = "seq",
) -> DataFrame:
    """Host the TRAINED head through `host`: scores =
    sigmoid(seqs @ w + b), numerically identical to `LogisticRegressionModel.transform`'s probability (both
    are float64 sigmoid of the same dot product), so batch-vs-hosted
    parity is testable to 1e-9."""
    w = np.asarray(weights, dtype=np.float64)
    return host(df, lambda X: 1.0 / (1.0 + np.exp(-(X @ w + bias))), seq_col)
