"""TRAINED sequence model over W10 sliding-window tensors (SURVEY §2.9
M4 — the role of the reference's BiLSTM+attention,
``src/models/lstm_model.py:178-253``, re-expressed for a cluster without
a deep-learning runtime).

A small 1-D convolutional classifier — conv(width w, K filters) → ReLU →
mean-pool over time → logistic head — trained by DISTRIBUTED synchronous
full-batch gradient descent:

- the parameter vector is a few dozen floats, broadcast to executors in
  the task closure each epoch;
- ONE `mapInPandas` pass per epoch (`gradient_pass`, shared with the
  BiRNN in `recurrent`) computes per-partition (gradient sum, loss sum,
  row count) — Arrow-batched numpy forward+backward, never a Python row
  loop;
- the driver sums partition gradients IN PARTITION ORDER (so float
  reduction is deterministic run-to-run) and takes one step.

This is the standard data-parallel SGD layout (parameter broadcast +
gradient all-reduce); at 100 TB the same loop holds — the shuffle-free
gradient pass scales with the scan, and the collected state per epoch is
`n_partitions × |params|` doubles, independent of row count. A
convolution is position-invariant like the reference's recurrent stack,
and the nonlinearity lets it learn local-pattern detectors (e.g. spike
alternations) that the linear `train_sequence_head` provably cannot
(mean-zero injected patterns are invisible to any linear functional of
the raw sequence — pinned by the planted-signal AUC test).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from .sequence_scorer import host

__all__ = [
    "init_params",
    "conv_forward",
    "conv_grads",
    "gradient_pass",
    "train_sequence_convnet",
    "score_sequences_convnet",
]


def init_params(
    n_filters: int = 4, width: int = 3, seed: int = 7
) -> dict[str, np.ndarray]:
    """Deterministic glorot-ish init; params are plain ndarrays so they
    pickle into the task closure (broadcast-equivalent at this size).
    Shapes depend only on (n_filters, width) — the conv slides over any
    sequence length, so seq_len is not a parameter."""
    rng = np.random.default_rng(seed)
    scale = np.sqrt(2.0 / (width + n_filters))
    return {
        "Wc": rng.normal(0.0, scale, size=(n_filters, width)),
        "bc": np.zeros(n_filters),
        "wd": rng.normal(0.0, scale, size=n_filters),
        "bd": np.zeros(()),
    }


def _windows(X: np.ndarray, width: int) -> np.ndarray:
    """(N, L) -> (N, L-width+1, width) sliding views (no copy)."""
    return np.lib.stride_tricks.sliding_window_view(X, width, axis=1)


def conv_forward(X: np.ndarray, p: dict[str, np.ndarray]):
    """Forward pass. Returns (prob, cache-for-backprop)."""
    V = _windows(X, p["Wc"].shape[1])          # (N, T, w)
    Z = V @ p["Wc"].T + p["bc"]                # (N, T, K)
    H = np.maximum(Z, 0.0)                     # ReLU
    P = H.mean(axis=1)                         # (N, K) mean-pool over time
    logit = P @ p["wd"] + p["bd"]
    # a logit below about -709 overflows exp to inf, and prob is then
    # exactly 0.0 — the intended limit, so the warning is noise
    with np.errstate(over="ignore"):
        prob = 1.0 / (1.0 + np.exp(-logit))
    return prob, (V, Z, H, P)


def conv_grads(
    X: np.ndarray, y: np.ndarray, p: dict[str, np.ndarray]
) -> tuple[dict[str, np.ndarray], float]:
    """Sum (not mean) of BCE gradients + sum of losses over the batch —
    partial sums compose across partitions; the driver divides by the
    global count."""
    prob, (V, Z, H, P) = conv_forward(X, p)
    eps = 1e-12
    loss = -np.sum(y * np.log(prob + eps) + (1 - y) * np.log(1 - prob + eps))
    dlogit = prob - y                            # (N,)
    g_wd = P.T @ dlogit                          # (K,)
    g_bd = np.sum(dlogit)
    T = H.shape[1]
    dP = np.outer(dlogit, p["wd"])               # (N, K)
    dH = dP[:, None, :] / T                      # (N, T, K) mean-pool back
    dZ = dH * (Z > 0.0)
    g_Wc = np.einsum("ntk,ntw->kw", dZ, V)
    g_bc = dZ.sum(axis=(0, 1))
    return {"Wc": g_Wc, "bc": g_bc, "wd": g_wd, "bd": np.asarray(g_bd)}, float(loss)


def _flatten(p: dict[str, np.ndarray]) -> np.ndarray:
    return np.concatenate([np.asarray(p[k]).ravel() for k in ("Wc", "bc", "wd", "bd")])


def _unflatten(vec: np.ndarray, n_filters: int, width: int) -> dict[str, np.ndarray]:
    i = 0
    Wc = vec[i : i + n_filters * width].reshape(n_filters, width); i += n_filters * width
    bc = vec[i : i + n_filters]; i += n_filters
    wd = vec[i : i + n_filters]; i += n_filters
    bd = vec[i].reshape(())
    return {"Wc": Wc, "bc": bc, "wd": wd, "bd": bd}


def gradient_pass(
    df: DataFrame,
    flat: np.ndarray,
    unflatten,
    grads_fn,
    seq_col: str = "seq",
    label_col: str = "label",
) -> tuple[np.ndarray, float, int]:
    """One distributed full-batch gradient evaluation: ONE Spark job in
    which each partition sums ``grads_fn(X, y, unflatten(flat))`` over
    its Arrow batches; the driver adds the partials sorted by partition
    id (deterministic float order). Gradient dicts are flattened in the
    key order of ``unflatten``'s output, the layout of ``flat``.

    Returns (gradient sum, loss sum, row count); raises ValueError on an
    empty frame."""
    from pyspark import TaskContext

    def _partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cur = unflatten(flat)
        acc = np.zeros_like(flat)
        loss_sum = 0.0
        n = 0
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf[seq_col].to_numpy()).astype(np.float64)
            y = pdf[label_col].to_numpy().astype(np.float64)
            g, loss = grads_fn(X, y, cur)
            acc += np.concatenate([np.asarray(g[k]).ravel() for k in cur])
            loss_sum += loss
            n += len(pdf)
        pid = TaskContext.get().partitionId()
        yield pd.DataFrame(
            {"pid": [pid], "grad": [acc.tolist()], "loss": [loss_sum], "n": [n]}
        )

    grad_schema = "pid int, grad array<double>, loss double, n long"
    rows = sorted(
        df.select(seq_col, label_col).mapInPandas(_partials, grad_schema).collect(),
        key=lambda r: r.pid,
    )
    total_n = sum(r.n for r in rows)
    if total_n == 0:
        raise ValueError("empty training frame")
    grad = np.zeros_like(flat)
    loss = 0.0
    for r in rows:
        grad += np.asarray(r.grad)
        loss += r.loss
    return grad, loss, total_n


def train_sequence_convnet(
    df: DataFrame,
    seq_col: str = "seq",
    label_col: str = "label",
    n_filters: int = 4,
    width: int = 3,
    epochs: int = 40,
    lr: float = 0.5,
    seed: int = 7,
) -> tuple[dict[str, np.ndarray], list[float]]:
    """Distributed synchronous gradient descent: one `gradient_pass`
    (one Spark job) per epoch, then one driver-side step. Cache ``df``
    before calling — every epoch re-scans it.

    Returns (trained params, per-epoch mean-loss history)."""
    p = init_params(n_filters, width, seed)
    history: list[float] = []

    def unflatten(vec):
        return _unflatten(vec, n_filters, width)

    for _ in range(epochs):
        flat = _flatten(p)
        grad, loss, total_n = gradient_pass(
            df, flat, unflatten, conv_grads, seq_col, label_col
        )
        p = unflatten(flat - lr * (grad / total_n))
        history.append(loss / total_n)
    return p, history


def score_sequences_convnet(
    df: DataFrame,
    params: dict[str, np.ndarray],
    seq_col: str = "seq",
) -> DataFrame:
    """Host the trained conv net through `sequence_scorer.host`."""
    return host(df, lambda X: conv_forward(X, params)[0], seq_col)
