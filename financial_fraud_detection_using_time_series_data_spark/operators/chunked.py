"""Chunked global-order primitives: exact prefix sums / ranks along a
global sort order WITHOUT a partitionless window.

A `Window.orderBy(...)` with no partition spec funnels the whole input
through ONE task (`WindowExec: No Partition Defined`) — correct on a
laptop, a straggler at 100 TB. These helpers decompose any global
running aggregate into three bounded stages:

  1. `range_chunk`: one `percentile_approx` pass yields n_chunks-1 cut
     points (tiny, broadcast); the chunk id is a pure monotone function
     of the sort key, so equal keys share a chunk and per-chunk order
     composes into the global order;
  2. per-chunk running aggregates via `Window.partitionBy("__chunk")` —
     |chunks| PARALLEL tasks instead of one;
  3. `chunk_offsets`: exclusive running offsets over the ≤ n_chunks-row
     totals table via a triangular broadcast self-join (≤ n_chunks²
     rows, no window at all); global value = offset + within-chunk.

Integer/decimal partials compose exactly, so results are bit-identical
to the single-window form (asserted by the oracle-parity suite). Skewed
keys only cost balance, never correctness: percentile cuts adapt to the
data distribution, and a fully-degenerate key (all rows equal) simply
collapses to the one-task plan you would have had anyway.

Neither primitive breaks the lineage: a break on the cut frame or the
totals reads no fewer parquet rows and adds build-time jobs. A caller
whose input is an expensive subtree read by several branches breaks it
before calling in (`functions.lineage.reuse`).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def range_chunk(
    df: DataFrame, key: str, n_chunks: int = 32, descending: bool = False
) -> DataFrame:
    """Add a coarse ordinal ``__chunk`` id along ``key``'s sort order.

    ``key`` must be a numeric (orderable-by-value) column. Chunk 0 holds
    the first values in the requested order; equal values always land in
    the same chunk.
    """
    if n_chunks <= 1:
        # degenerate request: one chunk, no cut points (an empty
        # percentile list yields NULL, which would NULL the chunk id)
        return df.withColumn("__chunk", F.lit(0))
    fracs = [i / n_chunks for i in range(1, n_chunks)]
    cuts = df.agg(F.percentile_approx(key, fracs, 10000).alias("__cuts"))
    op = ">" if descending else "<"
    return (
        df.crossJoin(F.broadcast(cuts))
        .withColumn(
            "__chunk",
            # coalesce guards the all-NULL-key degenerate input, where
            # percentile_approx returns NULL cut points
            F.coalesce(
                F.expr(f"size(filter(__cuts, c -> c {op} `{key}`))"), F.lit(0)
            ),
        )
        .drop("__cuts")
    )


def chunk_offsets(totals: DataFrame, sum_cols: list[str]) -> DataFrame:
    """EXCLUSIVE running offsets (``<col>_off``) over the tiny per-chunk
    totals table — triangular broadcast self-join, zero WindowExec."""
    a, b = totals.alias("a"), totals.alias("b")
    return (
        a.join(F.broadcast(b), F.col("b.__chunk") < F.col("a.__chunk"), "left")
        .groupBy(F.col("a.__chunk").alias("__chunk"))
        .agg(
            *[
                F.coalesce(F.sum(f"b.{c}"), F.lit(0).cast("long")).alias(f"{c}_off")
                for c in sum_cols
            ]
        )
    )


def global_cumsum(
    df: DataFrame,
    key_col: str,
    order: list[str | Column],
    value_col: str,
    n_chunks: int = 32,
    out_col: str = "__cumsum",
) -> DataFrame:
    """Exact INCLUSIVE running sum of ``value_col`` over the global order
    — the same chunked decomposition as `global_rank`, for an arbitrary
    long-typed value. Integer sums compose exactly across the chunk
    split."""
    chunked = range_chunk(df, key_col, n_chunks)
    w_in = (
        Window.partitionBy("__chunk")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    within = chunked.withColumn("__cs_in", F.sum(value_col).over(w_in))
    # per-chunk total = max of the monotone within-chunk cumsum (values
    # must be non-negative for the monotonicity shortcut; sums of counts/
    # token lengths are) — rides the window's exchange
    totals = within.groupBy("__chunk").agg(F.max("__cs_in").alias("__cs"))
    offsets = chunk_offsets(totals, ["__cs"])
    return (
        within.join(F.broadcast(offsets), "__chunk")
        .withColumn(out_col, F.col("__cs_off") + F.col("__cs_in"))
        .drop("__chunk", "__cs_in", "__cs_off")
    )


def global_rank(
    df: DataFrame,
    key_col: str,
    order: list[str | Column],
    n_chunks: int = 32,
    rank_col: str = "__rn",
    count_col: str | None = "__n",
) -> DataFrame:
    """Exact global ``row_number() OVER (ORDER BY *order)`` — distributed.

    ``key_col`` is a numeric column whose sort order is a prefix of
    ``order`` (ties broken by the remaining order columns WITHIN a
    chunk, which is exact because equal keys share a chunk). Optionally
    attaches the total row count as ``count_col`` (from the already-tiny
    chunk totals — no extra full scan).
    """
    chunked = range_chunk(df, key_col, n_chunks)
    w_in = Window.partitionBy("__chunk").orderBy(*order)
    within = chunked.withColumn("__rn_in", F.row_number().over(w_in))
    # per-chunk totals = max within-chunk row_number, aggregated FROM the
    # windowed frame: the groupBy key equals the window's partitioning, so
    # this branch rides the same exchange (exchange reuse) instead of
    # re-scanning the input for a second aggregation
    totals = within.groupBy("__chunk").agg(F.max("__rn_in").alias("__cnt"))
    offsets = chunk_offsets(totals, ["__cnt"])
    out = within.join(F.broadcast(offsets), "__chunk").withColumn(
        rank_col, F.col("__cnt_off") + F.col("__rn_in")
    )
    if count_col:
        n = totals.agg(F.sum("__cnt").alias(count_col))
        out = out.crossJoin(F.broadcast(n))
    return out.drop("__chunk", "__rn_in", "__cnt_off")
