"""Distribution summary of a directory of the ten input tables.

Prints the figures `datagen.py` is fitted to, so generated tables can be
compared with the engine's test tables line by line:

    python3 perfbench/datastats.py DIR [DIR ...]

Per table: row count; per key column: distinct values and the largest
and mean rows per value (key skew); `events.value`: mean, quantiles,
maximum and exact multiples of 100; `documents.text`: vocabulary,
words per document and the share of near-duplicates (texts that end in
" dup").
"""

from __future__ import annotations

import sys

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq

from datagen import TABLES

KEYS = {
    "customer": ["c_nationkey", "c_mktsegment"],
    "orders": ["o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["user_id", "event_type"],
    "documents": ["lang"],
    "embeddings": ["label"],
}


def summary(d: str) -> list[str]:
    out = []
    for t in TABLES:
        table = pq.read_table(f"{d}/{t}.parquet")
        out.append(f"{t}.rows {table.num_rows}")
        for c in KEYS.get(t, []):
            counts = pc.value_counts(table[c]).field("counts").to_numpy()
            out.append(f"{t}.{c} distinct={len(counts)} max/mean={counts.max()}/{counts.mean():.1f}")
    v = pq.read_table(f"{d}/events.parquet", columns=["value"])["value"].to_numpy()
    q = np.quantile(v, [0.5, 0.9, 0.99])
    out.append(
        f"events.value mean={v.mean():.1f} p50/p90/p99={q[0]:.1f}/{q[1]:.1f}/{q[2]:.1f} "
        f"max={v.max():.1f} x100={int((np.fmod(v, 100) == 0).sum())}"
    )
    texts = pq.read_table(f"{d}/documents.parquet", columns=["text"])["text"].to_pylist()
    words = [len(x.split()) for x in texts]
    vocab = {w for x in texts for w in x.split()}
    dups = sum(x.endswith(" dup") for x in texts)
    out.append(
        f"documents.text vocab={len(vocab)} words={min(words)}..{max(words)} "
        f"mean={np.mean(words):.1f} near_dup={dups / len(texts):.3f}"
    )
    return out


def main(dirs: list[str]) -> None:
    cols = [summary(d) for d in dirs]
    print("\n".join(" | ".join(row) for row in zip(*cols)))


if __name__ == "__main__":
    main(sys.argv[1:])
