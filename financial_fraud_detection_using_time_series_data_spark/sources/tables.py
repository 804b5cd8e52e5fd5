"""Parquet table loaders for the driver-generated test schema.

Mirrors the reference's scan surface (``src/data/loader.py:41-66`` — CSV
scan + optional identity scan) on the engine's canonical columnar format:
parquet with schema preserved, so Catalyst gets column pruning + predicate
pushdown for free. CSV remains available via :func:`read_csv`.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.local import local_frame

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# columns stored as TIMESTAMP(NANOS) in the driver parquet; Spark reads
# them as long (spark.sql.legacy.parquet.nanosAsLong) and we convert to
# microsecond timestamps. Integer `div` (not /) — nanos ~1.7e18 exceed
# double's 53-bit exact range. Truncation matches DuckDB's nanos->micros.
_NANO_TS_COLS = {"events": ["ts"]}


def normalize_scan_types(df: DataFrame, nano_cols=()) -> DataFrame:
    """Timestamp-type normalization applied to EVERY scan (batch or
    streaming) so downstream operators see one timestamp flavor whatever
    the producer wrote:

    - nanos-as-bigint (TIMESTAMP(NANOS) parquet read under
      ``spark.sql.legacy.parquet.nanosAsLong``) -> microsecond timestamp
      via integer ``div`` (nanos ~1.7e18 exceed double's 53-bit exact
      range; truncation matches DuckDB's nanos->micros);
    - TIMESTAMP_NTZ (plain tz-less timestamp[us] parquet, the current
      testdata format) -> TIMESTAMP (LTZ). The session is pinned UTC
      (session.py), so the cast is value-identical to DuckDB's naive
      semantics while restoring unix_micros()/double-cast support.
    """
    for c in nano_cols:
        if dict(df.dtypes).get(c) == "bigint":
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    for c, t in df.dtypes:
        if t == "timestamp_ntz":
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


# Lazy-DataFrame HANDLE memo (round 13, guide §4 "eliminate the
# boundary"): `spark.read.parquet` + the dtype normalization cost
# ~30-80 ms of py4j/footer/file-listing chatter per call, paid by every
# query build in a 287-query bench session. The memo stores the
# UNEXECUTED logical plan only — it is NOT result caching: no
# .persist()/.cache() is ever applied (pinned by
# tests/test_round13_fixes.py), so every action on the handle still
# scans the parquet inputs from scratch; two queries sharing a handle
# just share the analyzed relation node, exactly like a production
# session that registers tables once. Keyed by applicationId (stable
# per SparkContext — object ids can be reused after GC).
_TABLE_HANDLE_CACHE: dict[tuple, DataFrame] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    key = (spark.sparkContext.applicationId, sf_dir, name)
    cached = _TABLE_HANDLE_CACHE.get(key)
    if cached is not None:
        return cached
    # Self-sufficient on TIMESTAMP(NANOS) parquet: the driver (or any
    # embedding app) may hand us a vanilla SparkSession without the
    # legacy nanos config, and the scan then dies with
    # PARQUET_TYPE_ILLEGAL. Setting the conf at read time is safe — it
    # is a runtime-settable SQL conf — and idempotent.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    df = normalize_scan_types(df, _NANO_TS_COLS.get(name, []))
    _TABLE_HANDLE_CACHE[key] = df
    return df


def load_tables(spark: SparkSession, sf_dir: str, names=TABLES) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}


def fan_out(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Spread a narrow scan across the cluster before CPU-heavy per-row
    work. A small parquet file arrives as ONE input split, so an
    expensive map stage (per-token hashing, per-vector arithmetic) runs
    on a single core no matter how wide the cluster is; one round-robin
    shuffle of the (tiny) input buys full parallelism. No-op when the
    scan already has >= `min_partitions` splits — at production scale
    (many files / row groups) that is the normal case, so the shuffle
    never fires where it would actually cost something.
    """
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def load_stream_table(
    spark: SparkSession, path: str, schema, nano_cols=()
) -> DataFrame:
    """Streaming counterpart of `load_table`: a file-source readStream
    with the SAME `normalize_scan_types` pass applied, so streaming
    operators see the identical timestamp flavor as batch. Streaming
    parquet sources require an explicit schema (no inference on an
    unbounded source)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.readStream.schema(schema).parquet(path)
    return normalize_scan_types(df, nano_cols)


def read_csv(spark: SparkSession, path: str, schema=None, infer: bool = True) -> DataFrame:
    """CSV scan (reference: ``loader.py:41,46`` pd.read_csv with inference).

    Prefer an explicit schema — inference costs an extra pass and yields
    unstable types at scale.
    """
    reader = spark.read.option("header", True)
    if schema is not None:
        return reader.schema(schema).csv(path)
    return reader.option("inferSchema", infer).csv(path)


def read_csv_optional(spark: SparkSession, path: str, schema) -> DataFrame:
    """Conditional scan (reference ``loader.py:44-50``): empty typed frame
    when the file is absent, so downstream left joins still resolve."""
    if os.path.exists(path):
        return read_csv(spark, path, schema=schema)
    return local_frame(spark, [], schema)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """CSV sink (reference ``loader.py:186-195``)."""
    df.write.mode(mode).option("header", True).csv(path)


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite", partition_by=None) -> None:
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 16,
    sort_col: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed-table sink: pre-shuffle the data ONCE at write time so
    every later equi-join/agg on ``bucket_col`` between same-bucketed
    tables runs with ZERO exchanges — the decisive join strategy at
    100 TB, where re-shuffling the fact table per query is the dominant
    cost. Optional per-bucket sort makes the join a pure merge.
    ``test_sources.py::test_bucketed_join_no_shuffle`` pins the plan
    property (no Exchange under SortMergeJoin)."""
    w = df.write.mode(mode).bucketBy(n_buckets, bucket_col)
    if sort_col:
        w = w.sortBy(sort_col)
    w.saveAsTable(table)


def register_views(spark: SparkSession, sf_dir: str, names=TABLES) -> None:
    """Expose the catalog to the Spark SQL surface: one temp view per
    table, so every engine operation is equally reachable via
    ``spark.sql(...)`` (the reference has no SQL surface at all)."""
    for n in names:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)


def zorder_value(a, b, bits: int = 12):
    """Morton (Z-order) key from two bucket ids in [0, 2^bits): bit
    interleave, built from shift/AND built-ins so it codegens. Input
    columns must already be integral bucket ids."""
    z = F.lit(0).cast("long")
    a = a.cast("long")
    b = b.cast("long")
    for i in range(bits):
        bit_a = F.shiftright(a, i).bitwiseAND(F.lit(1))
        bit_b = F.shiftright(b, i).bitwiseAND(F.lit(1))
        z = z + F.shiftleft(bit_a, 2 * i + 1) + F.shiftleft(bit_b, 2 * i)
    return z


def zorder_layout(
    df: DataFrame,
    col_a: str,
    col_b: str,
    n_partitions: int = 32,
    bits: int = 12,
) -> DataFrame:
    """Z-order clustering across TWO dimensions (Delta OPTIMIZE ZORDER
    semantics, plain-Spark form): linear-scale both columns into 2^bits
    buckets (one min/max agg, broadcast), interleave into a Morton key,
    then range-partition + sort by it.

    Why at 100 TB: parquet row-group min/max stats prune scans only when
    values cluster within files. Sorting by ONE column gives perfect
    pruning on it and none on the other; the Morton key bounds BOTH
    dims per file (each partition covers ~1/sqrt(P) of each dim's
    range), so selective filters on either column skip most row groups.
    Write the result with `write_parquet` to materialize the layout.
    Linear bucketing keeps the key rank-free (no global sort to fit);
    swap in percentile cut-points for heavily skewed dims."""
    stats = df.agg(
        F.min(col_a).alias("__amin"),
        F.max(col_a).alias("__amax"),
        F.min(col_b).alias("__bmin"),
        F.max(col_b).alias("__bmax"),
    )
    top = (1 << bits) - 1
    scaled = df.crossJoin(F.broadcast(stats)).select(
        "*",
        F.floor(
            (F.col(col_a) - F.col("__amin"))
            / F.nullif(F.col("__amax") - F.col("__amin"), F.lit(0))
            * top
        )
        .cast("long")
        .alias("__ba"),
        F.floor(
            (F.col(col_b) - F.col("__bmin"))
            / F.nullif(F.col("__bmax") - F.col("__bmin"), F.lit(0))
            * top
        )
        .cast("long")
        .alias("__bb"),
    )
    keyed = scaled.select(
        *df.columns,
        zorder_value(
            F.coalesce(F.col("__ba"), F.lit(0)), F.coalesce(F.col("__bb"), F.lit(0)), bits
        ).alias("__z"),
    )
    return (
        keyed.repartitionByRange(n_partitions, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
    )


def read_jsonl(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """JSON-lines scan. With an explicit schema the reader is a single
    streaming pass (no inference job) and unparseable rows land in
    ``_corrupt_record``-free PERMISSIVE nulls; prefer explicit schemas at
    scale for the same reason as CSV (inference double-scans)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def write_jsonl(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """JSON-lines sink — the interchange format LLM-corpus tooling
    expects (one doc per line). Compression and partitioning follow the
    standard writer options."""
    df.write.mode(mode).json(path)


def compact_files(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    out_path: str | None = None,
) -> int:
    """Small-file compaction: rewrite a parquet directory into
    ``ceil(total_bytes / target_file_bytes)`` files and return the file
    count. The streaming/CDC ingestion pattern produces thousands of
    KB-sized files whose per-file open/footer cost dominates scans; the
    fix is a periodic rewrite sized from the data, not a guessed
    ``coalesce(n)``.

    Uses repartition (full shuffle) rather than coalesce: coalesce would
    collapse upstream parallelism into the few output tasks and can't
    split large files. In-place compaction writes to a temp dir then
    swaps, so readers never see a half-written directory.

    Sizing and the swap go through the Hadoop FileSystem API, so the
    path may live on any supported filesystem (file://, hdfs://,
    s3a://...) — a local-only pathlib walk would read 0 bytes for a
    remote table and collapse it into a single file.
    """
    import math

    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    src = jvm.org.apache.hadoop.fs.Path(path)
    fs = src.getFileSystem(hconf)
    total = fs.getContentSummary(src).getLength()
    n_files = max(1, math.ceil(total / target_file_bytes))
    dest = out_path or (path.rstrip("/") + "__compact_tmp")
    df = spark.read.parquet(path)
    df.repartition(n_files).write.mode("overwrite").parquet(dest)
    if out_path is None:
        dst = jvm.org.apache.hadoop.fs.Path(dest)
        fs.delete(src, True)
        fs.rename(dst, src)
    return n_files
