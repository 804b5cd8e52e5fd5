"""SparkSession factory tuned for both local testing and cluster scale.

Local mode (``local[N]``) is a single JVM; the same configs are what we'd
ship to a 1000-executor cluster job except for master/memory:

- AQE on: runtime coalescing of shuffle partitions, skew-join splitting —
  the main defense for Zipf-skewed user/device keys at 100 TB.
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a real
  cluster AQE's coalesce makes the initial number mostly a ceiling.
- Arrow enabled for every pandas interop (Pandas UDFs, toPandas).
- Session timezone pinned UTC so timestamp semantics match the DuckDB
  oracle (DuckDB timestamps are UTC-naive).
- The generated-code cache holds ``CODEGEN_CACHE_ENTRIES`` classes, not
  Spark's default 100. The engine runs the same feature queries again and
  again (batch retrains, streaming micro-batches, benchmark passes), and
  the six-entry perfbench ``registry`` pass alone keeps more than 100
  generated classes live. At 100 entries LRU eviction made every pass
  recompile 80-100 of them through Janino, at about 10-20 ms each.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Size of Spark's compiled-class cache (`spark.sql.codegen.cache.maxEntries`,
# default 100). Measured on 4 cores with perfbench's sf0.01 tables by
# counting CodegenMetrics compilations over passes 1-6 of one session: the
# registry pass keeps more generated classes live than 100, so LRU
# eviction recompiled 83-108 classes every pass; at 1000 a pass compiles
# 0-6, all of them tfidf_top_terms stages whose whole-stage codegen ids
# AQE numbers in the order its concurrent stages finish. 1000 is several
# times that working set, which leaves room for more queries and AQE
# re-plans without evicting.
CODEGEN_CACHE_ENTRIES = 1000


def get_spark(
    app_name: str = "spark-fraud-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # Whole-stage codegen emits one unique class per query shape; a
        # long-lived session running many distinct queries (bench, the
        # driver's correctness sweep) fills the JVM's default 240 MB JIT
        # code cache, after which the compiler shuts off and EVERYTHING
        # runs interpreted (~10x: measured 60s vs 5s on the same query
        # late vs early in a bench session). Only effective when this
        # builder launches the JVM (pyspark passes it to spark-submit);
        # a pre-existing gateway keeps its own flags.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing",
        )
        # long single-JVM sessions (bench: 200+ distinct queries × 3
        # executions) accumulate broadcast blocks and shuffle state whose
        # cleanup piggybacks on driver GC; the default periodicGC of 30min
        # never fires inside a 15-min session, so late queries run against
        # a bloated old-gen (measured: same query 0.5s fresh vs 4.4s late).
        # A 2-min periodic GC keeps the ContextCleaner draining.
        .config("spark.cleaner.periodicGC.interval", "2min")
        # A static conf, read once when the JVM first generates code: like
        # ReservedCodeCacheSize above, it only takes effect when this
        # builder launches the JVM.
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # driver testdata writes TIMESTAMP(NANOS) parquet, which Spark
        # rejects by default; read as long then convert (tables.load_table)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # bucketed tables (write_bucketed) live under the warehouse dir;
        # keep it out of the repo
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark-fraud-warehouse"),
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def codegen_compiles(spark: SparkSession) -> int:
    """Classes Janino has compiled in this JVM so far (every session on it).
    The difference over a span of work is how many generated classes that
    work compiled, i.e. missed the compiled-class cache."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()
