"""The session factory's compiled-class cache holds a repeated working set."""

from financial_fraud_detection_using_time_series_data_spark.session import (
    CODEGEN_CACHE_ENTRIES,
    codegen_compiles,
)

# Spark's default `spark.sql.codegen.cache.maxEntries`
SPARK_DEFAULT_ENTRIES = 100


def test_repeated_queries_beyond_the_default_cache_compile_once(spark):
    """60 distinct projections make 120 generated classes (the stage and the
    collect's row conversion), more than Spark's default 100-entry cache
    holds. Running them again must compile nothing: at the default, LRU
    eviction recompiled 97 of them."""
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)
    exprs = [f"id * {k} as s" for k in range(60)]

    def compiles_of_one_round() -> int:
        before = codegen_compiles(spark)
        for e in exprs:
            spark.range(4).selectExpr(e).collect()
        return codegen_compiles(spark) - before

    assert compiles_of_one_round() > SPARK_DEFAULT_ENTRIES
    assert compiles_of_one_round() == 0
