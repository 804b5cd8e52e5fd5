"""S1/S2/S3/S4 source/sink coverage: CSV round-trip, optional scan,
synthetic generator shape/determinism."""

from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from financial_fraud_detection_using_time_series_data_spark.sources import (
    generate_transactions,
    load_table,
)
from financial_fraud_detection_using_time_series_data_spark.sources.tables import (
    read_csv,
    read_csv_optional,
    write_csv,
)


def test_csv_round_trip(spark, sf_dir, tmp_path):
    orders = load_table(spark, sf_dir, "orders").limit(200)
    path = str(tmp_path / "orders_csv")
    write_csv(orders, path)
    back = read_csv(spark, path)
    assert back.count() == 200
    assert set(back.columns) == set(orders.columns)
    # numeric column survives the round trip with values intact
    a = orders.agg(F.sum("o_totalprice")).collect()[0][0]
    b = back.agg(F.sum(F.col("o_totalprice").cast("double"))).collect()[0][0]
    assert abs(a - b) < 1e-4


def test_optional_scan_missing_file(spark, tmp_path):
    schema = StructType().add("TransactionID", "long").add("DeviceType", "string")
    df = read_csv_optional(spark, str(tmp_path / "missing.csv"), schema)
    assert df.count() == 0
    assert df.schema == schema


def test_synthetic_generator_deterministic(spark):
    a = generate_transactions(spark, n=2000, fraud_rate=0.05, seed=11)
    b = generate_transactions(spark, n=2000, fraud_rate=0.05, seed=11)
    assert a.count() == 2000
    ha = a.selectExpr("sum(hash(*)) h").collect()[0].h
    hb = b.selectExpr("sum(hash(*)) h").collect()[0].h
    assert ha == hb, "same seed must give identical data"
    rate = a.agg(F.avg("isFraud")).collect()[0][0]
    assert 0.02 < rate < 0.10


def test_sql_surface(spark, sf_dir):
    """register_views + spark.sql: the engine's SQL plane."""
    from financial_fraud_detection_using_time_series_data_spark.sources.tables import (
        register_views,
    )

    register_views(spark, sf_dir)
    out = spark.sql(
        """
        SELECT l_returnflag, count(*) AS n,
               sum(CAST(l_quantity AS DECIMAL(25,2))) AS qty
        FROM lineitem WHERE l_shipdate <= DATE '1998-09-02'
        GROUP BY l_returnflag ORDER BY l_returnflag
        """
    ).collect()
    assert len(out) >= 2 and all(r.n > 0 for r in out)


def test_partitioned_write_prunes(spark, sf_dir, tmp_path):
    """Partitioned parquet sink + partition pruning on read-back: the
    scan of one partition must show PartitionFilters, not a full scan."""
    import contextlib
    import io

    from financial_fraud_detection_using_time_series_data_spark.sources.tables import (
        write_parquet,
    )

    ev = load_table(spark, sf_dir, "events")
    path = str(tmp_path / "events_by_type")
    write_parquet(ev, path, partition_by=["event_type"])
    back = spark.read.parquet(path).filter(F.col("event_type") == "purchase")

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        back.explain("formatted")
    plan = buf.getvalue()
    line = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert line and "event_type" in line[0], plan[:1500]
    assert back.count() == ev.filter(F.col("event_type") == "purchase").count()


def test_bucketed_join_no_shuffle(spark, sf_dir):
    """Bucketed co-located join: two tables bucketed on the same key must
    join with ZERO Exchange operators — the decisive 100 TB join strategy
    (pre-shuffle once at write time, every later join is shuffle-free)."""
    import contextlib
    import io

    from financial_fraud_detection_using_time_series_data_spark.sources.tables import (
        write_bucketed,
    )

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").withColumnRenamed(
        "c_custkey", "o_custkey"
    )
    write_bucketed(orders, "b_orders", "o_custkey", n_buckets=8, sort_col="o_custkey")
    write_bucketed(cust, "b_customer", "o_custkey", n_buckets=8, sort_col="o_custkey")
    try:
        # disable broadcast so the join would otherwise be a shuffled SMJ
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("b_orders").join(spark.table("b_customer"), "o_custkey")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            joined.explain("formatted")
        plan = buf.getvalue()
        assert "SortMergeJoin" in plan, plan[:1500]
        assert "Exchange" not in plan, plan[:1500]
        # and it actually returns the right row count
        assert joined.count() == spark.table("b_orders").count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_customer")


def test_zorder_layout_bounds_both_dims(spark, sf_dir):
    """Z-order layout must cluster BOTH dimensions: the average fraction
    of each dim's global range covered per partition has to be far below
    the ~100% an unsorted layout shows, on value AND user_id at once
    (a single-dim sort only achieves it on its own column)."""
    from financial_fraud_detection_using_time_series_data_spark.sources.tables import (
        zorder_layout,
    )

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")

    def coverage(df, col):
        lo, hi = df.agg(F.min(col), F.max(col)).first()
        per_part = (
            df.withColumn("__pid", F.spark_partition_id())
            .groupBy("__pid")
            .agg((F.max(col) - F.min(col)).alias("span"))
            .agg(F.avg("span"))
            .first()[0]
        )
        return per_part / (hi - lo)

    z = zorder_layout(ev, "value", "user_id", n_partitions=16).cache()
    z.count()
    cov_value = coverage(z, "value")
    cov_user = coverage(z, "user_id")
    z.unpersist()
    # 16 partitions over a 2-d morton curve -> each covers ~1/4 of each
    # dim's range; allow generous slack but stay far below unsorted (~1.0)
    assert cov_value < 0.6, f"value coverage {cov_value}"
    assert cov_user < 0.6, f"user coverage {cov_user}"

    single = ev.repartitionByRange(16, "value").sortWithinPartitions("value").cache()
    single.count()
    cov_user_single = coverage(single, "user_id")
    single.unpersist()
    assert cov_user_single > cov_user, (
        "z-order should bound the second dim better than a single-dim sort "
        f"({cov_user} !< {cov_user_single})"
    )


def test_partitioned_sink_prunes_partitions(spark, sf_dir, tmp_path):
    """S4: date-partitioned parquet layout must let a day filter prune at
    the PLAN level (PartitionFilters), not scan-and-discard — the
    difference between reading one day and reading 100 TB."""
    from financial_fraud_detection_using_time_series_data_spark.sources.tables import (
        write_parquet,
    )

    ev = load_table(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    path = str(tmp_path / "ev_by_day")
    write_parquet(ev, path, partition_by=["day"])

    back = spark.read.parquet(path)
    one_day = back.select("day").distinct().orderBy("day").limit(1).collect()[0].day
    q = back.filter(F.col("day") == F.lit(one_day))

    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        q.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "day" in plan, plan
    # correctness: pruned read returns exactly that day's rows
    want = ev.filter(F.to_date("ts") == F.lit(one_day)).count()
    assert q.count() == want


def test_schema_diff_flags_all_change_kinds(spark):
    from financial_fraud_detection_using_time_series_data_spark.sources.profiler import (
        schema_diff,
    )

    before = spark.createDataFrame(
        [(1, "x", 2.0, 5)], "id long, keep string, retyped double, dropped int"
    )
    after = spark.createDataFrame(
        [(1, "x", "now_str", True)], "id long, keep string, retyped string, added boolean"
    )
    out = {r.col_name: (r.change, r.before, r.after) for r in schema_diff(before, after).collect()}
    assert out["added"] == ("ADDED", None, "boolean")
    assert out["dropped"] == ("REMOVED", "int", None)
    assert out["retyped"] == ("TYPE_CHANGED", "double", "string")
    assert "id" not in out and "keep" not in out
    # identical schemas -> empty diff
    assert schema_diff(before, before).count() == 0


def test_load_table_handle_is_bound_to_its_own_session(spark, sf_dir):
    """A newSession() on the same context gets its own handle, and the
    nanosAsLong conf is set on a memo hit too."""
    conf = "spark.sql.legacy.parquet.nanosAsLong"
    other = spark.newSession()
    mine = load_table(spark, sf_dir, "events")
    theirs = load_table(other, sf_dir, "events")
    assert theirs is not mine
    assert theirs.sparkSession is other
    assert theirs._jdf.sparkSession().equals(other._jsparkSession)
    assert theirs.schema == mine.schema
    other.conf.unset(conf)
    assert load_table(other, sf_dir, "events") is theirs
    assert other.conf.get(conf) == "true"
    assert theirs.count() == mine.count() > 0

