"""Driver-side frames: the bounded Arrow fetch and the local relation.

`functions.local.fetch_bounded` decides a hybrid operator's path with one
job, and `local_frame` hands a driver-built result back as a
`LocalTableScan`. These tests pin the fetch's boundary, the graph
operators' threshold meaning (the symmetrized list, 2·|edges| rows), and
that driver-solved registry entries plan as local relations with no
parallelized RDD scan.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, LongType, StructField, StructType

import __spark_entry__ as entrymod
from financial_fraud_detection_using_time_series_data_spark.functions.local import (
    fetch_bounded,
    local_frame,
)
from financial_fraud_detection_using_time_series_data_spark.operators import (
    events as events_ops,
)


def _executed_plan(df) -> str:
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def test_fetch_bounded_boundary(spark):
    df = spark.range(5)
    table = fetch_bounded(df, 5)
    assert table is not None
    assert sorted(table.column("id").to_pylist()) == [0, 1, 2, 3, 4]
    assert fetch_bounded(df, 4) is None
    assert fetch_bounded(df, -1) is None
    empty = fetch_bounded(df.where(F.lit(False)), 0)
    assert empty is not None and empty.num_rows == 0
    assert fetch_bounded(df, 0) is None


def test_local_frame_round_trips_rows_as_local_relation(spark):
    rows = [(1, 2.5, "a", [1.0, 2.0], True), (2, None, None, None, None)]
    df = local_frame(
        spark, rows, "id long, x double, s string, v array<double>, f boolean"
    )
    assert [tuple(r) for r in df.orderBy("id").collect()] == rows
    assert df.schema.simpleString() == (
        "struct<id:bigint,x:double,s:string,v:array<double>,f:boolean>"
    )
    plan = _executed_plan(df.select("id", (F.col("x") * 2).alias("x2")))
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan

    schema = StructType(
        [StructField("k", LongType(), False), StructField("b", BinaryType())]
    )
    typed = local_frame(spark, [(7, bytearray(b"ab"))], schema)
    assert typed.schema == schema
    assert [tuple(r) for r in typed.collect()] == [(7, bytearray(b"ab"))]
    assert local_frame(spark, [], "a int, b string").count() == 0


@pytest.mark.parametrize(
    "name",
    [
        "pagerank",
        "label_propagation",
        "kcore",
        "gesd_outliers",
        "pacf",
        "isotonic_calibration",
    ],
)
def test_driver_solved_entries_plan_as_local_relations(spark, sf_dir, name):
    """A driver-side result is a LocalTableScan: the sink over it reads
    the rows from the plan, with no job over a parallelized RDD."""
    plan = _executed_plan(entrymod.queries()[name](spark, sf_dir))
    assert "LocalTableScan" in plan, plan
    assert "ExistingRDD" not in plan, plan


@pytest.mark.parametrize("name", ["pagerank", "kcore"])
def test_graph_threshold_counts_symmetrized_edges(
    spark, sf_dir, monkeypatch, name
):
    """The driver path is taken exactly when the symmetrized edge list
    (2·|edges| rows) has at most `_GRAPH_DRIVER_THRESHOLD` rows."""
    ev = entrymod._events(spark, sf_dir)
    n_edges = events_ops.shared_attr_edges(
        ev, F.col("value"), min_degree=2, max_degree=10
    ).count()
    assert n_edges > 0
    fn = entrymod.queries()[name]

    monkeypatch.setattr(events_ops, "_GRAPH_DRIVER_THRESHOLD", 2 * n_edges)
    driver_plan = _executed_plan(fn(spark, sf_dir))
    assert "LocalTableScan" in driver_plan, driver_plan
    assert "ExistingRDD" not in driver_plan, driver_plan

    monkeypatch.setattr(events_ops, "_GRAPH_DRIVER_THRESHOLD", 2 * n_edges - 1)
    dist_plan = _executed_plan(fn(spark, sf_dir))
    assert "LocalTableScan" not in dist_plan, dist_plan
    assert "Exchange" in dist_plan, dist_plan
