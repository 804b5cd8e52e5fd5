"""Driver-side frames: the bounded Arrow fetch and the local relation.

`functions.local.fetch_bounded` decides a hybrid operator's path with one
job, and `local_frame` hands a driver-built result back as a
`LocalTableScan`. These tests pin the fetch's boundary, what
`local.DRIVER_ROWS` counts for each hybrid (the symmetrized edge list
for the graph operators and union-find, the rollup rows for ESD), that
every bounded fetch is limited by that one bound, and that driver-solved
registry entries plan as local relations with no parallelized RDD scan.
"""

from __future__ import annotations

import ast
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, LongType, StructField, StructType

import __spark_entry__ as entrymod
from financial_fraud_detection_using_time_series_data_spark.functions import local
from financial_fraud_detection_using_time_series_data_spark.functions.local import (
    fetch_bounded,
    local_frame,
)
from financial_fraud_detection_using_time_series_data_spark.operators import (
    dedup,
    events as events_ops,
)

from .test_lineage import PKG, ROOT, _calls, _sources


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
    (2·|edges| rows) has at most `local.DRIVER_ROWS` rows."""
    ev = entrymod._events(spark, sf_dir)
    n_edges = events_ops.shared_attr_edges(
        ev, F.col("value"), min_degree=2, max_degree=10
    ).count()
    assert n_edges > 0
    fn = entrymod.queries()[name]

    monkeypatch.setattr(local, "DRIVER_ROWS", 2 * n_edges)
    driver_plan = _executed_plan(fn(spark, sf_dir))
    assert "LocalTableScan" in driver_plan, driver_plan
    assert "ExistingRDD" not in driver_plan, driver_plan

    monkeypatch.setattr(local, "DRIVER_ROWS", 2 * n_edges - 1)
    dist_plan = _executed_plan(fn(spark, sf_dir))
    assert "LocalTableScan" not in dist_plan, dist_plan
    assert "Exchange" in dist_plan, dist_plan


def test_union_find_bound_counts_symmetric_edges(spark, monkeypatch):
    """`connected_components` solves on the driver exactly when its
    deduped symmetric edge list has at most `local.DRIVER_ROWS` rows: a
    6-node chain plus an island is 6 pairs, 12 symmetric edges."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (10, 11), (2, 1)],
        "id_a long, id_b long",
    )
    want = {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 1, 10: 10, 11: 10}

    monkeypatch.setattr(local, "DRIVER_ROWS", 12)
    driver = dedup.connected_components(pairs)
    driver_plan = _executed_plan(driver)
    assert "LocalTableScan" in driver_plan, driver_plan
    assert "ExistingRDD" not in driver_plan, driver_plan
    assert {r.node: r.component for r in driver.collect()} == want

    monkeypatch.setattr(local, "DRIVER_ROWS", 11)
    dist = dedup.connected_components(pairs)
    dist_plan = _executed_plan(dist)
    assert "LocalTableScan" not in dist_plan, dist_plan
    assert {r.node: r.component for r in dist.collect()} == want


def _jobs(spark, fn) -> tuple:
    """(rows, jobs): ``fn()`` built and collected under one job group."""
    sc = spark.sparkContext
    group = "driver-rows-bound"
    sc.setJobGroup(group, group)
    try:
        rows = sorted(tuple(r) for r in fn().collect())
    finally:
        sc.setJobGroup("", "")
    return rows, len(sc.statusTracker().getJobIdsForGroup(group))


def test_esd_bound_counts_rollup_rows(spark, sf_dir, monkeypatch):
    """`gesd_outliers` runs its k = 5 rounds on the driver exactly when
    the non-NULL (series, hour) rollup has at most `local.DRIVER_ROWS`
    rows; one row fewer runs each round as at least one Spark job."""
    ev = entrymod._events(spark, sf_dir)
    n_rollup = (
        ev.where(F.col("event_type").isNotNull())
        .select("event_type", F.date_trunc("hour", F.col("ts")))
        .distinct()
        .count()
    )
    assert n_rollup > 0
    fn = entrymod.queries()["gesd_outliers"]

    monkeypatch.setattr(local, "DRIVER_ROWS", n_rollup)
    driver_rows, driver_jobs = _jobs(spark, lambda: fn(spark, sf_dir))
    monkeypatch.setattr(local, "DRIVER_ROWS", n_rollup - 1)
    dist_rows, dist_jobs = _jobs(spark, lambda: fn(spark, sf_dir))
    assert driver_rows and driver_rows == dist_rows
    assert dist_jobs >= driver_jobs + 5, (driver_jobs, dist_jobs)


def _tree(rel):
    with open(os.path.join(ROOT, rel)) as f:
        return ast.parse(f.read(), rel)


def _names(node) -> set:
    return {
        n.id if isinstance(n, ast.Name) else n.attr
        for n in ast.walk(node)
        if isinstance(n, (ast.Name, ast.Attribute))
    }


def _limit(call):
    """The ``limit`` argument of a `fetch_bounded` call, else None."""
    func = call.func
    if getattr(func, "id", getattr(func, "attr", None)) != "fetch_bounded":
        return None
    given = call.args[1:] + [k.value for k in call.keywords if k.arg == "limit"]
    return given[0] if given else ast.Constant(None)


def test_every_bounded_fetch_is_limited_by_driver_rows():
    """A driver solve's size is set in one place: each `fetch_bounded`
    call's limit is computed from `DRIVER_ROWS`, and only
    `functions/local.py` assigns it."""
    loose = [
        f"{rel}:{c.lineno}"
        for rel in _sources()
        for c in _calls(rel)
        if _limit(c) is not None
        and "DRIVER_ROWS" not in _names(_limit(c))
    ]
    assert not loose, f"bound these fetches by local.DRIVER_ROWS: {loose}"

    assigned = [
        f"{rel}:{t.lineno}"
        for rel in _sources()
        if rel != os.path.join(PKG, "functions", "local.py")
        for n in ast.walk(_tree(rel))
        if isinstance(n, (ast.Assign, ast.AugAssign, ast.AnnAssign))
        for t in (n.targets if isinstance(n, ast.Assign) else [n.target])
        if "DRIVER_ROWS" in _names(t)
    ]
    assert not assigned, f"DRIVER_ROWS is set only in functions/local.py: {assigned}"
