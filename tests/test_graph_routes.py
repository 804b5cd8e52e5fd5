"""The capped shared-attribute graph's three routes.

`events._driver_graph` builds `_capped_edges`' edge set on the driver
from one bounded fetch of the (attr, entity) rows. These tests pin its
edge-set parity with the Spark construction on adversarial rows, the
types it leaves to Spark, its two bounds (T // 2 raw rows, T symmetric
edges, with T = `local.DRIVER_ROWS`), that the fetch is one job reading
one partition, and that the driver-build and Spark-build routes return
bit-identical rows.
"""

from __future__ import annotations

import struct

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from financial_fraud_detection_using_time_series_data_spark.functions import local
from financial_fraud_detection_using_time_series_data_spark.operators import (
    events as events_ops,
)

NAN = float("nan")
# a NaN with another payload and the sign bit set
NAN_B = struct.unpack("<d", struct.pack("<Q", 0xFFF8_0000_0000_0001))[0]

# min_degree 2, max_degree 3
ADVERSARIAL = [
    (None, 1), (None, 2),                       # NULL attr: dropped
    (NAN, 20), (NAN_B, 21), (NAN, 22),          # every NaN: one group
    (-0.0, 23), (0.0, 24),                      # -0.0 groups with 0.0
    (7.0, 25), (7.0, 25), (7.0, 26),            # duplicate rows
    (8.0, None), (8.0, 27),                     # NULL counts, emits nothing
    (9.0, None), (9.0, 28), (9.0, 29),          # degree 3 with the NULL
    (10.0, None), (10.0, 1), (10.0, 2), (10.0, 3),  # NULL lifts it over
    (11.0, 30), (11.0, 31),                     # exactly min_degree
    (12.0, 32), (12.0, 33), (12.0, 34),         # exactly max_degree
    (13.0, 1), (13.0, 2), (13.0, 3), (13.0, 4),  # hub above the cap
    (14.0, 5),                                  # below min_degree
    (15.0, 30), (15.0, 31),                     # edge seen twice
]


def _edge_set(pairs) -> set:
    u, v = pairs
    return set(zip(u.tolist(), v.tolist()))


def _spark_edge_set(df) -> set:
    edges = events_ops._capped_edges(df, F.col("attr"), "u", 2, 3)
    return {(r.u, r.v) for r in edges.collect()}


def test_driver_graph_matches_capped_edges_on_adversarial_rows(spark):
    df = spark.createDataFrame(ADVERSARIAL, "attr double, u long")
    built = events_ops._driver_graph(df, F.col("attr"), "u", 2, 3)
    assert built is not None
    got = _edge_set(built)
    assert got == _spark_edge_set(df)
    assert got == {
        (20, 21), (20, 22), (21, 22), (23, 24), (25, 26), (28, 29),
        (30, 31), (32, 33), (32, 34), (33, 34),
    }
    assert all(u < v for u, v in got)


@pytest.mark.parametrize(
    "ddl, rows",
    [
        ("attr string, u long",
         [("a", 3), ("a", 1), ("A", 2), ("A", 4), ("", 5), ("", 6),
          ("é", 7), ("é", 8), ("b", 1), ("b", 2), ("b", 3), ("b", 4)]),
        ("attr int, u int",
         [(1, -3), (1, 2), (2, 2), (2, 5), (2, -3), (3, 9), (None, 1),
          (4, 1), (4, 2), (4, 3), (4, 5)]),
    ],
)
def test_driver_graph_matches_capped_edges_on_other_attr_types(
    spark, ddl, rows
):
    df = spark.createDataFrame(rows, ddl)
    built = events_ops._driver_graph(df, F.col("attr"), "u", 2, 3)
    assert built is not None
    got = _edge_set(built)
    assert got and got == _spark_edge_set(df)


@pytest.mark.parametrize(
    "ddl", ["attr decimal(10,2), u long", "attr double, u string"]
)
def test_driver_graph_leaves_other_types_to_spark(spark, ddl):
    df = spark.createDataFrame([], ddl)
    assert events_ops._driver_graph(df, F.col("attr"), "u", 2, 3) is None


def _pair_rows(n_rows: int) -> list:
    """``n_rows`` rows of attrs each held by two entities (n_rows // 2
    edges, 2 raw rows per edge), plus one odd row of degree 1."""
    return [(float(i // 2), i) for i in range(n_rows)]


def test_driver_graph_raw_row_bound(spark, monkeypatch):
    """The fetch takes at most T // 2 rows: T // 2 rows build, one more
    takes the Spark route."""
    monkeypatch.setattr(local, "DRIVER_ROWS", 12)
    fits = spark.createDataFrame(_pair_rows(6), "attr double, u long")
    over = spark.createDataFrame(_pair_rows(7), "attr double, u long")
    assert _edge_set(
        events_ops._driver_graph(fits, F.col("attr"), "u", 2, 3)
    ) == {(0, 1), (2, 3), (4, 5)}
    assert events_ops._driver_graph(over, F.col("attr"), "u", 2, 3) is None


def test_driver_graph_symmetric_edge_bound(spark, monkeypatch):
    """One attr of 4 entities: 4 rows, 6 edges, 12 symmetric edges. The
    rows fit T // 2 at T = 11, the graph does not."""
    df = spark.createDataFrame(
        [(1.0, u) for u in range(4)], "attr double, u long"
    )
    monkeypatch.setattr(local, "DRIVER_ROWS", 12)
    assert len(events_ops._driver_graph(df, F.col("attr"), "u", 2, 4)[0]) == 6
    monkeypatch.setattr(local, "DRIVER_ROWS", 11)
    assert events_ops._driver_graph(df, F.col("attr"), "u", 2, 4) is None


def test_driver_graph_probe_is_one_job_on_one_partition(
    spark, tmp_path, monkeypatch
):
    """Above the bound on a 4-file input, the probe is ONE job of ONE
    task, and its scan reads at most limit + 1 rows (the row-based
    parquet reader counts every row it yields)."""
    path = str(tmp_path / "rows")
    spark.createDataFrame(
        _pair_rows(400), "attr double, u long"
    ).repartition(4).write.parquet(path)
    df = spark.read.parquet(path)
    assert df.rdd.getNumPartitions() == 4
    monkeypatch.setattr(local, "DRIVER_ROWS", 20)
    sc = spark.sparkContext
    group = "graph-probe-bound"
    spark.conf.set("spark.sql.parquet.enableVectorizedReader", "false")
    try:
        sc.setJobGroup(group, group)
        assert events_ops._driver_graph(df, F.col("attr"), "u", 2, 3) is None
    finally:
        sc.setJobGroup("", "")
        spark.conf.unset("spark.sql.parquet.enableVectorizedReader")
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) == 1
    stage_ids = sc.statusTracker().getJobInfo(jobs[0]).stageIds
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    stages = [store.lastStageAttempt(sid) for sid in stage_ids]
    assert sum(s.numTasks() for s in stages) == 1
    assert 0 < sum(s.inputRecords() for s in stages) <= 20 // 2 + 1


def test_graph_driver_build_and_spark_build_identical(
    spark, sf_dir, monkeypatch
):
    """At the test scale the default cutoff builds the graph on the
    driver; a cutoff below the raw row count but above 2·|edges| builds
    it in Spark and solves it on the driver. Both give the same rows
    (`test_graph_driver_and_distributed_paths_identical` holds the
    distributed rounds to the same rows)."""
    ev = entrymod._events(spark, sf_dir)
    n_rows = ev.where(F.col("value").isNotNull()).count()
    n_edges = events_ops.shared_attr_edges(
        ev, F.col("value"), min_degree=2, max_degree=10
    ).count()
    middle = 2 * (n_rows - 1)
    assert 2 * n_edges <= middle and middle // 2 < n_rows

    spark_builds = []
    capped = events_ops._capped_edges

    def counting(*args):
        spark_builds.append(1)
        return capped(*args)

    monkeypatch.setattr(events_ops, "_capped_edges", counting)
    for name in ("pagerank", "label_propagation"):
        fn = entrymod.queries()[name]
        rows = []
        for cutoff, spark_built in ((2_000_000, False), (middle, True)):
            monkeypatch.setattr(local, "DRIVER_ROWS", cutoff)
            spark_builds.clear()
            rows.append(sorted(tuple(r) for r in fn(spark, sf_dir).collect()))
            assert bool(spark_builds) == spark_built, (name, cutoff)
        assert rows[0] and rows[0] == rows[1], name
