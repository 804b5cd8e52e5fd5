"""Round-13 optimization pins: rank-median parity, skew-safe graph
degree, single-pass FK audit, text checkpoint policy.

Each test pins either bit-parity of a rewritten internal against the
shape it replaced, or the plan property that makes the rewrite a scale
win (guide sections cited inline).
"""

import importlib.util
import os

from pyspark.sql import functions as F

from financial_fraud_detection_using_time_series_data_spark.operators import (
    events as events_ops,
)
from financial_fraud_detection_using_time_series_data_spark.operators.stats import (
    _grouped_median,
)

_spec = importlib.util.spec_from_file_location(
    "spark_entry_r13",
    os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "__spark_entry__.py",
    ),
)
spark_entry = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(spark_entry)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_grouped_median_matches_percentile(spark):
    """§2.4 rank-median == percentile(x, 0.5), bit-for-bit, across odd /
    even / single-row / NULL-bearing / all-NULL groups, extras intact."""
    rows = [
        # odd group: median = middle element exactly
        ("a", 1), ("a", 7), ("a", 3),
        # even group: midpoint interpolation
        ("b", 10), ("b", 2), ("b", 4), ("b", 8),
        # single row
        ("c", 5),
        # NULLs excluded, count rides along
        ("d", None), ("d", 6), ("d", 2),
        # all-NULL group: NULL median but the group keeps its row
        ("e", None), ("e", None),
    ]
    df = spark.createDataFrame(rows, "g string, v long")
    got = _grouped_median(
        df, ["g"], "v", "med", extra_over={"n": F.count(F.lit(1))}
    ).toPandas().sort_values("g").reset_index(drop=True)
    want = (
        df.groupBy("g")
        .agg(
            F.expr("percentile(v, 0.5)").alias("med"),
            F.count(F.lit(1)).alias("n"),
        )
        .toPandas()
        .sort_values("g")
        .reset_index(drop=True)
    )
    assert list(got["g"]) == list(want["g"])
    for a, b in zip(got["med"], want["med"]):
        assert (a != a and b != b) or a == b, (a, b)  # NaN-safe exact
    assert list(got["n"]) == list(want["n"])


def test_robust_stats_plans_have_no_percentile_buffer(spark, sf_dir):
    """§1: mann_kendall / hodges_lehmann run the rank-median window —
    no per-group percentile buffering aggregate anywhere in the plan."""
    for qname in ("mann_kendall", "hodges_lehmann"):
        plan = _plan(spark_entry.queries()[qname](spark, sf_dir))
        assert "percentile" not in plan, (qname, plan[:2000])
        assert "Window" in plan, qname


def test_capped_members_degree_is_mapside_groupby(spark, sf_dir):
    """§2 (guide §2.5): the degree cap must come from a map-side-combined
    groupBy (partial_count before the exchange), NOT a window count — a
    hub attr value would funnel all its rows through one window task."""
    ev = spark_entry._events(spark, sf_dir)
    members = events_ops._capped_members(
        ev, F.col("value"), "user_id", 2, 50
    )
    plan = _plan(members)
    assert "Window" not in plan, plan
    assert "partial_count" in plan, plan


def test_referential_integrity_plan_is_single_pass(spark, sf_dir):
    """§4: one left join + one multi-conditional aggregate per edge — no
    BNL cross-joins, no checkpoint scans, no per-branch re-aggregation."""
    df = spark_entry.queries()["referential_integrity"](spark, sf_dir)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "ExistingRDD" not in plan, plan  # no localCheckpoint jobs


def test_load_table_handle_memo_is_not_result_caching(spark, sf_dir):
    """§8: the load_table memo stores only the lazy plan handle. The
    returned DataFrame must carry NO storage level (nothing persisted),
    and repeated calls must return the identical unexecuted handle."""
    from financial_fraud_detection_using_time_series_data_spark.sources import (
        tables,
    )

    a = tables.load_table(spark, sf_dir, "lineitem")
    b = tables.load_table(spark, sf_dir, "lineitem")
    assert a is b  # memo hit
    lvl = a.storageLevel
    assert not (lvl.useMemory or lvl.useDisk or lvl.useOffHeap), lvl
    # the plan is a live parquet scan, not a materialized intermediate
    plan = _plan(a)
    assert "ExistingRDD" not in plan and "InMemoryTableScan" not in plan
    # two actions both execute (fresh jobs, fresh scan) — counts agree
    assert a.count() == b.count() > 0


def test_no_literal_matrix_reinlined_into_filters(spark, sf_dir):
    """§7: a nullable computed join key (cell_id / LSH bucket) makes the
    inner join derive IsNotNull(key), and filter pushdown re-inlines the
    FULL argmax/signature expression — matrix literal and all — into a
    Filter, doubling or tripling the per-row assignment cost. The
    coalesce(.., sentinel) wraps keep the keys non-nullable; this pins
    that no Filter condition ever carries a matrix literal again."""
    import io
    import contextlib

    for qname in ("lsh_topk", "ivf_pq_topk", "ivf_topk_trained", "ann_recall"):
        df = spark_entry.queries()[qname](spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        for line in buf.getvalue().splitlines():
            s = line.strip()
            if s.startswith("Condition :"):
                assert "transform([[" not in s, (qname, s[:300])


def test_text_checkpoints_stay_bounded(spark, sf_dir):
    """§3 (guide §5): tfidf_top_terms / token_pmi must NOT pin their
    corpus-scale frames to executor block storage — no checkpoint-backed
    ExistingRDD scans in either plan."""
    for qname in ("tfidf_top_terms", "token_pmi"):
        plan = _plan(spark_entry.queries()[qname](spark, sf_dir))
        assert "ExistingRDD" not in plan, (qname, plan[:2000])


def test_tfidf_shuffles_the_corpus_once(spark, sf_dir):
    """tfidf_top_terms scans documents twice (the corpus, and the doc
    count) and runs its doc-keyed exchange once: the doc-frequency
    branch reads the term counts through a reused exchange."""
    df = spark_entry.queries()["tfidf_top_terms"](spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert plan.count("FileScan parquet") == 2, plan
    assert plan.count("ReusedExchange") == 1, plan
