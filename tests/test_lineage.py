"""The lineage-break policy lives in one place: `functions.lineage.reuse`.

A static scan of the package and the registry module pins it, so a new
ad-hoc `localCheckpoint` (or an eager/lazy choice made at a call site)
fails here instead of drifting in unmeasured.
"""

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "financial_fraud_detection_using_time_series_data_spark"
HELPER = os.path.join(PKG, "functions", "lineage.py")


def _sources():
    out = ["__spark_entry__.py"]
    for d, _, files in os.walk(os.path.join(ROOT, PKG)):
        out += [
            os.path.relpath(os.path.join(d, f), ROOT)
            for f in files
            if f.endswith(".py")
        ]
    return sorted(out)


def _calls(rel):
    with open(os.path.join(ROOT, rel)) as f:
        tree = ast.parse(f.read(), rel)
    return [n for n in ast.walk(tree) if isinstance(n, ast.Call)]


def test_local_checkpoint_only_in_lineage_helper():
    sites = [
        f"{rel}:{c.lineno}"
        for rel in _sources()
        if rel != HELPER
        for c in _calls(rel)
        if isinstance(c.func, ast.Attribute) and c.func.attr == "localCheckpoint"
    ]
    assert not sites, f"route these breaks through lineage.reuse: {sites}"


def test_no_call_site_chooses_eager():
    sites = [
        f"{rel}:{c.lineno}"
        for rel in _sources()
        if rel != HELPER
        for c in _calls(rel)
        if any(k.arg == "eager" for k in c.keywords)
    ]
    assert not sites, f"eager/lazy is the helper's decision: {sites}"


def test_helper_is_the_one_break(spark):
    from financial_fraud_detection_using_time_series_data_spark.functions.lineage import (
        reuse,
    )

    df = spark.range(10).selectExpr("id", "id * 2 AS d")
    out = reuse(df)
    assert sorted(r.d for r in out.collect()) == [2 * i for i in range(10)]
    # the plan reads the stored blocks, not the range it came from
    plan = out._jdf.queryExecution().analyzed().toString()
    assert "LogicalRDD" in plan and "Range" not in plan
