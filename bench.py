"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}.

Each query is timed end-to-end (plan + execute + a cheap count-style sink
that forces full materialization without driver collection); min of
$SPARK_GRAFT_BENCH_REPS (default 3) back-to-back timed runs after a full
untimed warm sweep. The timed set is every ``REGISTRY`` row of
``__spark_entry__`` whose bench flag is set, in registry order.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod
from financial_fraud_detection_using_time_series_data_spark.session import get_spark


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    # timed runs per query, min taken; back-to-back, because spreading the
    # reps across whole-suite passes measured minima a median 19% slower
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    names = [name for name, _, _, timed in entrymod.REGISTRY if timed]
    spark = get_spark(app_name="bench")
    queries = entrymod.queries()

    # warm the JVM + parquet footers once (excluded from timings)
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()

    # full untimed warm-up sweep: execute EVERY headline query once before
    # any timing starts. Per-query min-of-N alone still bills session-level
    # HotSpot/codegen warm-up to whichever queries run early; a whole-suite
    # pass first means the timed passes below measure steady-state plan
    # cost, which is what matters for capacity planning at scale.
    for name in names:
        queries[name](spark, sf_dir).selectExpr("sum(hash(*)) as h").collect()

    def timed_run(name: str) -> float:
        t0 = time.perf_counter()
        df = queries[name](spark, sf_dir)
        # force full evaluation of every output column (count() alone
        # can prune projections; summing a hash of all columns cannot)
        df.selectExpr("sum(hash(*)) as h").collect()
        return time.perf_counter() - t0

    timings = {
        name: round(min(timed_run(name) for _ in range(reps)), 3) for name in names
    }

    total = round(sum(timings.values()), 3)

    # Full per-query breakdown goes to a repo file; the stdout line must stay
    # SHORT. The driver captures only the tail of stdout (observed: 2000
    # chars in BENCH_r06, where a 4.5KB line with 162 queries failed to
    # parse -> "parsed": null). Print the slowest queries only, and trim
    # until the serialized line is comfortably under that cap.
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "BENCH_FULL.json"), "w") as f:
        json.dump(
            {
                "metric": "headline_queries_wall_clock",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "n_queries": len(timings),
                "reps": reps,
                "sf": sf,
            },
            f,
            indent=1,
            sort_keys=True,
        )

    slowest = dict(sorted(timings.items(), key=lambda kv: -kv[1]))
    payload = {
        "metric": "headline_queries_wall_clock",
        "value": total,
        "unit": "sec",
        "n_queries": len(timings),
        "full_breakdown": "BENCH_FULL.json",
        "queries": slowest,
        "sf": sf,
    }
    while len(json.dumps(payload)) > 1700 and payload["queries"]:
        payload["queries"].pop(next(reversed(payload["queries"])))
    print(json.dumps(payload))


if __name__ == "__main__":
    main()
