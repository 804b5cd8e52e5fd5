"""Spans and runtime counters read from outside the engine.

Everything here calls public Spark surfaces from the benchmark's side:
the AQE final plan of a collected DataFrame (node SQL metrics),
`SparkContext.statusTracker()` (job, stage and task counts) and the
driver JVM's management beans (GC time, JIT code cache). Nothing here
changes the engine's code.
"""

from __future__ import annotations

import json
import os
import resource
import time

now = time.perf_counter

# plan node classes whose SQL metrics the walker reads
_SCANS = {"FileSourceScanExec"}
_SHUFFLES = {"ShuffleExchangeExec"}
_SPILLERS = {"SortExec", "HashAggregateExec", "ObjectHashAggregateExec", "SortAggregateExec"}


class Tracer:
    """Spans kept in memory and written out once, when the run ends."""

    def __init__(self) -> None:
        self.spans: list[dict] = []

    def span(self, name: str, start: float, end: float, parent: str | None, op_id: str | None) -> None:
        self.spans.append(
            {"name": name, "start": start, "end": end, "parent": parent, "op_id": op_id}
        )

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.size())]


def _metric(node, name: str) -> int:
    opt = node.metrics().get(name)
    return int(opt.get().value()) if opt.isDefined() else 0


def plan_census(plan) -> dict[str, int]:
    """Counts from an executed physical plan, descending through AQE
    query stages and subqueries. Call it after the action ran, so the
    adaptive plan is final and its SQL metrics are filled in."""
    out = dict(plan_nodes=0, scans=0, files=0, rows_scanned=0, shuffle_bytes=0, spill_bytes=0, reused=0)
    stack = [plan]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        out["plan_nodes"] += 1
        if cls == "ReusedExchangeExec":
            out["reused"] += 1
            continue
        if cls in _SCANS:
            out["scans"] += 1
            out["files"] += _metric(node, "numFiles")
            out["rows_scanned"] += _metric(node, "numOutputRows")
        elif cls in _SHUFFLES:
            out["shuffle_bytes"] += _metric(node, "dataSize")
        elif cls in _SPILLERS:
            out["spill_bytes"] += _metric(node, "spillSize")
        stack.extend(_seq(node.children()))
        stack.extend(_seq(node.subqueries()))
    return out


def job_census(sc, job_ids) -> dict[str, int]:
    """Job, stage and task counts for the given job ids."""
    tracker = sc.statusTracker()
    stages = tasks = 0
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            stage = tracker.getStageInfo(sid)
            stages += 1
            tasks += stage.numTasks if stage is not None else 0
    return {"jobs": len(job_ids), "stages": stages, "tasks": tasks}


def jvm_stats(spark) -> dict[str, float]:
    """Cumulative GC seconds and JIT code-cache megabytes of the driver JVM."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    gc_ms = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
    code = sum(
        p.getUsage().getUsed()
        for p in mf.getMemoryPoolMXBeans()
        if "Code" in p.getName()
    )
    return {"gc_s": gc_ms / 1000.0, "code_cache_mb": code / 2**20}


def cpu_ticks() -> list[int]:
    """The machine's cumulative CPU ticks by state (`/proc/stat`); empty
    where the file does not exist."""
    try:
        with open("/proc/stat") as f:
            return [int(v) for v in f.readline().split()[1:]]
    except OSError:
        return []


def steal_pct(before: list[int], after: list[int]) -> float | None:
    """Share of CPU time the hypervisor gave to other guests between two
    `cpu_ticks()` readings: the machine's noise, recorded with a result."""
    if len(before) < 8 or len(after) < 8:
        return None
    d = [b - a for a, b in zip(before, after)]
    return 100.0 * d[7] / sum(d) if sum(d) else 0.0


def peak_rss_mb(jvm_pid: int) -> float:
    """Driver JVM high-water RSS (VmHWM) plus this process's peak RSS."""
    total_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    with open(f"/proc/{jvm_pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                total_kb += int(line.split()[1])
    return total_kb / 1024.0


def error_lines(path: str) -> int:
    """Lines the JVM logged at ERROR level in its captured stderr."""
    if not os.path.exists(path):
        return 0
    with open(path, errors="replace") as f:
        return sum(1 for line in f if " ERROR " in line)
