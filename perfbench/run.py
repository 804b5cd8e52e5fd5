"""Benchmark of the fraud engine: registry queries and the scoring service.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --smoke

Workloads (see README.md for why each exists):
  registry         6 registry entries: 4 cheap ones where per-query fixed
                   overhead dominates, one with jobs at build time, one
                   with repeated scans and shuffles
  score_requests   closed loop of 2 HTTP clients posting /score/batch

Run from the repository root. The input tables are generated from a fixed
data seed under `.perfbench/data/`; `--seed` shuffles the entry order of
every pass and draws the scoring requests. Each run writes its results,
spans and the engine's own console output under `.perfbench/runs/`, and
prints one JSON object as the last line of stdout. With `--trace 0` the
metrics are the end-to-end ones; with `--trace 1` passes alternate
between untraced and traced and the metrics are the per-layer ones.
The exit code is non-zero when any answer is wrong.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import subprocess
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
SF = 0.01
RUN_LIMIT_S = 170


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=SF, help="data scale factor")
    p.add_argument("--smoke", action="store_true", help="seconds-long run of every workload")
    args = p.parse_args(argv)
    if not args.smoke and args.workload is None:
        p.error("--workload is required")
    return args


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def source_digest() -> str:
    """Hash of the engine's sources, so a result names the code it ran."""
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "__spark_entry__.py")]
    pkg = os.path.join(ROOT, "financial_fraud_detection_using_time_series_data_spark")
    for d, _, files in sorted(os.walk(pkg)):
        paths += [os.path.join(d, f) for f in sorted(files) if f.endswith(".py")]
    for path in paths:
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def git_sha() -> str | None:
    try:
        r = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return r.stdout.strip() if r.returncode == 0 else None


def ensure_data(sf: float) -> str:
    """Generate the input tables once per checkout and scale."""
    import datagen

    with open(datagen.__file__, "rb") as f:
        tag = hashlib.sha256(f.read()).hexdigest()[:12]
    out = os.path.join(WORK, "data", f"sf{sf}-{datagen.DATA_SEED}-{tag}")
    if not os.path.isdir(out):
        tmp = out + f".tmp{os.getpid()}"
        datagen.write(tmp, sf)
        os.replace(tmp, out)
    return out


class Console:
    """Routes fd 1 and 2 (Python and the JVM it launches) to a log file,
    keeping the original stdout for the benchmark's own lines."""

    def __init__(self, log_path: str) -> None:
        sys.stdout.flush()
        sys.stderr.flush()
        self.log_path = log_path
        self._out = os.dup(1)
        fd = os.open(log_path, os.O_WRONLY | os.O_CREAT | os.O_APPEND, 0o644)
        os.dup2(fd, 1)
        os.dup2(fd, 2)
        os.close(fd)

    def emit(self, line: str) -> None:
        os.write(self._out, (line + "\n").encode())


def configure_env(run_dir: str, cpus: int) -> None:
    """Pin the engine to this machine's cores and keep all of its
    scratch files inside the run directory."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(run_dir, "warehouse")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None  # re-read TMPDIR
    # no hsperfdata file: HotSpot would write it under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.pop("PYSPARK_SUBMIT_ARGS", None)


def stop_jvm() -> None:
    """Stop the Spark JVM this process launched and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def methodology(args, workload, data_dir: str, cpus: int, spark_version: str, java: str) -> dict:
    import workloads

    return {
        "workload": workload.name,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": cpus,
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "driver_memory": os.environ["SPARK_DRIVER_MEMORY"],
        "spark": spark_version,
        "java": java,
        "python": platform.python_version(),
        "git_sha": git_sha(),
        "source_digest": source_digest(),
        "sf": args.sf,
        "data_dir": os.path.relpath(data_dir, ROOT),
        "setups": workloads.SETUPS,
        "clients": workload.clients,
        "ops_per_pass": workload.ops_per_pass,
        "entry_list_sha": workload.list_digest,
    }


def run_one(args, console: Console, run_dir: str) -> tuple[bool, int, int, dict, dict]:
    import tracing
    import workloads

    cpus = nproc()
    data_dir = ensure_data(args.sf)
    configure_env(run_dir, cpus)
    workload = workloads.make(args.workload, args.seed, args.sf, data_dir)
    workload.log_path = console.log_path
    tracer = tracing.Tracer()
    result = workload.run(args.seconds, bool(args.trace), tracer)
    tracer.write(os.path.join(run_dir, "spans.jsonl"))
    stamp = methodology(args, workload, data_dir, cpus, result.spark_version, result.java_version)
    stamp.update(passes=len(result.detail), ops=result.attempted_timed, cpu_steal_pct=result.steal_pct)
    with open(os.path.join(run_dir, "result.json"), "w") as f:
        json.dump({"methodology": stamp, "correct": result.correct, "attempted": result.attempted,
                   "failed": result.failed, "metrics": result.metrics,
                   "peak_rss_mb": result.peak_rss_mb, "passes": result.detail}, f, indent=1)
    return result.correct, result.attempted, result.failed, result.metrics, stamp


def fmt_result(correct, attempted, failed, metrics) -> str:
    return json.dumps(
        {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}
    )


def smoke(args, console: Console, run_dir: str) -> int:
    """Every workload, untraced and traced, for about a second each at
    sf0.001; checks that each metric BENCHMARK.json names is printed
    with its unit."""
    import workloads

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    ok = True
    for name in workloads.NAMES:
        for trace in (0, 1):
            a = argparse.Namespace(workload=name, seed=1, seconds=1.0, trace=trace, sf=0.001)
            sub = os.path.join(run_dir, f"{name}-t{trace}")
            os.makedirs(sub)
            correct, attempted, failed, metrics, _ = run_one(a, console, sub)
            got = {k: v["unit"] for k, v in metrics.items()}
            good = correct and got == want[trace] and attempted >= 1
            ok &= good
            console.emit(f"smoke {name} trace={trace}: {'ok' if good else 'FAIL'}")
            if got != want[trace]:
                console.emit(f"  metrics differ from BENCHMARK.json: {sorted(set(got) ^ set(want[trace]))}")
            console.emit("  " + fmt_result(correct, attempted, failed, metrics))
    return 0 if ok else 1


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    # fail fast, before any set-up, when the engine is not in this tree
    import __spark_entry__  # noqa: F401
    import financial_fraud_detection_using_time_series_data_spark  # noqa: F401

    stamp_name = "smoke" if args.smoke else f"{args.workload}-s{args.seed}-t{args.trace}"
    run_dir = os.path.join(WORK, "runs", time.strftime("%Y%m%dT%H%M%S") + f"-{os.getpid()}-{stamp_name}")
    os.makedirs(run_dir)
    console = Console(os.path.join(run_dir, "engine.log"))
    if not args.smoke:
        watchdog = threading.Timer(RUN_LIMIT_S, _overrun)
        watchdog.daemon = True
        watchdog.start()
    try:
        if args.smoke:
            return smoke(args, console, run_dir)
        try:
            correct, attempted, failed, metrics, stamp = run_one(args, console, run_dir)
        except Exception:
            console.emit(f"perfbench: run failed; traceback in {os.path.relpath(console.log_path, ROOT)}")
            raise
        for k, v in metrics.items():
            console.emit(f"{k:28s} {v['value']:>14.6g} {v['unit']}")
        console.emit(f"failed_frac {failed}/{attempted} = {failed / attempted:.4f}")
        console.emit("methodology " + json.dumps(stamp, sort_keys=True))
        console.emit(fmt_result(correct, attempted, failed, metrics))
        return 0 if correct else 1
    finally:
        stop_jvm()
        # scratch of the engine; a smoke run keeps one per sub-run
        for d, subdirs, _ in os.walk(run_dir):
            for name in ("tmp", "spark-local", "warehouse"):
                if name in subdirs:
                    subdirs.remove(name)
                    shutil.rmtree(os.path.join(d, name), ignore_errors=True)


def _overrun() -> None:
    """Last resort when a run hangs: kill the JVM, then exit non-zero."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.kill()
        proc.wait()
    os._exit(3)


if __name__ == "__main__":
    sys.exit(main())
