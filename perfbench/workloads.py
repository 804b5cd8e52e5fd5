"""The workloads: set-up, one pass, and the correctness checks.

A workload is set up SETUPS times (session start, every table handle
loaded, one warm pass), then runs whole passes until the measuring
window is spent; the set-ups' warm passes are the JVM's warm-up, and
the window's median absorbs a slower first pass. In a traced run passes
alternate between untraced and traced, and only traced passes record
spans and layer counts.
"""

from __future__ import annotations

import hashlib
import http.client
import json
import math
import random
import statistics
import threading
import traceback
from collections import deque
from dataclasses import dataclass, field

import tracing
from expect import canon_digest, load_entries, load_expected
from tracing import now

NAMES = ("registry", "score_requests")
SETUPS = 3  # set-ups per run; setup_s is their median
HASH_SINK = "sum(hash(*)) as h"

# per-layer metrics: name -> unit. A layer the workload never calls reads 0.
LAYER_UNITS = {
    "session.start_s": "s",
    "session.gc_s": "s",
    "session.code_cache_mb": "MB",
    "session.jvm_error_lines": "count",
    "sources.load_table_s": "s",
    "sources.scans_executed": "count",
    "sources.files_read": "count",
    "sources.rows_scanned": "count",
    "operators.build_s": "s",
    "operators.build_jobs": "count",
    "spark.plan_s": "s",
    "spark.plan_nodes": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.exec_s": "s",
    "spark.shuffle_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.reused_exchanges": "count",
    "serving.service_s": "s",
    "serving.http_s": "s",
    "serving.jobs_per_req": "count",
    "serving.tasks_per_req": "count",
    "trace.overhead_s": "s",
    "peak_rss_mb": "MB",
}
# per-pass sums of a traced registry pass -> the layer metric they feed
_CENSUS = {
    "build_s": "operators.build_s",
    "build_jobs": "operators.build_jobs",
    "plan_s": "spark.plan_s",
    "plan_nodes": "spark.plan_nodes",
    "exec_s": "spark.exec_s",
    "jobs": "spark.jobs",
    "stages": "spark.stages",
    "tasks": "spark.tasks",
    "scans": "sources.scans_executed",
    "files": "sources.files_read",
    "rows_scanned": "sources.rows_scanned",
    "shuffle_bytes": "spark.shuffle_bytes",
    "spill_bytes": "spark.spill_bytes",
    "reused": "spark.reused_exchanges",
}


@dataclass
class Pass:
    duration: float
    ops: list[tuple[str, float]]  # (entry name or batch size, seconds)
    traced: bool
    layers: dict[str, float] = field(default_factory=dict)  # per-pass sums
    counts: list[dict] = field(default_factory=list)  # per-operation census


@dataclass
class Result:
    correct: bool
    attempted: int
    failed: int
    metrics: dict
    attempted_timed: int
    spark_version: str
    java_version: str
    peak_rss_mb: float
    steal_pct: float | None  # hypervisor steal over the window
    detail: list[dict]


def _pct(values: list[float], q: int) -> float:
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def _log_failure(what: str) -> None:
    print(f"perfbench: {what} failed\n{traceback.format_exc()}", flush=True)


class Workload:
    name = ""
    clients = 1
    reads_tables = True  # set-up loads every table handle

    def __init__(self, seed: int, data_dir: str) -> None:
        self.log_path = ""  # the run's captured engine console, read for ERROR lines
        self.rng = random.Random(seed)
        self.data_dir = data_dir
        self.attempted = 0
        self.failed = 0

    # -- hooks ----------------------------------------------------------
    def start(self, spark, trace: bool) -> None:
        """Bind to a freshly started session (once per set-up)."""

    def stop(self) -> None:
        """Release what `start` acquired."""

    def one_pass(self, spark, index: int, traced: bool, tracer) -> Pass:
        raise NotImplementedError

    def warm(self, spark, k: int, tracer) -> None:
        """The warm pass of set-up `k`."""
        self.one_pass(spark, -1 - k, False, tracer)

    # -- run loop -------------------------------------------------------
    def _record(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += not ok

    def _setup(self, k: int, prev, trace: bool, tracer):
        from financial_fraud_detection_using_time_series_data_spark.session import get_spark
        from financial_fraud_detection_using_time_series_data_spark.sources.tables import (
            TABLES,
            load_table,
        )

        t0 = now()
        # The first set-up launches the JVM and the engine's session; later
        # ones open a fresh session on the running context. A restarted
        # context runs its first four or five passes up to twice as slow,
        # which a short window cannot outlast.
        spark = get_spark(app_name=f"perfbench-{self.name}") if prev is None else prev.newSession()
        t1 = t2 = now()
        if self.reads_tables:
            for t in TABLES:
                load_table(spark, self.data_dir, t)
            t2 = now()
        self.start(spark, trace)
        self.warm(spark, k, tracer)
        t3 = now()
        sid = f"setup{k}"
        tracer.span("setup", t0, t3, None, sid)
        tracer.span("session.start", t0, t1, "setup", sid)
        tracer.span("sources.load_table", t1, t2, "setup", sid)
        tracer.span("warm_pass", t2, t3, "setup", sid)
        return spark, (t3 - t0, t1 - t0, t2 - t1)

    def run(self, seconds: float, trace: bool, tracer) -> Result:
        times, spark = [], None
        for k in range(SETUPS):
            if spark is not None:
                self.stop()
            spark, t = self._setup(k, spark, trace, tracer)
            times.append(t)
        jvm0 = tracing.jvm_stats(spark)
        ticks0 = tracing.cpu_ticks()
        passes: list[Pass] = []
        t_start = now()
        while True:
            traced = trace and len(passes) % 2 == 1
            t0 = now()
            passes.append(self.one_pass(spark, len(passes), traced, tracer))
            t1 = now()
            if traced:
                tracer.span("pass", t0, t1, None, f"pass{len(passes) - 1}")
            # end at the pass boundary nearest to `seconds`: stop when one
            # more pass of the same length would overshoot by more than
            # this boundary falls short
            if t1 - t_start + (t1 - t0) / 2 >= seconds and (not trace or len(passes) >= 2):
                break
        jvm1 = tracing.jvm_stats(spark)
        t_stop = now()
        steal = tracing.steal_pct(ticks0, tracing.cpu_ticks())
        tracer.span("window", t_start, t_stop, None, "window")
        timed = sum(len(p.ops) for p in passes)
        self.stop()
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        java = spark._jvm.java.lang.System.getProperty("java.version")
        version = spark.version
        rss = tracing.peak_rss_mb(jvm_pid)
        spark.stop()
        tracer.span("session.stop", t_stop, now(), None, "stop")

        if trace:
            metrics = self._layer_metrics(passes, times, jvm0, jvm1, rss)
        else:
            lat = [x for p in passes for _, x in p.ops]
            busy = sum(p.duration for p in passes)
            metrics = {
                "setup_s": (statistics.median(t[0] for t in times), "s"),
                "pass_s": (statistics.median(p.duration for p in passes), "s"),
                "op_p50_ms": (_pct(lat, 50) * 1e3, "ms"),
                "op_p90_ms": (_pct(lat, 90) * 1e3, "ms"),
                "ops_per_s": (len(lat) / busy, "1/s"),
            }
        return Result(
            correct=self.failed == 0,
            attempted=self.attempted,
            failed=self.failed,
            metrics={k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            attempted_timed=timed,
            spark_version=version,
            java_version=java,
            peak_rss_mb=rss,
            steal_pct=steal,
            detail=[
                {"traced": p.traced, "duration": p.duration, "ops": p.ops, "counts": p.counts}
                for p in passes
            ],
        )

    def _layer_metrics(self, passes, times, jvm0, jvm1, rss) -> dict:
        traced = [p for p in passes if p.traced]
        plain = [p for p in passes if not p.traced]
        out = {name: (0.0, unit) for name, unit in LAYER_UNITS.items()}

        def put(name, value):
            out[name] = (value, LAYER_UNITS[name])

        put("session.start_s", statistics.median(t[1] for t in times))
        put("sources.load_table_s", statistics.median(t[2] for t in times))
        put("session.gc_s", jvm1["gc_s"] - jvm0["gc_s"])
        put("session.code_cache_mb", jvm1["code_cache_mb"])
        put("session.jvm_error_lines", tracing.error_lines(self.log_path))
        for key in traced[0].layers:
            put(key, statistics.median(p.layers[key] for p in traced))
        put(
            "trace.overhead_s",
            statistics.median(p.duration for p in traced) - statistics.median(p.duration for p in plain),
        )
        put("peak_rss_mb", rss)
        return out


# -- registry workloads ------------------------------------------------------
class RegistryWorkload(Workload):
    name = "registry"

    def __init__(self, seed: int, sf: float, data_dir: str) -> None:
        super().__init__(seed, data_dir)
        import __spark_entry__ as entrymod

        self.entries = load_entries()
        self.expected = load_expected()[str(sf)]
        registry = entrymod.queries()
        self.fns = {n: registry[n] for n in self.entries}
        self.hashes: dict[str, int] = {}
        self.ops_per_pass = len(self.entries)
        self.list_digest = hashlib.sha256("\n".join(self.entries).encode()).hexdigest()[:16]

    def _check_hash(self, name: str, h) -> bool:
        # the oracle checks the full result once (`warm`); every timed
        # sink must reproduce the first sink value of its entry
        return self.hashes.setdefault(name, h) == h

    def one_pass(self, spark, index, traced, tracer) -> Pass:
        order = list(self.entries)
        if index >= 0:
            self.rng.shuffle(order)
        sums = {k: 0.0 for k in _CENSUS}
        lat, counts = [], []
        t0 = now()
        for j, name in enumerate(order):
            op_id = f"{index}.{j}"
            try:
                if traced:
                    dt, h, census = self._traced_op(spark, name, op_id, tracer)
                    counts.append({"op": name, **census})
                    for k, v in census.items():
                        sums[k] += v
                else:
                    a = now()
                    h = self.fns[name](spark, self.data_dir).selectExpr(HASH_SINK).collect()[0][0]
                    dt = now() - a
            except Exception:  # noqa: BLE001 — a failed entry is counted, the pass goes on
                _log_failure(f"{name} (op {op_id})")
                self._record(False)
                continue
            lat.append((name, dt))
            self._record(self._check_hash(name, h))
        layers = {_CENSUS[k]: v for k, v in sums.items()} if traced else {}
        return Pass(now() - t0, lat, traced, layers, counts)

    def _traced_op(self, spark, name, op_id, tracer):
        sc = spark.sparkContext
        tracker = sc.statusTracker()
        group = f"perfbench-{op_id}"
        sc.setJobGroup(group, name)
        t0 = now()
        df = self.fns[name](spark, self.data_dir)
        t1 = now()
        build_jobs = len(tracker.getJobIdsForGroup(group))
        sink = df.selectExpr(HASH_SINK)
        plan = sink._jdf.queryExecution().executedPlan()
        t2 = now()
        h = sink.collect()[0][0]
        t3 = now()
        census = tracing.plan_census(plan)
        census.update(tracing.job_census(sc, tracker.getJobIdsForGroup(group)))
        census.update(build_s=t1 - t0, plan_s=t2 - t1, exec_s=t3 - t2, build_jobs=build_jobs)
        tracer.span(name, t0, t3, f"pass{op_id.split('.')[0]}", op_id)
        tracer.span("operators.build", t0, t1, name, op_id)
        tracer.span("spark.plan", t1, t2, name, op_id)
        tracer.span("spark.exec", t2, t3, name, op_id)
        return t3 - t0, h, census

    def warm(self, spark, k: int, tracer) -> None:
        """The first set-up's warm pass fetches every entry's full result
        and checks it against the oracle. That set-up also launches the
        JVM, so it is never the median one and the check costs no
        measured time; later warm passes run the timed sink."""
        if k > 0:
            super().warm(spark, k, tracer)
            return
        for name in self.entries:
            want = self.expected[name]
            try:
                got = self.fns[name](spark, self.data_dir).toPandas()
            except Exception:  # noqa: BLE001
                _log_failure(f"oracle check of {name}")
                self._record(False)
                continue
            ok = len(got) == want["rows"] and canon_digest(got) == want["digest"]
            if not ok:
                print(f"perfbench: {name} differs from its oracle", flush=True)
            self._record(ok)


# -- scoring workload --------------------------------------------------------
SIZES = (1, 8, 64)
PER_SIZE = 4  # requests of each size in one pass: 6 per client, so the drain is short
RISK = ((0.8, "CRITICAL"), (0.6, "HIGH"), (0.4, "MEDIUM"), (0.2, "LOW"))
OUTCOMES = {label for _, label in RISK} | {"MINIMAL", "high_amount", "round_amount", "critical_score"}


def rule_amounts() -> list[float]:
    """Amounts, in cents, on both sides of every rule: each risk bucket's
    lower score bound, `value > 1000` and `value % 100 == 0`."""
    out = [0.01, 100.0, 100.01, 150.0, 999.99, 1000.0, 1000.01, 1500.0]
    for t, _ in RISK:
        v = 500.0 + math.log(t / (1.0 - t)) / 0.003  # the amount that scores t
        out += [math.floor(v * 100) / 100, math.ceil(v * 100) / 100]
    return out


def expected_score(value: float) -> tuple[float, str, list[str]]:
    """The scoring formula evaluated in plain Python: sigmoid amount
    heuristic, clipped; risk bucket by threshold; reason rules."""
    s = 1.0 / (1.0 + math.exp(-0.003 * (value - 500.0)))
    risk = next((label for t, label in RISK if s >= t), "MINIMAL")
    reasons = []
    if value > 1000:
        reasons.append("high_amount")
    if math.fmod(value, 100.0) == 0:
        reasons.append("round_amount")
    if s >= 0.8:
        reasons.append("critical_score")
    return min(max(s, 0.0), 1.0), risk, reasons


def check_response(records: list[dict], data: bytes, seen: set) -> bool:
    """True when every scored record matches the formula; adds each
    record's risk bucket and reasons to `seen`."""
    try:
        body = json.loads(data)
    except ValueError:
        return False
    if not isinstance(body, list) or len(body) != len(records):
        return False
    by_id = {r["event_id"]: r for r in body}
    for rec in records:
        got = by_id.get(rec["event_id"])
        if got is None or got["user_id"] != rec["user_id"] or got["value"] != rec["value"]:
            return False
        score, risk, reasons = expected_score(rec["value"])
        # exp() may differ by an ulp between the JVM and libm; amounts
        # have two decimals, so no score lies that close to a threshold
        if not math.isclose(got["fraud_score"], score, rel_tol=1e-12):
            return False
        if got["risk"] != risk or got["reasons"] != reasons:
            return False
        seen.update([risk, *reasons])
    return True


class ScoreWorkload(Workload):
    name = "score_requests"
    clients = 2
    reads_tables = False  # the service scores request rows only

    def __init__(self, seed: int, data_dir: str) -> None:
        super().__init__(seed, data_dir)
        import os

        import pyarrow.parquet as pq

        t = pq.read_table(os.path.join(data_dir, "events.parquet"), columns=["event_id", "user_id", "value"])
        self.records = t.to_pylist()
        self.ops_per_pass = PER_SIZE * len(SIZES)
        self.list_digest = hashlib.sha256(json.dumps([SIZES, PER_SIZE]).encode()).hexdigest()[:16]
        self.server = None
        self.thread = None
        # (start, end) of each score_records call, keyed by its event ids
        self.service_times: dict[tuple, list[tuple[float, float]]] = {}
        self.lock = threading.Lock()
        self.seen: set[str] = set()  # risk buckets and reasons answered correctly

    def start(self, spark, trace: bool) -> None:
        from financial_fraud_detection_using_time_series_data_spark.serving.http_api import serve

        self.server, service = serve(spark)
        if trace:
            # time the service layer by wrapping the method on this one
            # service instance; the HTTP handler looks it up per request
            score_records = service.score_records

            def timed(records):
                t0 = now()
                try:
                    return score_records(records)
                finally:
                    t1 = now()
                    with self.lock:
                        key = tuple(r["event_id"] for r in records)
                        self.service_times.setdefault(key, []).append((t0, t1))

            service.score_records = timed
        self.thread = threading.Thread(target=self.server.serve_forever, daemon=True)
        self.thread.start()

    def stop(self) -> None:
        if self.server is not None:
            self.server.shutdown()
            self.server.server_close()
            self.thread.join()
            self.server = None

    def _requests(self, per_size: int = PER_SIZE) -> list[list[dict]]:
        sizes = [s for s in SIZES for _ in range(per_size)]
        self.rng.shuffle(sizes)
        return [self.rng.sample(self.records, s) for s in sizes]

    def _rule_request(self) -> list[dict]:
        """Event amounts stay far below the upper risk buckets and the
        amount rules (see README), so one request per set-up carries
        amounts that reach each of them: both sides of every threshold,
        ten seeded amounts up to 2000 and two seeded multiples of 100."""
        amounts = rule_amounts()
        amounts += [self.rng.randint(1, 200_000) / 100 for _ in range(10)]
        amounts += [100.0 * self.rng.randint(1, 20) for _ in range(2)]
        events = self.rng.sample(self.records, len(amounts))
        return [dict(e, value=v) for e, v in zip(events, amounts)]

    def warm(self, spark, k: int, tracer) -> None:
        """One request of each size, and the rule request."""
        self._pass(spark, [self._rule_request()] + self._requests(1), -1 - k, False, tracer)

    def run(self, seconds: float, trace: bool, tracer) -> Result:
        result = super().run(seconds, trace, tracer)
        missing = OUTCOMES - self.seen
        if missing:
            print(f"perfbench: no response was checked for {sorted(missing)}", flush=True)
            self._record(False)
            result.correct, result.attempted, result.failed = False, self.attempted, self.failed
        return result

    def _post(self, port: int, records: list[dict]):
        body = json.dumps({"events": records}).encode()
        t0 = now()
        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=60)
        try:
            conn.request("POST", "/score/batch", body, {"Content-Type": "application/json"})
            resp = conn.getresponse()
            data = resp.read()
        finally:
            conn.close()
        return now() - t0, resp.status, data

    def one_pass(self, spark, index, traced, tracer) -> Pass:
        return self._pass(spark, self._requests(), index, traced, tracer)

    def _pass(self, spark, reqs, index, traced, tracer) -> Pass:
        port = self.server.server_address[1]
        queue = deque(enumerate(reqs))
        out: list = [None] * len(reqs)
        qlock = threading.Lock()

        def client():
            while True:
                with qlock:
                    if not queue:
                        return
                    i, records = queue.popleft()
                start = now()
                try:
                    out[i] = (start,) + self._post(port, records)
                except (OSError, http.client.HTTPException):
                    _log_failure(f"request {index}.{i}")
                    out[i] = (start, None, None, None)

        tracker = spark.sparkContext.statusTracker()
        jobs_before = set(tracker.getJobIdsForGroup(None)) if traced else set()
        t0 = now()
        threads = [threading.Thread(target=client) for _ in range(self.clients)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        duration = now() - t0
        lat, service, http_s = [], [], []
        for i, (records, (start, dt, status, data)) in enumerate(zip(reqs, out)):
            self._record(status == 200 and check_response(records, data, self.seen))
            if dt is None:
                continue
            lat.append((f"n{len(records)}", dt))
            with self.lock:
                svc = self.service_times.get(tuple(r["event_id"] for r in records))
                call = svc.pop(0) if svc else None
            if traced and call is not None:
                service.append(call[1] - call[0])
                http_s.append(dt - service[-1])
                op_id = f"{index}.{i}"
                tracer.span("request", start, start + dt, f"pass{index}", op_id)
                tracer.span("serving.service", call[0], call[1], "request", op_id)
        if not traced:
            return Pass(duration, lat, False)
        census = tracing.job_census(
            spark.sparkContext, sorted(set(tracker.getJobIdsForGroup(None)) - jobs_before)
        )
        layers = {
            "serving.service_s": statistics.median(service) if service else 0.0,
            "serving.http_s": statistics.median(http_s) if http_s else 0.0,
            "serving.jobs_per_req": census["jobs"] / len(reqs),
            "serving.tasks_per_req": census["tasks"] / len(reqs),
            "spark.jobs": census["jobs"],
            "spark.stages": census["stages"],
            "spark.tasks": census["tasks"],
        }
        return Pass(duration, lat, True, layers)


def make(name: str, seed: int, sf: float, data_dir: str) -> Workload:
    if name == "score_requests":
        return ScoreWorkload(seed, data_dir)
    if name == "registry":
        return RegistryWorkload(seed, sf, data_dir)
    raise SystemExit(f"unknown workload {name!r}; choose from {', '.join(NAMES)}")
