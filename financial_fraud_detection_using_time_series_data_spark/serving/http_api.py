"""HTTP serving surface — the engine-side analog of the reference's
FastAPI app (``api/main.py:315-391``: /health, /score, /score/batch,
/stats), on the standard library only (no FastAPI/uvicorn dependency).

The scoring path is the SAME ``streaming.score_columns`` formula that
``score_batch`` appends for batch jobs and the Structured Streaming
scorer — one implementation for all three serving planes, which is
exactly the train/serve-skew fix the streaming module documents. The
service builds those columns once. A request's JSON records are
validated, become a ``pyarrow.Table``, and ``createDataFrame`` turns
that table into a ``LocalRelation``; Catalyst's
``ConvertToLocalRelation`` rule then evaluates the scoring projection
while optimizing, so the executed plan is a ``LocalTableScan`` and
``collect()`` starts no Spark job. Running stats mirror the
reference's mutable global stats (``api/main.py:143-183``) behind a
lock.

Measured on 4 cores with ``perfbench/run.py --workload score_requests``
(1-64 records per request): rows built as Python tuples became an RDD
scan, and each request ran one job of four tasks, ~530 ms median; the
Arrow-built frame with prebuilt columns takes ~27 ms, with no executor
work (py4j calls and the Arrow hand-off). This is still a functional
shim, not a production gateway: high-QPS serving should run the
identical ``score_batch`` inside a Structured Streaming query (see
``streaming/scoring.py``) and let this server answer /health + /stats.
"""

from __future__ import annotations

import json
import math
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pyarrow as pa
from pyspark.sql import SparkSession
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from ..streaming.scoring import score_columns

_EVENT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("user_id", LongType()),
        StructField("value", DoubleType()),
    ]
)
_INT64_MIN, _INT64_MAX = -(2**63), 2**63 - 1


def _int64(v, field: str) -> int:
    n = int(v)
    if not _INT64_MIN <= n <= _INT64_MAX:
        raise ValueError(f"{field} {n} is outside the 64-bit integer range")
    return n


def _event_table(records: list) -> pa.Table:
    """Request records as an Arrow table of ``_EVENT_SCHEMA``: ids default
    to the record's position and user 0, and every value must be a finite
    number. Raises TypeError/ValueError on input the schema cannot hold."""
    if not isinstance(records, list):
        raise TypeError("events must be a JSON list")
    ids, users, values = [], [], []
    for i, r in enumerate(records):
        if not isinstance(r, dict):
            raise TypeError(f"event {i} is not a JSON object")
        ids.append(_int64(r.get("event_id", i), "event_id"))
        users.append(_int64(r.get("user_id", 0), "user_id"))
        value = float(r["value"])
        if not math.isfinite(value):
            raise ValueError(f"value {value} is not a finite number")
        values.append(value)
    return pa.table(
        [pa.array(ids, pa.int64()), pa.array(users, pa.int64()), pa.array(values, pa.float64())],
        names=_EVENT_SCHEMA.names,
    )


class FraudScoringService:
    """Scores JSON event records with the shared ``score_columns`` and
    keeps reference-style running stats (count / sum / risk histogram)."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._score_columns = score_columns("value")
        self._lock = threading.Lock()
        self._n = 0
        self._score_sum = 0.0
        self._risk_counts: dict[str, int] = {}

    def score_records(self, records: list[dict]) -> list[dict]:
        df = self.spark.createDataFrame(_event_table(records), _EVENT_SCHEMA)
        scored = [
            {
                "event_id": r["event_id"],
                "user_id": r["user_id"],
                "value": r["value"],
                "fraud_score": r["fraud_score"],
                "risk": r["risk"],
                "reasons": list(r["reasons"]),
            }
            for r in df.select("*", *self._score_columns).collect()
        ]
        with self._lock:
            for s in scored:
                self._n += 1
                self._score_sum += s["fraud_score"]
                self._risk_counts[s["risk"]] = self._risk_counts.get(s["risk"], 0) + 1
        return scored

    def stats(self) -> dict:
        with self._lock:
            return {
                "n_scored": self._n,
                "avg_score": (self._score_sum / self._n) if self._n else None,
                "risk_counts": dict(self._risk_counts),
            }

    def health(self) -> dict:
        return {"status": "ok", "spark_version": self.spark.version}


def _make_handler(service: FraudScoringService):
    class Handler(BaseHTTPRequestHandler):
        def log_message(self, fmt, *args):  # quiet test runs
            pass

        def _reply(self, code: int, payload: dict | list) -> None:
            body = json.dumps(payload).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_GET(self):
            if self.path == "/health":
                self._reply(200, service.health())
            elif self.path == "/stats":
                self._reply(200, service.stats())
            else:
                self._reply(404, {"error": "not found"})

        def do_POST(self):
            length = int(self.headers.get("Content-Length", "0"))
            try:
                payload = json.loads(self.rfile.read(length) or b"{}")
            except json.JSONDecodeError:
                self._reply(400, {"error": "invalid json"})
                return
            try:
                if self.path == "/score":
                    self._reply(200, service.score_records([payload])[0])
                elif self.path == "/score/batch":
                    if not isinstance(payload, dict):
                        raise TypeError("request body must be a JSON object")
                    self._reply(200, service.score_records(payload.get("events", [])))
                else:
                    self._reply(404, {"error": "not found"})
            except (KeyError, TypeError, ValueError, OverflowError) as exc:
                self._reply(400, {"error": str(exc)})

    return Handler


def serve(
    spark: SparkSession,
    host: str = "127.0.0.1",
    port: int = 0,
) -> tuple[ThreadingHTTPServer, FraudScoringService]:
    """Bind the scoring server (port 0 = ephemeral). The caller drives
    ``server.serve_forever()`` (typically on a thread) and
    ``server.shutdown()``."""
    service = FraudScoringService(spark)
    server = ThreadingHTTPServer((host, port), _make_handler(service))
    return server, service
