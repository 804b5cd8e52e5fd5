"""Live-request tests for the stdlib HTTP scoring shim (reference
api/main.py surface: /health, /score, /score/batch, /stats)."""

import json
import math
import threading
import urllib.error
import urllib.request

import pytest

from financial_fraud_detection_using_time_series_data_spark.serving import FraudScoringService, serve
from financial_fraud_detection_using_time_series_data_spark.serving.http_api import _EVENT_SCHEMA
from financial_fraud_detection_using_time_series_data_spark.streaming import score_batch


@pytest.fixture()
def server(spark):
    srv, service = serve(spark, port=0)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    yield base
    srv.shutdown()


def _get(url):
    with urllib.request.urlopen(url, timeout=30) as r:
        return r.status, json.loads(r.read())


def _post(url, payload):
    req = urllib.request.Request(
        url, data=json.dumps(payload).encode(),
        headers={"Content-Type": "application/json"}, method="POST",
    )
    with urllib.request.urlopen(req, timeout=60) as r:
        return r.status, json.loads(r.read())


def test_health_score_batch_stats(server):
    code, health = _get(server + "/health")
    assert code == 200 and health["status"] == "ok"

    code, single = _post(server + "/score", {"event_id": 1, "user_id": 7, "value": 1200.0})
    assert code == 200
    assert 0.0 <= single["fraud_score"] <= 1.0
    assert single["risk"] in ("CRITICAL", "HIGH", "MEDIUM", "LOW", "MINIMAL")
    assert "high_amount" in single["reasons"]

    code, batch = _post(
        server + "/score/batch",
        {"events": [{"event_id": 2, "user_id": 8, "value": 10.0},
                    {"event_id": 3, "user_id": 9, "value": 5000.0}]},
    )
    assert code == 200 and len(batch) == 2
    assert batch[0]["fraud_score"] < batch[1]["fraud_score"]

    code, stats = _get(server + "/stats")
    assert code == 200 and stats["n_scored"] == 3
    assert stats["risk_counts"]


def _post_status(url, payload) -> int:
    """The reply's status code; a dropped connection raises."""
    try:
        return _post(url, payload)[0]
    except urllib.error.HTTPError as e:
        return e.code


def test_bad_requests(server):
    # urllib raises on non-2xx; the server must reply 400, not 500
    with pytest.raises(urllib.error.HTTPError) as ei:
        _post(server + "/score", {"event_id": 1})  # missing value
    assert ei.value.code == 400
    with pytest.raises(urllib.error.HTTPError) as ei2:
        _get(server + "/nope")
    assert ei2.value.code == 404
    bad = {
        "/score": [
            {"event_id": 2**70, "value": 1.0},  # outside int64
            {"event_id": 1, "user_id": -(2**63) - 1, "value": 1.0},
            {"event_id": float("inf"), "value": 1.0},  # int() overflows
            [{"event_id": 1, "value": 1.0}],  # body is a list
            {"event_id": 1, "value": float("nan")},
            {"event_id": 1, "value": float("inf")},
            {"event_id": 1, "value": float("-inf")},
        ],
        "/score/batch": [
            [{"event_id": 1, "value": 1.0}],  # body is a list
            {"events": "abc"},
            {"events": [{"event_id": 1, "value": 1.0}, 5]},  # event not an object
            {"events": [{"event_id": 2**63, "value": 1.0}]},
            {"events": [{"event_id": 1, "value": float("nan")}]},
        ],
    }
    for path, payloads in bad.items():
        for payload in payloads:
            assert _post_status(server + path, payload) == 400, (path, payload)
    code, stats = _get(server + "/stats")
    assert code == 200 and stats["n_scored"] == 0


def test_empty_batch_leaves_stats_alone(server):
    _, before = _get(server + "/stats")
    code, body = _post(server + "/score/batch", {"events": []})
    assert code == 200 and body == []
    assert _get(server + "/stats")[1] == before


def test_score_records_starts_no_spark_job(spark):
    sc = spark.sparkContext
    service = FraudScoringService(spark)
    group = "test-serving-no-job"
    sc.setJobGroup(group, "score_records")
    try:
        out = service.score_records([{"event_id": i, "value": 25.0 * i} for i in range(64)])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(out) == 64
    assert sc.statusTracker().getJobIdsForGroup(group) == []


def test_service_matches_score_batch_at_every_threshold(spark):
    """Amounts on both sides of each risk bucket's lower score bound,
    `value > 1000` and `value % 100 == 0` (the benchmark's rule amounts):
    the service answers exactly what `score_batch` computes over the same
    rows built as row tuples."""
    amounts = [0.01, 100.0, 100.01, 150.0, 999.99, 1000.0, 1000.01, 1500.0]
    for t in (0.8, 0.6, 0.4, 0.2):
        v = 500.0 + math.log(t / (1.0 - t)) / 0.003  # the amount that scores t
        amounts += [math.floor(v * 100) / 100, math.ceil(v * 100) / 100]
    records = [{"event_id": i, "user_id": i % 3, "value": v} for i, v in enumerate(amounts)]
    got = FraudScoringService(spark).score_records(records)
    rows = [(r["event_id"], r["user_id"], r["value"]) for r in records]
    want = score_batch(spark.createDataFrame(rows, _EVENT_SCHEMA)).orderBy("event_id").collect()
    assert [r["event_id"] for r in got] == [r.event_id for r in want]
    for g, w in zip(got, want):
        assert (g["value"], g["fraud_score"], g["risk"], g["reasons"]) == (
            w.value, w.fraud_score, w.risk, list(w.reasons)
        )
    seen = {r["risk"] for r in got} | {x for r in got for x in r["reasons"]}
    assert seen == {"CRITICAL", "HIGH", "MEDIUM", "LOW", "MINIMAL", "high_amount", "round_amount", "critical_score"}
