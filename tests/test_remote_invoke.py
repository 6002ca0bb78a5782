"""Remote HTTP invoker — proves the 'a network client drops into the
same signature' claim (InvokeStatefulLambda.java:86-92 semantics:
request/reply framing, per-call timeout, state round-trip) against a
real local socket server, through the SAME operator code paths the
in-process functions use."""

from __future__ import annotations

import base64
import json
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

from stateflow_flink_spark.sources.proto import (
    decode_event_request_reply,
    encode_event_request_reply,
)
from stateflow_flink_spark.streaming.invoke import (
    invoke_stateless,
    register_stateless,
)
from stateflow_flink_spark.streaming.remote import http_stateful, http_stateless
from stateflow_flink_spark.streaming.state import fold_fn


class _LambdaHandler(BaseHTTPRequestHandler):
    """The reference's remote function endpoint: body
    {"request": b64(EventRequestReply)} -> {"reply": b64(EventRequestReply)}.

    Dispatch mirrors the reference deployment: operator_name == "" is
    the stateless InitClass path (InvokeStatelessLambda), anything else
    the stateful fold (InvokeStatefulLambda)."""

    def do_POST(self):  # noqa: N802 (stdlib naming)
        body = json.loads(self.rfile.read(int(self.headers["Content-Length"])))
        ev, state, op = decode_event_request_reply(base64.b64decode(body["request"]))
        event = json.loads(bytes(ev["payload"]))
        if event.get("hang"):
            time.sleep(1.0)
        if op:  # stateful: full fold + state round-trip
            out, new_state = fold_fn(event, state)
        else:  # stateless InitClass
            out = {
                "event_id": event["event_id"],
                "fun_key": f"rk{event['event_id']}",
                "reply": "SuccessfulCreateClass",
            }
            new_state = b""
        reply_ev = {
            "event_id": str(event.get("event_id", "")),
            "payload": json.dumps(out).encode(),
        }
        wire = encode_event_request_reply(reply_ev, new_state, op)
        payload = json.dumps({"reply": base64.b64encode(wire).decode()}).encode()
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(payload)))
        self.end_headers()
        self.wfile.write(payload)

    def log_message(self, *a):  # keep pytest output clean
        pass


@pytest.fixture(scope="module")
def server_url():
    srv = ThreadingHTTPServer(("127.0.0.1", 0), _LambdaHandler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}/"
    srv.shutdown()


def test_http_stateless_same_operator_path(spark, server_url):
    """invoke_stateless runs its normal mapInPandas path with the HTTP
    callable registered exactly like an in-process function."""
    register_stateless("test/Remote-create", http_stateless(server_url))
    df = spark.range(5).selectExpr("id AS event_id")
    out = {r.event_id: r for r in invoke_stateless(df, "test/Remote-create").collect()}
    assert len(out) == 5
    for i in range(5):
        assert out[i].reply == "SuccessfulCreateClass"
        assert out[i].fun_key == f"rk{i}"


def test_http_stateful_state_round_trip(server_url):
    """State goes out with the request and the reply's blob overwrites
    it (InvokeStatefulLambda.java:79-84, :105-108) — three sequential
    calls must fold like the in-process fold_fn."""
    fn = http_stateful(server_url, "engine/Fold")
    state = b""
    events = [
        {"event_id": 1, "user_id": 7, "value": 1.5, "event_type": "click"},
        {"event_id": 2, "user_id": 7, "value": 2.0, "event_type": "view"},
        {"event_id": 3, "user_id": 7, "value": 0.25, "event_type": "click"},
    ]
    outs = []
    for ev in events:
        out, state = fn(ev, state)
        outs.append(out)
    assert [o["running_n"] for o in outs] == [1, 2, 3]
    assert outs[-1]["running_sum"] == pytest.approx(3.75)
    assert outs[-1]["last_type"] == "click"
    # the remote state blob is the same opaque JSON the in-process fold keeps
    assert json.loads(state)["n"] == 3


def test_hung_call_degrades_to_failed_rows(spark, server_url):
    """A hung external call must become per-row FailedInvocation, not a
    task failure (ref: error log + drop, InvokeStatelessLambda.java:95-103).
    Server-side hang (1 s) >> invoke deadline (0.2 s)."""
    register_stateless(
        "test/Hang-create", lambda ev: http_stateless(server_url, timeout_s=5.0)(
            {**ev, "hang": ev["event_id"] % 2 == 1}
        )
    )
    df = spark.range(4).selectExpr("id AS event_id").coalesce(1)
    t0 = time.monotonic()
    rows = invoke_stateless(df, "test/Hang-create", timeout_s=0.2).collect()
    elapsed = time.monotonic() - t0
    replies = {r.event_id: r.reply for r in rows}
    assert len(rows) == 4
    assert replies[0] == "SuccessfulCreateClass"
    assert replies[2] == "SuccessfulCreateClass"
    assert replies[1] == "FailedInvocation"
    assert replies[3] == "FailedInvocation"
    assert elapsed < 10  # task completed without waiting out the hang


def test_invoke_latency_histogram_stateless(spark, server_url):
    """Ref parity: the Dropwizard histogram around every external call
    (InvokeStatelessLambda.java:57-63, :95).  One sample per invoke —
    over a real socket — must reach the driver after the action."""
    from stateflow_flink_spark.streaming.metrics import InvokeLatency

    register_stateless("test/Metric-create", http_stateless(server_url))
    lat = InvokeLatency(spark, "stateless_invoke")
    df = spark.range(8).selectExpr("id AS event_id")
    rows = invoke_stateless(df, "test/Metric-create", latency=lat).collect()
    assert len(rows) == 8
    snap = lat.snapshot()
    assert snap["count"] == 8
    assert snap["mean_ms"] > 0 and snap["max_ms"] >= snap["mean_ms"]
    assert sum(snap["buckets"].values()) == snap["count"]
    assert snap["p50_le_ms"] is not None and snap["p99_le_ms"] is not None


def test_invoke_latency_histogram_counts_failures(spark, server_url):
    """Failed invocations still land a sample — the reference updates
    the histogram before inspecting the reply."""
    from stateflow_flink_spark.streaming.metrics import InvokeLatency

    register_stateless(
        "test/MetricFail-create",
        lambda ev: (_ for _ in ()).throw(RuntimeError("boom")),
    )
    lat = InvokeLatency(spark, "failing_invoke")
    df = spark.range(3).selectExpr("id AS event_id")
    rows = invoke_stateless(df, "test/MetricFail-create", latency=lat).collect()
    assert all(r.reply == "FailedInvocation" for r in rows)
    assert lat.snapshot()["count"] == 3


def test_invoke_latency_histogram_stateful_stream(spark):
    """The stateful path (InvokeStatefulLambda.java:56-59, :112): after
    a full streaming loop run the metric is populated — one sample per
    (key, batch) invoke on the vectorized fold."""
    from stateflow_flink_spark.io import run_bounded, staged_stream
    from stateflow_flink_spark.streaming.metrics import InvokeLatency
    from stateflow_flink_spark.streaming.state import apply_stateful

    from .conftest import SF_SMOKE

    lat = InvokeLatency(spark, "stateful_invoke")
    with staged_stream(spark, SF_SMOKE, "events") as events:
        out = run_bounded(
            spark, apply_stateful(events, latency=lat), "sfs_metric_fold_stream"
        )
    n_users = out.select("user_id").distinct().count()
    snap = lat.snapshot()
    assert snap["count"] >= n_users > 0
    assert snap["mean_ms"] >= 0 and sum(snap["buckets"].values()) == snap["count"]
