"""The event-loop workload: 4-hop flows and Pings through ``run_event_loop``.

A run has two phases on one session, each loop on its own
``DirectoryTransport``:

1. Open loop: the load generator (``loadgen.py``, its own process)
   appends requests to ``client_request`` on a fixed schedule for
   ``--seconds``, while the ingress and worker queries append into
   ``internal`` at the same time. The program loses frames then, and
   now and then a query dies of it (one producer's job commit deletes
   the other's task output). Its flow latency and failed share
   are printed and recorded, not taken as end-to-end metrics: a run in
   which a query died answers almost nothing, so any latency read from
   it would split the runs into two groups.
2. Bursts: ``BURSTS`` times, ``BURST`` requests shaped like the
   schedule, all seeded at once through ``run_event_loop``'s ``seed``.
   The seed is one append made before the queries start, and after it
   one query at a time appends into a topic, so no two producers ever
   meet and every flow must come back. The end-to-end metrics come from
   this phase: the latency of each flow from its seeding to the
   ``timestamp`` of its reply record. The bursts come after the open
   loop, whose batches have compiled and cached what the loop's plans
   need; a first burst on a fresh session takes half as long again as
   the ones after it, and varies more.

In both phases every request must have exactly one correct reply by the
drain deadline: ``SuccessfulInvocation`` with its hop counter at 0 for a
flow, ``Pong`` for a Ping, and the payload it was sent with. Anything
else is a failure, counted, never raised.

The run's ``attempted`` and ``failed`` count the bursts' flows, the
operations the end-to-end metrics time. A wrong or duplicated reply in
either phase makes the run incorrect. The open loop's missing replies
are its measured loss: it varies from none to nearly every request
between runs of the same code, so it is reported as a share
(``open_loop_failed_share``, printed on every run and a per-layer
metric) next to ``transport.frames_lost``, and not in ``failed``.

The seed picks only the generator's draws (which requests are Pings, and
each payload's nonce); the rate, hop count and schedule are fixed.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading
import time

from .loadgen import PAYLOAD, SHAPES, envelope, plan
from .stats import geomean, median, tail
from .tracing import TimedTransport, Tracer, feedback_metrics, progress_listener

# Requests in a burst: ten seconds of the schedule.
BURST = 300
# Bursts in a run; the end-to-end metrics are taken over all their flows.
BURSTS = 2
# Replies stamped later than this after the last due time count as missing.
DRAIN_S = 30.0
# Longest wait for both loop queries to come up before the schedule starts.
START_S = 60.0
# The open loop's drain ends early once both queries have been idle this
# long after the last request was due: a frame the loop lost never
# arrives, so waiting out the deadline would only lengthen the run.
QUIET_S = 2.0


class DrainDeadline(Exception):
    """Raised into ``run_event_loop``'s drain poll at the drain deadline."""


class _Deadline:
    """The loop's transport, passing every call through, except that the
    drain poll raises :class:`DrainDeadline` once ``stop`` is set; the
    loop then stops both queries itself and returns."""

    def __init__(self, inner) -> None:
        self.inner = inner
        self.stop = threading.Event()

    def read_stream(self, spark, topic: str):
        return self.inner.read_stream(spark, topic)

    def append(self, frames, topic: str) -> None:
        self.inner.append(frames, topic)

    def read_batch(self, spark, topic: str):
        if self.stop.is_set():
            raise DrainDeadline()
        return self.inner.read_batch(spark, topic)


def _idle(spark) -> bool:
    """No loop query is running a batch or has unread input."""
    return all(
        not (q.status["isTriggerActive"] or q.status["isDataAvailable"])
        for q in spark.streams.active
    )


def _wait_until_running(spark, timeout_s: float) -> None:
    """Both loop queries started and past their initialization."""
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        active = spark.streams.active
        if len(active) == 2 and all(
            not q.status["message"].startswith("Initializing") for q in active
        ):
            if any(q.lastProgress is not None for q in active):
                return
        time.sleep(0.1)
    raise TimeoutError("event loop queries did not start")


def _check(spark, inner, reqs, due_ns: list[int], deadline_ns: int) -> dict:
    """Match the replies in ``client_reply`` against the requests, outside
    any timed region. Latency is kept for the flows answered correctly."""
    from stateflow_flink_spark.sources.kafka import TOPIC_CLIENT_REPLY
    from stateflow_flink_spark.sources.proto import decode_event

    expected = {
        r.event_id: (r, PAYLOAD.pack(d, r.nonce)) for r, d in zip(reqs, due_ns)
    }
    raw = inner.read_batch(spark, TOPIC_CLIENT_REPLY).select("value", "timestamp").toPandas()
    seen: dict[str, int] = {}
    wrong = 0
    latencies: list[float] = []
    for value, ts in zip(raw["value"], raw["timestamp"]):
        ev = decode_event(bytes(value))
        ts_ns = ts.value  # naive UTC (session time zone)
        if ts_ns > deadline_ns:
            continue
        seen[ev["event_id"]] = seen.get(ev["event_id"], 0) + 1
        req, payload = expected.get(ev["event_id"], (None, None))
        if req is None:
            wrong += 1
            continue
        ok = ev["payload"] == payload and (
            ev["reply"] == "Pong"
            if req.ping
            else ev["reply"] == "SuccessfulInvocation"
            and ev["current_fun_key"] == "0"
            and ev["current_node_type"] == "RETURN"
        )
        if not ok:
            wrong += 1
        elif seen[ev["event_id"]] == 1 and not req.ping:
            latencies.append((ts_ns - PAYLOAD.unpack(payload)[0]) / 1e6)
    missing = sum(1 for eid in expected if eid not in seen)
    duplicated = sum(n - 1 for n in seen.values() if n > 1)
    return {
        "attempted": len(reqs),
        "failed": min(len(reqs), missing + duplicated + wrong),
        "correct": wrong == 0 and duplicated == 0,
        "latencies": latencies,
        "missing": missing,
        "duplicated": duplicated,
        "wrong": wrong,
    }


def _burst(spark, paths, workload: str, seed: int, index: int, tracer: Tracer) -> dict:
    from stateflow_flink_spark.schemas import EVENT_ENVELOPE
    from stateflow_flink_spark.streaming.feedback import run_event_loop
    from stateflow_flink_spark.streaming.transport import DirectoryTransport

    shape = SHAPES[workload]
    reqs = plan(workload, seed, BURST / shape.rate)
    inner = DirectoryTransport(os.path.join(paths.scratch, f"burst{index}"))
    due = time.time_ns()
    frames = spark.createDataFrame([envelope(r, shape.hops, due) for r in reqs], EVENT_ENVELOPE)
    error = None
    with tracer.span("run_event_loop.burst"):
        try:
            run_event_loop(spark, inner, frames, expected_replies=len(reqs), timeout_s=120.0)
        except TimeoutError as exc:  # a loop that loses replies still reports
            error = repr(exc)
    out = _check(spark, inner, reqs, [due] * len(reqs), due + int(120e9))
    out["error"] = error
    return out


def run(spark, paths, workload: str, seed: int, seconds: float, tracer: Tracer) -> dict:
    loop = _open_loop(spark, paths, workload, seed, seconds, tracer)
    bursts = [_burst(spark, paths, workload, seed, i, tracer) for i in range(BURSTS)]
    lat: list[float] = []
    flows_per_s = []
    for b in bursts:
        # Too few flows came back to measure: their latency is at least
        # the time the burst was given. Unanswered flows show in ``failed``.
        got = b["latencies"] if len(b["latencies"]) >= 10 else [120e3]
        lat.extend(got)
        flows_per_s.append(len(b["latencies"]) / (max(got) / 1e3))
    p99, pct, n = tail(loop["latencies"])
    attempted = sum(b["attempted"] for b in bursts)
    failed = sum(b["failed"] for b in bursts)
    open_failed_share = loop["failed"] / loop["attempted"]
    loop["layers"]["loop.open_failed_share"] = open_failed_share
    return {
        "attempted": attempted,
        "failed": failed,
        "correct": all(b["correct"] for b in bursts) and loop["correct"],
        "end_to_end": {"p50_ms": median(lat), "geomean_ms": geomean(lat)},
        "metrics": {
            "burst_p50_ms": median(lat),
            "burst_flows_per_s": median(flows_per_s),
            "flow_p50_ms": median(loop["latencies"]),
            "flow_p99_ms": p99,
            "failed_share": failed / attempted,
            "open_loop_failed_share": open_failed_share,
        },
        "detail": {
            "bursts": [
                {"p50_ms": median(b["latencies"]), **{k: v for k, v in b.items() if k != "latencies"}}
                for b in bursts
            ],
            "open_loop": {k: v for k, v in loop.items() if k not in ("latencies", "layers")},
            "flow_p99_percentile": pct,
            "flow_samples": n,
        },
        "layers": loop["layers"],
    }


def _open_loop(spark, paths, workload: str, seed: int, seconds: float, tracer: Tracer) -> dict:
    from stateflow_flink_spark.schemas import EVENT_ENVELOPE
    from stateflow_flink_spark.sources.kafka import (
        TOPIC_CLIENT_REPLY,
        TOPIC_CLIENT_REQUEST,
        TOPIC_INTERNAL,
    )
    from stateflow_flink_spark.streaming.feedback import run_event_loop
    from stateflow_flink_spark.streaming.transport import DirectoryTransport

    shape = SHAPES[workload]
    reqs = plan(workload, seed, seconds)
    inner = DirectoryTransport(os.path.join(paths.scratch, "loop"))
    timed = TimedTransport(inner, tracer) if tracer.enabled else None
    transport = _Deadline(timed or inner)
    listener = progress_listener(spark) if tracer.enabled else None

    gen = subprocess.Popen(
        [
            sys.executable,
            os.path.join(os.path.dirname(os.path.abspath(__file__)), "loadgen.py"),
            "--workload", workload,
            "--seed", str(seed),
            "--seconds", str(seconds),
            "--topic-dir", inner.topic_dir(TOPIC_CLIENT_REQUEST),
        ],
        stdin=subprocess.PIPE,
        stdout=subprocess.PIPE,
        text=True,
    )
    loop_error: list[BaseException] = []
    empty = spark.createDataFrame([], EVENT_ENVELOPE)

    def drive() -> None:
        with tracer.span("run_event_loop"):
            try:
                run_event_loop(
                    spark,
                    transport,
                    empty,
                    expected_replies=len(reqs),
                    timeout_s=START_S + seconds + DRAIN_S,
                )
            except DrainDeadline:
                pass
            except Exception as exc:  # a failed loop still reports
                loop_error.append(exc)

    try:
        if gen.stdout.readline().strip() != "ready":
            raise RuntimeError("load generator failed to start")
        loop_thread = threading.Thread(target=drive, name="event-loop", daemon=True)
        with tracer.span("loop") as loop_span:
            tracer.root = loop_span
            loop_thread.start()
            _wait_until_running(spark, START_S)
            t0 = time.time() + 0.5
            gen.stdin.write(f"go {t0!r}\n")
            gen.stdin.flush()
            out, _ = gen.communicate(timeout=seconds + 60)
            deadline = t0 + reqs[-1].due_s + DRAIN_S
            idle_since = None
            while loop_thread.is_alive() and time.time() < deadline:
                loop_thread.join(timeout=0.25)
                if not _idle(spark):
                    idle_since = None
                elif idle_since is None:
                    idle_since = time.time()
                elif time.time() - idle_since >= QUIET_S:
                    break
            transport.stop.set()
            loop_thread.join(timeout=60)
        late_ms = json.loads(out.strip().splitlines()[-1])["late_ms"]
    finally:
        transport.stop.set()
        if gen.poll() is None:
            gen.kill()
            gen.wait()
        for q in spark.streams.active:
            q.stop()

    t0_ns = int(t0 * 1e9)
    due_ns = [t0_ns + int(r.due_s * 1e9) for r in reqs]
    out = _check(spark, inner, reqs, due_ns, due_ns[-1] + int(DRAIN_S * 1e9))
    out["error"] = repr(loop_error[0]) if loop_error else None
    counts = {
        t: inner.read_batch(spark, t).count()
        for t in (TOPIC_CLIENT_REQUEST, TOPIC_INTERNAL, TOPIC_CLIENT_REPLY)
    }
    out["frames"] = counts
    frames_expected = sum(2 if r.ping else 2 + shape.hops for r in reqs)
    out["layers"] = {
        "transport.frames_lost": frames_expected - sum(counts.values()),
        "gen.late_p99_ms": tail(late_ms)[0],
    }
    if tracer.enabled:
        out["layers"].update(_traced_layers(spark, inner, timed, listener, tracer))
    return out


def _traced_layers(spark, inner, transport: TimedTransport, listener, tracer: Tracer) -> dict:
    from stateflow_flink_spark.sources.kafka import TOPIC_CLIENT_REQUEST, TOPIC_INTERNAL

    time.sleep(1.0)  # let the listener bus deliver the last progress events
    spark.streams.removeListener(listener)
    out = feedback_metrics(listener.events, tracer)
    for topic in ("internal", "client_reply"):
        out[f"transport.appends.{topic}"] = len(transport.append_ms[topic])
        out[f"transport.append_ms.{topic}"] = median(transport.append_ms[topic])
    out["transport.polls"] = len(transport.poll_ms)
    out["transport.poll_ms"] = median(transport.poll_ms)
    for topic in (TOPIC_CLIENT_REQUEST, TOPIC_INTERNAL):
        d = inner.topic_dir(topic)
        out[f"transport.files.{topic}"] = sum(
            1 for f in os.listdir(d) if f.endswith(".parquet")
        )
    out.update(codec_and_routing(spark, inner, tracer))
    return out


CODEC_SAMPLE = 2000
CODEC_REPS = 3


def codec_and_routing(spark, inner, tracer: Tracer) -> dict:
    """Per-frame cost of decode, encode and ingress+egress routing,
    timed on a sample of the run's own request frames with a ``noop``
    sink (median of ``CODEC_REPS``)."""
    from stateflow_flink_spark.schemas import EVENT_ENVELOPE
    from stateflow_flink_spark.sources.kafka import (
        TOPIC_CLIENT_REQUEST,
        TOPIC_INTERNAL,
        decode_frames,
        encode_frames,
    )
    from stateflow_flink_spark.streaming.routing import route_egress, route_ingress

    frames = (
        inner.read_batch(spark, TOPIC_CLIENT_REQUEST)
        .unionByName(inner.read_batch(spark, TOPIC_INTERNAL))
        .limit(CODEC_SAMPLE)
        .localCheckpoint()
    )
    n = frames.count()
    decoded = (
        decode_frames(frames).select(*[f.name for f in EVENT_ENVELOPE.fields]).localCheckpoint()
    )

    def timed(name: str, df) -> float:
        samples = []
        for _ in range(CODEC_REPS):
            t0 = time.perf_counter()
            with tracer.span(name):
                df.write.format("noop").mode("overwrite").save()
            samples.append(time.perf_counter() - t0)
        return median(samples)

    base = timed("codec.scan", decoded)
    dec = timed("codec.decode", decode_frames(frames))
    enc = timed("codec.encode", encode_frames(decoded, TOPIC_INTERNAL))
    route = timed("routing", route_egress(route_ingress(decoded)))
    per = 1e6 / max(n, 1)
    return {
        "codec.decode_us_per_frame": dec * per,
        "codec.encode_us_per_frame": enc * per,
        "routing.us_per_frame": max(0.0, route - base) * per,
    }
