"""Open-loop load generator for the event-loop workloads.

Run as its own process; it never calls Spark. It waits for ``go <t0>``
on stdin, where ``t0`` is the wall-clock start of the schedule, builds
every request frame with ``sources.proto.encode_event`` (the due time is
stamped into each frame's payload), then appends the frames that are due
to the ``client_request`` topic directory, on schedule, whether or not
the system keeps up. Each append is a ``KAFKA_RECORD`` parquet file,
written under a hidden name and renamed into place, so the file source
never lists a partial file.

When the schedule ends it prints one JSON line: ``{"late_ms": [...]}``,
how late each request was written relative to its due time.

    python3 perfbench/loadgen.py --workload loop_hops --seed 1 \
        --seconds 10 --topic-dir <dir>
"""

from __future__ import annotations

import argparse
import json
import os
import struct
import sys
import time
from dataclasses import dataclass

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

# The shortest sleep between two appends; requests due within one tick
# share a file, so the file source is not flooded with one-row files.
TICK_S = 0.1
PAYLOAD = struct.Struct(">qQ")  # due time (ns since epoch), nonce


@dataclass(frozen=True)
class Shape:
    """What one loop workload sends: ``rate`` requests per second, each a
    flow of ``hops`` hops, or, for a ``ping_share`` of them, a Ping."""

    rate: float
    hops: int
    ping_share: float


SHAPES = {
    # A few tens of requests per second, well under the knee: every flow
    # crosses 4 batches of the worker query, so per-batch fixed cost
    # dominates, and the ingress and worker queries append into the
    # internal topic at the same time.
    "loop_hops": Shape(rate=30.0, hops=4, ping_share=0.1),
}


@dataclass
class Request:
    event_id: str
    ping: bool
    due_s: float  # offset from the schedule start
    nonce: int


def plan(workload: str, seed: int, seconds: float) -> list[Request]:
    """The seeded request list of one run, in due order. The benchmark
    calls this too, to know which replies to expect."""
    shape = SHAPES[workload]
    n = max(1, int(shape.rate * seconds))
    rng = np.random.default_rng(seed)
    pings = rng.random(n) < shape.ping_share
    nonces = rng.integers(0, 2**63, n)
    return [
        Request(f"r{i}", bool(pings[i]), i / shape.rate, int(nonces[i]))
        for i in range(n)
    ]


def envelope(req: Request, hops: int, due_ns: int) -> dict:
    """The EVENT_ENVELOPE row of one request: a Ping, or an EventFlow
    shaped like ``feedback.make_flow_requests`` whose cursor counts the
    hops left."""
    payload = PAYLOAD.pack(due_ns, req.nonce)
    if req.ping:
        return {
            "event_id": req.event_id,
            "fun_namespace": "globals",
            "fun_name": "ping",
            "fun_stateful": False,
            "fun_key": "",
            "request": "Ping",
            "reply": None,
            "payload": payload,
            "current_fun_namespace": "",
            "current_fun_name": "",
            "current_fun_key": "",
            "current_node_type": "",
        }
    return {
        "event_id": req.event_id,
        "fun_namespace": "flows",
        "fun_name": "flow",
        "fun_stateful": True,
        "fun_key": req.event_id,
        "request": "EventFlow",
        "reply": None,
        "payload": payload,
        "current_fun_namespace": "flows",
        "current_fun_name": "step_fun",
        "current_fun_key": str(hops),
        "current_node_type": "step",
    }


def _write(topic_dir: str, keys: list, values: list, seq: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = len(keys)
    now_us = time.time_ns() // 1000
    table = pa.table(
        {
            "key": pa.array(keys, pa.binary()),
            "value": pa.array(values, pa.binary()),
            "topic": pa.array(["client_request"] * n, pa.string()),
            "partition": pa.array([0] * n, pa.int32()),
            "offset": pa.array(range(seq, seq + n), pa.int64()),
            "timestamp": pa.array([now_us] * n, pa.timestamp("us", tz="UTC")),
            "timestampType": pa.array([0] * n, pa.int32()),
        }
    )
    tmp = os.path.join(topic_dir, f".gen-{seq}.parquet.tmp")
    pq.write_table(table, tmp)
    os.rename(tmp, os.path.join(topic_dir, f"part-gen-{seq:09d}.parquet"))


def run(workload: str, seed: int, seconds: float, topic_dir: str, t0: float) -> list[float]:
    """Build the frames, then append them on schedule from ``t0``.
    Returns each request's lateness in ms."""
    from stateflow_flink_spark.sources.proto import encode_event

    shape = SHAPES[workload]
    reqs = plan(workload, seed, seconds)
    t0_ns = int(t0 * 1e9)
    due_ns = [t0_ns + int(r.due_s * 1e9) for r in reqs]
    keys = [r.event_id.encode() for r in reqs]
    values = [encode_event(envelope(r, shape.hops, d)) for r, d in zip(reqs, due_ns)]
    late_ms: list[float] = []
    i, n = 0, len(reqs)
    while i < n:
        now = time.time_ns()
        j = i
        while j < n and due_ns[j] <= now:
            j += 1
        if j == i:
            time.sleep(max(TICK_S, (due_ns[i] - now) / 1e9))
            continue
        _write(topic_dir, keys[i:j], values[i:j], i)
        done = time.time_ns()
        late_ms.extend((done - d) / 1e6 for d in due_ns[i:j])
        i = j
        time.sleep(TICK_S)
    return late_ms


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=sorted(SHAPES), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--topic-dir", required=True)
    args = ap.parse_args()
    # Imports are done before the ready line, so they do not delay t0.
    import pyarrow.parquet  # noqa: F401
    from stateflow_flink_spark.sources import proto  # noqa: F401

    print("ready", flush=True)
    line = sys.stdin.readline().split()
    if len(line) != 2 or line[0] != "go":
        sys.exit("loadgen: expected 'go <t0>' on stdin")
    late = run(args.workload, args.seed, args.seconds, args.topic_dir, float(line[1]))
    print(json.dumps({"late_ms": late}), flush=True)


if __name__ == "__main__":
    main()
