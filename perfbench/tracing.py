"""Tracing for the per-layer run: spans, streaming progress, event log.

Everything here observes the program from outside. Spans are recorded
by the benchmark around its own calls into the program's public
functions; micro-batch numbers come from a ``StreamingQueryListener``;
task and SQL metrics come from the Spark event log. A run with tracing
off uses :class:`Tracer` disabled and installs neither the listener nor
the event log.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import threading
import time
from collections import defaultdict
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from .stats import median


class Tracer:
    """Spans kept in memory and written when the run ends. Each span has
    a name, a start and an end (``time.time()`` seconds) and the id of
    the span that caused it. Spans opened on a thread nest under that
    thread's open span; spans from other threads (streaming callbacks)
    nest under ``root``. A disabled tracer records nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self.root: int | None = None
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> int:
        with self._lock:
            sid = len(self.spans)
            self.spans.append(
                {"id": sid, "name": name, "start": start, "end": end, "parent": parent, **attrs}
            )
        return sid

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else self.root
        sid = self.add(name, time.time(), 0.0, parent, **attrs)
        stack.append(sid)
        try:
            yield sid
        finally:
            stack.pop()
            self.spans[sid]["end"] = time.time()

    def self_times(self) -> dict[str, dict[str, float]]:
        """Per span name: count, total seconds, and self seconds (the
        span's duration minus what its children cover)."""
        child_s: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] += s["end"] - s["start"]
        out: dict[str, dict[str, float]] = {}
        for s in self.spans:
            row = out.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
            dur = s["end"] - s["start"]
            row["count"] += 1
            row["total_s"] += dur
            row["self_s"] += max(0.0, dur - child_s[s["id"]])
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


# ---------------------------------------------------------------------------
# streaming progress
# ---------------------------------------------------------------------------


def progress_listener(spark: SparkSession):
    """Register and return a listener that keeps every progress event as
    a dict."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def __init__(self) -> None:
            self.events: list[dict] = []

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            self.events.append(json.loads(event.progress.json))

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    listener = Progress()
    spark.streams.addListener(listener)
    return listener


def batch_role(progress: dict) -> str:
    """``ingress`` for batches reading ``client_request``, ``worker`` for
    those reading ``internal``, ``other`` for registry queries."""
    desc = " ".join(s.get("description", "") for s in progress.get("sources", []))
    if "client_request" in desc:
        return "ingress"
    if "/internal" in desc:
        return "worker"
    return "other"


_OVERHEAD_PHASES = ("latestOffset", "getBatch", "queryPlanning", "walCommit", "commitOffsets")


def feedback_metrics(events: list[dict], tracer: Tracer) -> dict[str, float]:
    """Micro-batch machinery of the two loop queries, from listener
    progress. Batches are also added as spans under the tracer's root."""
    out: dict[str, float] = {}
    by_role: dict[str, list[dict]] = defaultdict(list)
    for p in events:
        by_role[batch_role(p)].append(p)
    for role in ("ingress", "worker"):
        data = [p for p in by_role[role] if p.get("numInputRows", 0) > 0]
        out[f"feedback.{role}_batches"] = len(data)
        out[f"feedback.{role}_batch_ms"] = median(
            [p["durationMs"].get("triggerExecution", 0) for p in data]
        )
    workers = [p for p in by_role["worker"] if p.get("numInputRows", 0) > 0]
    out["feedback.worker_addbatch_ms"] = median(
        [p["durationMs"].get("addBatch", 0) for p in workers]
    )
    out["feedback.worker_overhead_ms"] = median(
        [sum(p["durationMs"].get(k, 0) for k in _OVERHEAD_PHASES) for p in workers]
    )
    out["feedback.worker_rows_per_batch"] = median([p["numInputRows"] for p in workers])
    out["feedback.ingress_getbatch_ms"] = median(
        [p["durationMs"].get("getBatch", 0) for p in by_role["ingress"]]
    )
    batches = []
    for p in events:
        if p.get("numInputRows", 0) == 0:
            continue
        start = _iso_seconds(p["timestamp"])
        end = start + p["durationMs"].get("triggerExecution", 0) / 1e3
        sid = tracer.add(f"batch.{batch_role(p)}", start, end, tracer.root, rows=p["numInputRows"])
        batches.append((start, end, sid))
    # Appends run on the streaming callback threads; nest each under the
    # latest-starting batch that contains it.
    for span in tracer.spans:
        if span["name"].startswith("transport.append") and span["parent"] == tracer.root:
            inside = [b for b in batches if b[0] <= span["start"] and span["end"] <= b[1]]
            if inside:
                span["parent"] = max(inside)[2]
    return out


def state_metrics(events: list[dict]) -> dict[str, float]:
    """Keyed state of the registry's streaming queries, summed over
    every batch's ``stateOperators``: rows and bytes at each query's last
    batch, commit and update time over all batches, and partitions."""
    last: dict[str, dict] = {}
    commit_ms = update_ms = 0.0
    for p in events:
        ops = p.get("stateOperators") or []
        for op in ops:
            commit_ms += op.get("commitTimeMs", 0)
            update_ms += op.get("allUpdatesTimeMs", 0)
        if ops:
            last[p["id"]] = p
    rows = sum(op.get("numRowsTotal", 0) for p in last.values() for op in p["stateOperators"])
    nbytes = sum(
        op.get("memoryUsedBytes", 0) for p in last.values() for op in p["stateOperators"]
    )
    parts = sum(
        op.get("numShufflePartitions", 0) for p in last.values() for op in p["stateOperators"]
    )
    return {
        "state.rows": rows,
        "state.bytes": nbytes,
        "state.commit_ms": commit_ms,
        "state.update_ms": update_ms,
        "state.partitions": parts,
    }


def _iso_seconds(ts: str) -> float:
    from datetime import datetime, timezone

    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp()


# ---------------------------------------------------------------------------
# transport proxy
# ---------------------------------------------------------------------------


class TimedTransport:
    """Passes every call to the wrapped transport, timing appends per
    topic and the drain poll's ``read_batch(...).count()``."""

    def __init__(self, inner, tracer: Tracer) -> None:
        self.inner = inner
        self.tracer = tracer
        self.append_ms: dict[str, list[float]] = defaultdict(list)
        self.poll_ms: list[float] = []
        self._lock = threading.Lock()

    def read_stream(self, spark: SparkSession, topic: str) -> DataFrame:
        return self.inner.read_stream(spark, topic)

    def append(self, frames: DataFrame, topic: str) -> None:
        t0 = time.perf_counter()
        with self.tracer.span(f"transport.append.{topic}"):
            self.inner.append(frames, topic)
        with self._lock:
            self.append_ms[topic].append((time.perf_counter() - t0) * 1e3)

    def read_batch(self, spark: SparkSession, topic: str):
        return _TimedCount(self.inner.read_batch(spark, topic), self)


class _TimedCount:
    """A batch snapshot whose ``count()`` (the drain poll) is timed; all
    other attributes are the DataFrame's own."""

    def __init__(self, df: DataFrame, owner: TimedTransport) -> None:
        self._df = df
        self._owner = owner

    def count(self) -> int:
        t0 = time.perf_counter()
        with self._owner.tracer.span("transport.poll"):
            n = self._df.count()
        self._owner.poll_ms.append((time.perf_counter() - t0) * 1e3)
        return n

    def __getattr__(self, name: str) -> Any:
        return getattr(self._df, name)


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

_PYTHON_METRICS = {
    "time to run Python workers": "python.total_ms",
    "time to start Python workers": "python.boot_ms",
    "time to initialize Python workers": "python.init_ms",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
}


def event_log_metrics(log_dir: str, app_id: str, spans: list[dict]) -> dict[str, Any]:
    """Task and SQL metrics of one application's event log: shuffle,
    spill, executor time and the Python-worker SQL metrics, in total and
    per ``query.*`` span. A job belongs to the span open when it was
    submitted; streaming batches replace the job description the
    benchmark sets, so the description cannot tell queries apart."""
    # Plain or rolling (eventlog_v2_<app>/events_<n>_<app>) layout.
    paths = sorted(
        p
        for p in glob.glob(os.path.join(log_dir, "**", f"*{app_id}*"), recursive=True)
        if os.path.isfile(p) and not os.path.basename(p).startswith("appstatus")
    )
    if not paths:
        return {}
    windows = [
        (s["start"] * 1e3, s["end"] * 1e3, s["name"][len("query."):])
        for s in spans
        if s["name"].startswith("query.")
    ]
    metric_type: dict[int, str] = {}
    stage_query: dict[int, str] = {}
    stage_reads: dict[int, list[float]] = defaultdict(list)
    totals: dict[str, float] = defaultdict(float)
    per_query: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for ev in _events(paths):
        kind = ev.get("Event", "")
        if kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            _walk_plan(ev.get("sparkPlanInfo") or {}, metric_type)
        elif kind == "SparkListenerJobStart":
            t = ev.get("Submission Time", 0)
            name = next((n for lo, hi, n in windows if lo <= t <= hi), "")
            for sid in ev.get("Stage IDs", []):
                stage_query[sid] = name
        elif kind == "SparkListenerTaskEnd":
            row = _task_row(ev, metric_type)
            name = stage_query.get(ev.get("Stage ID"), "")
            for k, v in row.items():
                totals[k] += v
                per_query[name][k] += v
            stage_reads[ev.get("Stage ID")].append(row.get("shuffle.read_bytes", 0.0))
    totals["shuffle.skew"] = _skew(stage_reads)
    return {"totals": dict(totals), "per_query": {k: dict(v) for k, v in per_query.items()}}


def _events(paths: list[str]):
    for path in paths:
        with open(path) as fh:
            for line in fh:
                yield json.loads(line)


def _walk_plan(node: dict, metric_type: dict[int, str]) -> None:
    for m in node.get("metrics", []):
        metric_type[m["accumulatorId"]] = m.get("metricType", "sum")
    for child in node.get("children", []):
        _walk_plan(child, metric_type)


def _task_row(ev: dict, metric_type: dict[int, str]) -> dict[str, float]:
    tm = ev.get("Task Metrics") or {}
    sr = tm.get("Shuffle Read Metrics") or {}
    sw = tm.get("Shuffle Write Metrics") or {}
    row = {
        "shuffle.read_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "shuffle.write_bytes": sw.get("Shuffle Bytes Written", 0),
        "shuffle.fetch_wait_ms": sr.get("Fetch Wait Time", 0),
        "spill.bytes": tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0),
        "exec.cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
        "exec.run_s": tm.get("Executor Run Time", 0) / 1e3,
        "exec.gc_s": tm.get("JVM GC Time", 0) / 1e3,
        "exec.tasks": 1,
    }
    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
        key = _PYTHON_METRICS.get(acc.get("Name"))
        if key is None:
            continue
        value = float(acc.get("Update") or 0)
        if metric_type.get(acc.get("ID")) == "nsTiming":
            value /= 1e6
        row[key] = row.get(key, 0.0) + value
    return row


def _skew(stage_reads: dict[int, list[float]]) -> float:
    """Bytes-weighted mean, over stages that read shuffle data, of the
    largest task's read divided by the mean task's read (1 = even)."""
    num = den = 0.0
    for reads in stage_reads.values():
        total = sum(reads)
        if total <= 0 or len(reads) < 2:
            continue
        num += total * (max(reads) / (total / len(reads)))
        den += total
    return num / den if den else 1.0
