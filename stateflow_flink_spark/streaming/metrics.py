"""Per-invoke latency histogram — the one observable the reference
actually ships: a Dropwizard ``Histogram`` registered around every
external function call (``InvokeStatelessLambda.java:57-63`` builds the
metric, ``:95`` updates it per call; ``InvokeStatefulLambda.java:56-59``
and ``:112`` do the same on the stateful path).

Spark-native shape: a custom ``AccumulatorParam`` merging fixed-bound
latency buckets.  Worker-side ``record()`` adds into the task-local
accumulator copy; Spark merges copies into the driver value on task
completion — the same per-reporter-snapshot merge discipline as
Dropwizard, with zero extra shuffle, action, or listener thread.  The
driver reads ``snapshot()`` between (or after) micro-batches, exactly
when the reference's metric reporter would scrape.

Buckets are fixed exponential bounds (ms) rather than a reservoir:
reservoir sampling needs mutable shared state that cannot merge
associatively across tasks, while bucket counts merge exactly — the
standard Prometheus-histogram trade, made here for the same reason
(distributed writers, single reader).
"""

from __future__ import annotations

import threading
import time
from bisect import bisect_left
from collections.abc import Callable
from typing import TypeVar

from pyspark.accumulators import AccumulatorParam
from pyspark.sql import SparkSession

T = TypeVar("T")

# Upper bounds in ms; one implicit +inf bucket at the end.  Spans the
# sub-ms in-process call to the reference's 2 s remote timeout.
BUCKET_BOUNDS_MS: tuple[float, ...] = (
    1.0, 2.0, 5.0, 10.0, 25.0, 50.0, 100.0, 250.0, 500.0, 1000.0, 2500.0, 5000.0
)


def _zero() -> dict:
    return {
        "count": 0,
        "total_ms": 0.0,
        "max_ms": 0.0,
        "buckets": [0] * (len(BUCKET_BOUNDS_MS) + 1),
    }


class _LatencyHistParam(AccumulatorParam):
    def zero(self, value: dict) -> dict:  # noqa: ARG002 (Spark API shape)
        return _zero()

    def addInPlace(self, a: dict, b: dict) -> dict:
        a["count"] += b["count"]
        a["total_ms"] += b["total_ms"]
        a["max_ms"] = max(a["max_ms"], b["max_ms"])
        a["buckets"] = [x + y for x, y in zip(a["buckets"], b["buckets"])]
        return a


class InvokeLatency:
    """Create on the driver, capture in the invoke closure, read on the
    driver after (or between) batches.  Only the Accumulator handle is
    pickled to workers — never the SparkSession."""

    def __init__(self, spark: SparkSession, name: str = "invoke_latency"):
        self.name = name
        self._acc = spark.sparkContext.accumulator(_zero(), _LatencyHistParam())

    def __getstate__(self) -> dict:
        # threading.Lock doesn't pickle; workers recreate it lazily.
        return {k: v for k, v in self.__dict__.items() if k != "_lock"}

    def _lock_handle(self) -> threading.Lock:
        # dict.setdefault is atomic under the GIL, so concurrent first
        # callers all end up holding the same lock object.
        return self.__dict__.setdefault("_lock", threading.Lock())

    # -- worker side ----------------------------------------------------
    def record(self, elapsed_s: float) -> None:
        ms = elapsed_s * 1000.0
        upd = _zero()
        upd["count"] = 1
        upd["total_ms"] = ms
        upd["max_ms"] = ms
        upd["buckets"][bisect_left(BUCKET_BOUNDS_MS, ms)] = 1
        # invoke_stateless fans calls across a ThreadPoolExecutor;
        # Accumulator.add is a non-atomic read-modify-write, so serialize.
        with self._lock_handle():
            self._acc.add(upd)

    def timed(self, fn: Callable[..., T]) -> Callable[..., T]:
        """Wrap an invoked function, stateless ``(event)`` or stateful
        ``(event, state)``, so every call lands one histogram sample —
        failures included (the reference updates the histogram before
        inspecting the reply, InvokeStatelessLambda.java:93-95).

        ``run_event_loop(..., advance=latency.timed(flow.hop))`` times
        every hop of every flow exactly where the reference wraps its
        Dropwizard metric around the lambda call
        (``InvokeStatefulLambda.java:56-59`` build, ``:112`` update);
        after the loop drains, ``snapshot()`` is the histogram the
        reference's metric reporter would scrape."""

        def call(*args) -> T:
            t0 = time.perf_counter()
            try:
                return fn(*args)
            finally:
                self.record(time.perf_counter() - t0)

        return call

    # -- driver side ------------------------------------------------------
    def snapshot(self) -> dict:
        """Histogram snapshot: count / mean / max / cumulative-bucket
        p50 & p99 upper bounds (the Dropwizard getSnapshot() analog)."""
        v = self._acc.value
        out = {
            "name": self.name,
            "count": v["count"],
            "mean_ms": (v["total_ms"] / v["count"]) if v["count"] else 0.0,
            "max_ms": v["max_ms"],
            "buckets": dict(
                zip([*map(str, BUCKET_BOUNDS_MS), "+inf"], v["buckets"])
            ),
        }
        for q in (0.5, 0.99):
            target, cum, bound = q * v["count"], 0, None
            for i, c in enumerate(v["buckets"]):
                cum += c
                if cum >= target and c:
                    bound = (
                        BUCKET_BOUNDS_MS[i]
                        if i < len(BUCKET_BOUNDS_MS)
                        else float("inf")
                    )
                    break
            out[f"p{int(q * 100)}_le_ms"] = bound
        return out
