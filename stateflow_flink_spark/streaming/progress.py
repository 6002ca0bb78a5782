"""Streaming progress observables — per-batch throughput, state size and
watermark-drop counts, read from Structured Streaming's own progress
telemetry.

Reference parity note: the reference's only shipped metric is the
per-invoke latency histogram (see ``metrics.py``); everything here is
the Spark-native operational surface a production deployment watches
alongside it — batch durations (the throughput denominator), rows/sec,
state-store size (the R9 ValueState growth curve) and
``numRowsDroppedByWatermark`` (the late-data loss the reference, running
processing-time-only per ``StateFlowFlinkJob.java:69``, can't even see).

Shape: :class:`QueryEvents`, a ``StreamingQueryListener`` registered for
a ``with`` block, so it reads every query the block runs without a
handle to it: a registry run through ``run_query``, an
``io.run_bounded`` run and both ``run_event_loop`` queries alike. The
engine already computed every number; the listener only keeps them.
"""

from __future__ import annotations

import json


def _batch_row(p: dict) -> dict:
    """One progress event → flat metrics row."""
    dur = p.get("durationMs") or {}
    states = p.get("stateOperators") or []
    return {
        "batch_id": p.get("batchId"),
        "num_input_rows": p.get("numInputRows", 0),
        "rows_per_sec": p.get("processedRowsPerSecond", 0.0),
        "batch_duration_ms": dur.get("triggerExecution"),
        "state_rows": sum(s.get("numRowsTotal", 0) for s in states),
        "state_bytes": sum(s.get("memoryUsedBytes", 0) for s in states),
        "rows_dropped_by_watermark": sum(
            s.get("numRowsDroppedByWatermark", 0) for s in states
        ),
        "watermark": p.get("eventTime", {}).get("watermark"),
    }


class QueryEvents:
    """A ``StreamingQueryListener`` registered for a ``with`` block: it
    keeps each run's progress reports and termination exception, keyed
    by run id, and on exit drains the listener bus so every event of the
    block has been delivered."""

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        self.spark = spark
        self.progress: list = []
        self.terminated: dict[str, str | None] = {}
        events = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event) -> None:
                pass

            def onQueryProgress(self, event) -> None:
                events.progress.append(event.progress)

            def onQueryIdle(self, event) -> None:
                pass

            def onQueryTerminated(self, event) -> None:
                events.terminated[str(event.runId)] = event.exception

        self.listener = Listener()

    def __enter__(self) -> "QueryEvents":
        self.spark.streams.addListener(self.listener)
        return self

    def __exit__(self, *exc) -> None:
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        self.spark.streams.removeListener(self.listener)

    def batches(self, run_id: str | None = None) -> list[dict]:
        """One flat metrics row per progress report, oldest first; only
        run ``run_id``'s reports when it is given."""
        return [
            _batch_row(json.loads(p.json))
            for p in self.progress
            if run_id is None or str(p.runId) == run_id
        ]
