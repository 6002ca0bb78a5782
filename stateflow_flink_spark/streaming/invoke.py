"""Async stateless external invocation — the Spark-native
InvokeStatelessLambda (ref R5) plus the post-create re-key map (ref R6).

Reference semantics (``InvokeStatelessLambda.java:28-113``,
``StateFlowFlinkJob.java:79-108``): creation events (no key yet) are
shipped to an external function with NO state attached
(``clearState()``, ``:74-79``); the function (`InitClass`) assigns a
fresh key and returns the event; calls are ASYNC and UNORDERED with a
bounded number in flight (``unorderedWait``, capacity 1000, timeout 2 s
— ``StateFlowFlinkJob.java:85-87``); results are re-keyed into normal
routes and unioned with the direct stream (``:88-103``).

Spark-native design: the external call happens INSIDE ``mapInPandas`` —
each partition fans its Arrow batch into a thread pool
(``MAX_IN_FLIGHT`` concurrent calls per partition, per-call timeout),
collecting completions in ARRIVAL order (the unordered contract).  The
hop-per-event network architecture of the reference is replaced by
function-travels-to-data; a remote HTTP/Lambda client drops into the
same ``StatelessFn`` signature unchanged.
"""

from __future__ import annotations

import hashlib
import math
from collections.abc import Callable, Iterator
from concurrent.futures import ThreadPoolExecutor, as_completed
from concurrent.futures import TimeoutError as FuturesTimeoutError

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load
from ..plans.registry import query

MAX_IN_FLIGHT = 64  # per-partition concurrent calls (ref capacity: 1000/task)
CALL_TIMEOUT_S = 2.0  # ref: 2 s (StateFlowFlinkJob.java:84-87)

StatelessFn = Callable[[dict], dict]
_STATELESS: dict[str, StatelessFn] = {}


def register_stateless(operator_name: str, fn: StatelessFn) -> None:
    _STATELESS[operator_name] = fn


def get_stateless(operator_name: str) -> StatelessFn:
    return _STATELESS[operator_name]


def init_class_fn(event: dict) -> dict:
    """Built-in InitClass: assign a deterministic content-addressed key
    (the reference's Lambda mints the key server-side; deterministic
    derivation keeps the whole path oracle-checkable)."""
    key = hashlib.md5(str(event["event_id"]).encode()).hexdigest()[:8]
    return {
        "event_id": event["event_id"],
        "fun_key": key,
        "reply": "SuccessfulCreateClass",
    }


register_stateless("engine/Fold-create", init_class_fn)

_CREATE_OUT = "event_id bigint, fun_key string, reply string"


def invoke_stateless(
    df: DataFrame,
    operator_name: str,
    timeout_s: float = CALL_TIMEOUT_S,
    latency=None,
) -> DataFrame:
    """Unordered async map over an external function (ref R5).

    Rows that raise or time out become ``FailedInvocation`` replies —
    the engine-side analog of the reference's error log + drop
    (``InvokeStatelessLambda.java:95-103``).

    ``latency`` (a ``metrics.InvokeLatency``) reproduces the reference's
    per-invoke Dropwizard histogram (``InvokeStatelessLambda.java:57-63,
    95``): every completed call — success or failure — lands one
    worker-side sample, merged to the driver on task completion.
    Timeout-ABANDONED calls are best-effort: their sample is recorded in
    the abandoned worker thread's ``finally`` only if the call returns
    before the Spark task reports its accumulator updates; a call that
    outlives the task is dropped from the histogram (it was dropped from
    the output too — same row, same fate)."""

    # resolve on the driver and let cloudpickle ship the callable — a
    # worker process's registry only has import-time registrations
    fn = get_stateless(operator_name)
    if latency is not None:
        fn = latency.timed(fn)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pool = ThreadPoolExecutor(max_workers=MAX_IN_FLIGHT)
        try:
            for pdf in batches:
                futures = {
                    pool.submit(fn, ev): ev["event_id"]
                    for ev in pdf.to_dict("records")
                }
                # batch deadline: every call gets timeout_s of wall even
                # when queued behind MAX_IN_FLIGHT concurrent slots
                deadline = timeout_s * max(1, math.ceil(len(futures) / MAX_IN_FLIGHT))
                outs = []
                pending = set(futures)
                try:
                    for fut in as_completed(futures, timeout=deadline):
                        pending.discard(fut)
                        try:
                            outs.append(fut.result())
                        except Exception:
                            outs.append(
                                {
                                    "event_id": futures[fut],
                                    "fun_key": None,
                                    "reply": "FailedInvocation",
                                }
                            )
                except FuturesTimeoutError:
                    # deadline blown: every still-pending call degrades to a
                    # per-row failure (ref: error log + drop) instead of
                    # failing the whole Spark task
                    for fut in pending:
                        fut.cancel()
                        outs.append(
                            {
                                "event_id": futures[fut],
                                "fun_key": None,
                                "reply": "FailedInvocation",
                            }
                        )
                yield pd.DataFrame(outs, columns=["event_id", "fun_key", "reply"])
        finally:
            # wait=False: a truly hung external call must not block task
            # completion; its thread dies with the (reused) python worker
            pool.shutdown(wait=False, cancel_futures=True)

    return df.mapInPandas(run, _CREATE_OUT)


def rekey_created(created: DataFrame, operator_name: str) -> DataFrame:
    """Post-create re-key map (ref R6, StateFlowFlinkJob.java:88-95):
    the freshly assigned key becomes the route key and the event joins
    the operator's normal (stateful) route."""
    route = operator_name.removesuffix("-create")
    return created.select(
        "event_id",
        "fun_key",
        "reply",
        F.lit("INTERNAL").alias("direction"),
        F.lit(route).alias("route_name"),
        F.col("fun_key").alias("route_key"),
    )


@query(
    "q_invoke_create",
    """
    SELECT event_id,
           SUBSTRING(MD5(CAST(event_id AS VARCHAR)), 1, 8) AS fun_key,
           'SuccessfulCreateClass' AS reply,
           'INTERNAL' AS direction,
           'engine/Fold' AS route_name,
           SUBSTRING(MD5(CAST(event_id AS VARCHAR)), 1, 8) AS route_key
    FROM events
    WHERE event_type = 'signup'
    """,
)
def q_invoke_create(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full create path (ref R5+R6) over the events fixture: signup
    events (the keyless create route per q_route_ingress) → async
    unordered InitClass with bounded in-flight calls → re-key to the
    stateful route.  Unordered completion is invisible to the oracle
    because the compare is order-insensitive — exactly why the reference
    could use unorderedWait."""
    e = load(spark, sf_dir, "events").filter(F.col("event_type") == "signup")
    created = invoke_stateless(e.select("event_id"), "engine/Fold-create")
    return rekey_created(created, "engine/Fold-create")
