"""Multi-step event flows — the reference's dataflow cycle, bounded.

The reference iterates by producing mid-flow events back to the
``internal`` Kafka topic, which its own source re-consumes
(``EgressRouter.java:49-63`` -> ``StateFlowFlinkJob.java:143-147`` ->
``:50``): a cycle through Kafka, one hop per flow step, terminating when
the cursor reaches ``"RETURN"`` (``IngressRouter.java:79``).  Each hop
is one function call per event (``InvokeStatefulLambda.java:103-115``).

A hop is therefore row-local. :func:`run_flow` is the one hop loop:
``advance(event) -> event`` is called once per event per hop while the
event is still mid-flow (``routing.mid_flow``, the egress router's
INTERNAL rule), up to ``MAX_FLOW_STEPS`` hops. Structured Streaming
cannot express the cycle inside one query (SURVEY.md §3.3); both
mappings of it run this loop inside the one ``mapInPandas`` stage
:func:`hop_frames`:

  * production: :func:`hop_frames` is the reference's chained task on
    each micro-batch of the two streaming queries sharing ``internal``
    (streaming/feedback.py): per Kafka record it decodes the Event,
    applies the ingress rule, hops, applies the egress rule and encodes
    the frame for its topic, and the transport's producer writes the
    frames from that same pass, so a batch crosses into Python once and
    runs one Spark job. Only flows still mid-flow after the bound cross
    the feedback edge;
  * bounded/batch: ``q_flow_iterate`` frames a fixture's flows with
    ``encode_frames``, hops them through the same :func:`hop_frames`
    and decodes the frames it emits; a flow still mid-flow after the
    bound is an error.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load
from ..plans.registry import query
from ..sources.kafka import (
    TOPIC_CLIENT_REQUEST,
    TOPIC_INTERNAL,
    decode_frames,
    encode_frames,
    frame_batch,
    frame_stage,
)
from ..sources.proto import decode_event
from .routing import RETURN_NODE, egress_topic, ingress, mid_flow

MAX_FLOW_STEPS = 64  # safety bound, like any production feedback loop


def hop(event: dict) -> dict:
    """One flow hop on one event (the stateful-apply stand-in, SURVEY
    §3.3 step 2): burn one step off the cursor, which carries the
    remaining-step count in ``current_fun_key``; an exhausted flow
    becomes a Reply event (oneof flips request->reply, event.proto:52-56)
    so route_egress sends it CLIENT (EgressRouter.java:36-42)."""
    steps = int(event["current_fun_key"]) - 1
    done = steps <= 0
    return {
        **event,
        "current_fun_key": str(steps),
        "current_node_type": RETURN_NODE if done else "step",
        "reply": "SuccessfulInvocation" if done else event["reply"],
        "request": None if done else event["request"],
    }


def make_flow_requests(spark: SparkSession, flows: DataFrame) -> DataFrame:
    """Build EVENT_ENVELOPE EventFlow requests from ``(event_id,
    steps_left)`` rows — the client's seed producing to client_request.

    The flow cursor rides the envelope's EventFlowNode columns
    (event.proto:44-47): ``current_fun_key`` carries the remaining-step
    counter as a decimal string (the reference packs its flow graph into
    the payload; a counter-in-key is this fixture's bounded stand-in),
    ``current_node_type`` is the cursor the routers read
    (IngressRouter.java:79-99)."""
    return flows.select(
        F.col("event_id").cast("string").alias("event_id"),
        F.lit("flows").alias("fun_namespace"),
        F.lit("flow").alias("fun_name"),
        F.lit(True).alias("fun_stateful"),
        F.col("event_id").cast("string").alias("fun_key"),
        F.lit("EventFlow").alias("request"),
        F.lit(None).cast("string").alias("reply"),
        F.lit(b"").alias("payload"),
        F.lit("flows").alias("current_fun_namespace"),
        F.lit("step_fun").alias("current_fun_name"),
        F.col("steps_left").cast("string").alias("current_fun_key"),
        F.lit("step").alias("current_node_type"),
    )


def run_flow(event: dict, advance: Callable[[dict], dict]) -> dict:
    """Hop one event until it leaves the flow or has taken
    ``MAX_FLOW_STEPS`` hops; an event not mid-flow is returned as is."""
    for _ in range(MAX_FLOW_STEPS):
        if not mid_flow(event):
            break
        event = advance(event)
    return event


def hop_frames(frames: DataFrame, advance: Callable[[dict], dict]) -> DataFrame:
    """Kafka records -> the FRAME rows they produce, in one
    ``kafka.frame_stage`` with no action.

    Per record, the reference's chained task: ``decode_event``
    (KafkaDeserializeProto.java:11-13), ``routing.ingress``,
    :func:`run_flow`, ``routing.egress_topic``, then the producer framing
    of ``kafka.frame_batch`` (KafkaSerializeProto.java:24-30).
    A NULL value (a Kafka tombstone) and an event either router rejects
    produce no frame."""

    def routed(values: pd.Series) -> Iterator[tuple[dict, str]]:
        for value in values:
            if value is None:
                continue
            event = ingress(decode_event(bytes(value)))
            if event is None:
                continue
            event = run_flow(event, advance)
            topic = egress_topic(event)
            if topic is not None:
                yield event, topic

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield frame_batch(routed(pdf["value"]))

    return frame_stage(frames.select("value"), run)


@query(
    "q_flow_iterate",
    """
    SELECT event_id,
           CAST(event_id % 3 + 1 AS BIGINT) AS n_hops,
           'SuccessfulInvocation' AS reply
    FROM events
    """,
)
def q_flow_iterate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded flow iteration (ref R4/R11/R13): each event becomes a
    synthetic (event_id % 3 + 1)-step flow; the loop must route every
    flow to RETURN and emit exactly one CLIENT reply per event_id.
    ``n_hops`` counts the hops :func:`hop_frames` ran, in the opaque
    ``payload``; the oracle is its closed form."""
    e = load(spark, sf_dir, "events")
    flows = e.select("event_id", (F.col("event_id") % 3 + 1).alias("steps_left"))
    requests = encode_frames(make_flow_requests(spark, flows), TOPIC_CLIENT_REQUEST)

    def counted_hop(event: dict) -> dict:
        n_hops = int(event["payload"] or b"0") + 1
        return {**hop(event), "payload": str(n_hops).encode("utf-8")}

    hopped = decode_frames(hop_frames(requests, counted_hop))
    unfinished = F.raise_error(
        F.lit(f"flow did not terminate within {MAX_FLOW_STEPS} steps")
    )
    return hopped.select(
        F.col("event_id").cast(e.schema["event_id"].dataType).alias("event_id"),
        F.decode("payload", "utf-8").cast("long").alias("n_hops"),
        F.when(F.col("topic") == TOPIC_INTERNAL, unfinished)
        .otherwise(F.col("reply"))
        .alias("reply"),
    )
