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
mappings of it run this loop inside one ``mapInPandas`` stage:

  * production: :func:`hop_frames` is the reference's chained task on
    each micro-batch of the two streaming queries sharing ``internal``
    (streaming/feedback.py): per Kafka record it decodes the Event,
    applies the ingress rule, hops, applies the egress rule and encodes
    the frame for its topic, so a batch crosses into Python once. Only
    flows still mid-flow after the bound cross the feedback edge;
  * bounded/batch: ``q_flow_iterate`` hops a fixture's flows with
    :func:`hop_flows` over decoded columns, and a flow still mid-flow
    after the bound is an error.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, StringType, StructField, StructType

from ..io import load
from ..plans.registry import query
from ..schemas import INTERNAL
from ..sources.proto import decode_event, encode_event
from .routing import RETURN_NODE, egress_topic, ingress, mid_flow, route_egress

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


# Kafka (key, value, topic) frames, as a transport appends them.
FRAME = StructType(
    [
        StructField("key", BinaryType()),
        StructField("value", BinaryType()),
        StructField("topic", StringType()),
    ]
)


def run_flow(event: dict, advance: Callable[[dict], dict]) -> dict:
    """Hop one event until it leaves the flow or has taken
    ``MAX_FLOW_STEPS`` hops; an event not mid-flow is returned as is."""
    for _ in range(MAX_FLOW_STEPS):
        if not mid_flow(event):
            break
        event = advance(event)
    return event


def hop_flows(events: DataFrame, advance: Callable[[dict], dict]) -> DataFrame:
    """:func:`run_flow` on every row of ``events``, in one stage with no
    action.

    ``events`` needs ``request`` and ``reply`` (the mid-flow test) plus
    whatever ``advance`` reads; the result has the same columns, each
    nullable, since a hop may clear ``request``."""
    cols = events.columns
    schema = StructType([StructField(f.name, f.dataType) for f in events.schema])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = [run_flow(event, advance) for event in pdf.to_dict("records")]
            yield pd.DataFrame(out, columns=cols)

    return events.mapInPandas(run, schema)


def hop_frames(frames: DataFrame, advance: Callable[[dict], dict]) -> DataFrame:
    """Kafka records -> the :data:`FRAME` rows they produce, in one
    ``mapInPandas`` stage with no action.

    Per record, the reference's chained task: ``decode_event``
    (KafkaDeserializeProto.java:11-13), ``routing.ingress``,
    :func:`run_flow`, ``routing.egress_topic``, then ``encode_event``
    keyed by the event_id's UTF-8 bytes (KafkaSerializeProto.java:24-30).
    A NULL value (a Kafka tombstone) and an event either router rejects
    produce no frame."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            keys, values, topics = [], [], []
            for value in pdf["value"]:
                if value is None:
                    continue
                event = ingress(decode_event(bytes(value)))
                if event is None:
                    continue
                event = run_flow(event, advance)
                topic = egress_topic(event)
                if topic is None:
                    continue
                keys.append(event["event_id"].encode("utf-8"))
                values.append(encode_event(event))
                topics.append(topic)
            yield pd.DataFrame({"key": keys, "value": values, "topic": topics})

    return frames.select("value").mapInPandas(run, FRAME)


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
    ``n_hops`` counts the hops :func:`hop_flows` ran; the oracle is its
    closed form."""
    e = load(spark, sf_dir, "events")
    flows = e.select(
        "event_id",
        F.lit("EventFlow").alias("request"),
        F.lit(None).cast("string").alias("reply"),
        (F.col("event_id") % 3 + 1).cast("string").alias("current_fun_key"),
        F.lit("step").alias("current_node_type"),
        F.lit(0).cast("long").alias("n_hops"),
    )

    def counted_hop(event: dict) -> dict:
        return {**hop(event), "n_hops": event["n_hops"] + 1}

    hopped = route_egress(hop_flows(flows, counted_hop))
    unfinished = F.raise_error(
        F.lit(f"flow did not terminate within {MAX_FLOW_STEPS} steps")
    )
    return hopped.select(
        "event_id",
        "n_hops",
        F.when(F.col("direction") == INTERNAL, unfinished)
        .otherwise(F.col("reply"))
        .alias("reply"),
    )
