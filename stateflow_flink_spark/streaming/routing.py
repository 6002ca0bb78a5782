"""Content-based routing — IngressRouter / EgressRouter, per event and
as projections.

The reference routes row-at-a-time in ``ProcessFunction``s with side
outputs (``IngressRouter.java:17-71``, ``EgressRouter.java:15-63``).
Each decision table is spelled twice here, and ``tests/test_routing.py``
pins the two spellings equal:

  * per event — :func:`ingress`, :func:`egress_topic` and
    :func:`mid_flow` on one flat EVENT_ENVELOPE dict. This is what the
    event loop runs: ``flow.hop_frames`` routes each decoded frame in
    the same Python pass that hops and re-encodes it;
  * as Column projections — :func:`route_ingress` / :func:`route_egress`,
    a when-chain computing direction/route_name/route_key columns. A
    Flink side output (an ``OutputTag``, ``StateFlowFlinkJob.java:57-66``)
    is a ``filter`` on ``route_name`` over the routed stream. These are
    the reference the per-event forms are tested against.

Decision tables implemented 1:1:

ingress (IngressRouter.java:36-71):
  * non-Request events         -> ERROR       (rejected, :37-40)
  * Ping                       -> EGRESS  reply=Pong (:42-52)
  * EventFlow, cursor==RETURN  -> EGRESS  reply=SuccessfulInvocation (:79-90)
  * EventFlow, mid-flow        -> INTERNAL to current_fun, keyed (:91-99)
  * fun_key != ""              -> INTERNAL "ns/Fun", keyed (:55-61)
  * fun_key == ""              -> INTERNAL "ns/Fun-create" (:62-69)

egress (EgressRouter.java:32-47):
  * Reply events               -> CLIENT  (:36-42)
  * EventFlow requests         -> INTERNAL (feedback to Kafka, :33-35)
  * anything else              -> ERROR    (:43-46)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load
from ..plans.registry import query
from ..schemas import CLIENT, EGRESS, INTERNAL
from ..sources.kafka import TOPIC_CLIENT_REPLY, TOPIC_INTERNAL

ERROR = "ERROR"
RETURN_NODE = "RETURN"


def route_ingress(events: DataFrame) -> DataFrame:
    """Add (direction, route_name, route_key, out_reply) columns per the
    ingress decision table.  Works on the EVENT_ENVELOPE schema."""
    is_request = F.col("request").isNotNull()
    is_ping = F.col("request") == "Ping"
    is_flow = F.col("request") == "EventFlow"
    flow_done = F.col("current_node_type") == RETURN_NODE
    has_key = F.col("fun_key") != ""
    op = F.concat_ws("/", "fun_namespace", "fun_name")
    flow_op = F.concat_ws("/", "current_fun_namespace", "current_fun_name")

    direction = (
        F.when(~is_request, ERROR)
        .when(is_ping, EGRESS)
        .when(is_flow & flow_done, EGRESS)
        .when(is_flow, INTERNAL)
        .otherwise(INTERNAL)
    )
    route_name = (
        F.when(~is_request, F.lit(None).cast("string"))
        .when(is_ping, "client_reply")
        .when(is_flow & flow_done, "client_reply")
        .when(is_flow, flow_op)
        .when(has_key, op)
        .otherwise(F.concat(op, F.lit("-create")))
    )
    route_key = (
        F.when(is_flow & ~flow_done, F.col("current_fun_key"))
        .when(is_request & ~is_ping & has_key, F.col("fun_key"))
        .otherwise(F.lit(None).cast("string"))
    )
    out_reply = (
        F.when(is_ping, "Pong")
        .when(is_flow & flow_done, "SuccessfulInvocation")
        .otherwise(F.lit(None).cast("string"))
    )
    return events.withColumns(
        {
            "direction": direction,
            "route_name": route_name,
            "route_key": route_key,
            "out_reply": out_reply,
        }
    )


def route_egress(events: DataFrame) -> DataFrame:
    """Add (direction, route_name) per the egress decision table."""
    is_reply = F.col("reply").isNotNull()
    is_flow = F.col("request") == "EventFlow"
    direction = F.when(is_reply, CLIENT).when(is_flow, INTERNAL).otherwise(ERROR)
    route_name = (
        F.when(is_reply, TOPIC_CLIENT_REPLY)
        .when(is_flow, TOPIC_INTERNAL)
        .otherwise(None)
    )
    return events.withColumns({"direction": direction, "route_name": route_name})


def ingress(event: dict) -> dict | None:
    """:func:`route_ingress` on one event: None for ERROR (not a
    request); a Ping or a flow at RETURN answers the client, its reply
    stamped and its request cleared (EGRESS); every other event passes
    through unchanged (INTERNAL)."""
    request = event["request"]
    if request is None:
        return None
    if request == "Ping":
        return {**event, "reply": "Pong", "request": None}
    if request == "EventFlow" and event["current_node_type"] == RETURN_NODE:
        return {**event, "reply": "SuccessfulInvocation", "request": None}
    return event


def mid_flow(event: dict) -> bool:
    """:func:`route_egress`'s INTERNAL rule on one event: no reply yet
    and still an EventFlow request, so the flow needs another hop."""
    return event["reply"] is None and event["request"] == "EventFlow"


def egress_topic(event: dict) -> str | None:
    """:func:`route_egress` on one event: the topic it goes to, or None
    for ERROR (neither a reply nor a flow request)."""
    if event["reply"] is not None:
        return TOPIC_CLIENT_REPLY
    if mid_flow(event):
        return TOPIC_INTERNAL
    return None


@query(
    "q_route_ingress",
    """
    SELECT event_id,
           CASE WHEN event_type = 'error'  THEN 'DLQ'
                ELSE 'INTERNAL' END AS direction,
           CASE WHEN event_type = 'error'  THEN 'dlq'
                WHEN event_type = 'signup' THEN 'user-create'
                ELSE 'user' END AS route_name,
           CASE WHEN event_type IN ('error', 'signup') THEN NULL
                ELSE CAST(user_id AS VARCHAR) END AS route_key
    FROM events
    """,
)
def q_route_ingress(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingress decision table over the events fixture (ref R3/R4 analog):
    errors to a DLQ, signups to the create path (no key yet —
    IngressRouter.java:62-69), everything else keyed to the user
    operator (IngressRouter.java:55-61)."""
    e = load(spark, sf_dir, "events")
    is_err = F.col("event_type") == "error"
    is_signup = F.col("event_type") == "signup"
    return e.select(
        "event_id",
        F.when(is_err, "DLQ").otherwise(INTERNAL).alias("direction"),
        F.when(is_err, "dlq")
        .when(is_signup, "user-create")
        .otherwise("user")
        .alias("route_name"),
        F.when(is_err | is_signup, F.lit(None).cast("string"))
        .otherwise(F.col("user_id").cast("string"))
        .alias("route_key"),
    )
