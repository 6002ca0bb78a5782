"""Live dataflow cycle — two concurrent streaming queries sharing a topic.

The reference's event loop is a CYCLE through Kafka: the job consumes
``internal`` + ``client_request``, advances each flow one hop, and
produces mid-flow events *back to* ``internal`` — which its own source
re-consumes (``StateFlowFlinkJob.java:47-54`` source, ``:127-132``
internal producer, ``EgressRouter.java:49-63`` the feedback decision).
Structured Streaming cannot express a cycle inside one query, so
SURVEY.md §3.3(a) maps the loop to TWO independent streaming queries
sharing the feedback topic; the topic itself remains the cycle's
buffer, exactly as in the reference.

:func:`run_event_loop` is that cycle at the wire level: every topic byte
is a framed Event proto, every read crosses ``decode_frames``, every
route crosses ``streaming.routing`` — through the transport seam
(``streaming/transport.py``), so the identical code path runs on
directory-topics in-sandbox and ``format("kafka")`` in production.
Both queries run one batch function, as the reference's one job runs
every event through ``IngressRouter``, the invoke and ``EgressRouter``:
the micro-batch that ingests a flow also hops it in place, up to
``flow.MAX_FLOW_STEPS`` hops, so only flows past that bound cross the
feedback edge.

Termination is the driver's concern (the reference's job runs forever;
bounded fixtures need a drain): the loop stops once ``client_reply``
holds one reply per seeded flow, or after an idle timeout.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import time
from functools import reduce
from typing import Callable

import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..schemas import CLIENT, EGRESS, EVENT_ENVELOPE, INTERNAL
from ..sources.kafka import (
    TOPIC_CLIENT_REPLY,
    TOPIC_CLIENT_REQUEST,
    TOPIC_INTERNAL,
    decode_frames,
    encode_frames,
)
from .flow import MAX_FLOW_STEPS
from .routing import RETURN_NODE, route_egress, route_ingress


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


def advance_envelope(env: DataFrame) -> DataFrame:
    """One flow hop on the wire envelope (the stateful-apply stand-in,
    SURVEY §3.3 step 2): burn one step off the cursor; an exhausted flow
    becomes a Reply event (oneof flips request->reply, event.proto:52-56)
    so route_egress sends it CLIENT (EgressRouter.java:36-42)."""
    steps = F.col("current_fun_key").cast("long") - 1
    done = steps <= 0
    return env.withColumns(
        {
            "current_fun_key": steps.cast("string"),
            "current_node_type": F.when(done, RETURN_NODE).otherwise("step"),
            "reply": F.when(done, "SuccessfulInvocation").otherwise(F.col("reply")),
            "request": F.when(done, F.lit(None).cast("string")).otherwise(
                F.col("request")
            ),
        }
    )


def invoked_advance(latency=None) -> Callable[[DataFrame], DataFrame]:
    """:func:`advance_envelope` as a PER-EVENT external function call —
    the reference's InvokeStatefulLambda contract (one lambda call per
    event, ``InvokeStatefulLambda.java:103-115``), with the latency
    histogram wrapped around the call exactly where the reference wraps
    its Dropwizard metric (``:56-59`` build, ``:112`` update).

    ``latency`` is a ``metrics.InvokeLatency``; None runs the same
    per-event path untimed.  Pass it as ``run_event_loop(...,
    advance=invoked_advance(latency))``: every hop of every flow lands
    one histogram sample, and after the loop drains
    ``latency.snapshot()`` is the histogram the reference's metric
    reporter would scrape."""

    def hop(event: dict) -> dict:
        steps = int(event["current_fun_key"]) - 1
        done = steps <= 0
        return {
            **event,
            "current_fun_key": str(steps),
            "current_node_type": RETURN_NODE if done else "step",
            "reply": "SuccessfulInvocation" if done else event["reply"],
            "request": None if done else event["request"],
        }

    fn = latency.timed_stateless(hop) if latency is not None else hop
    cols = EVENT_ENVELOPE.fieldNames()

    def advance(env: DataFrame) -> DataFrame:
        def run(batches):
            for pdf in batches:
                yield pd.DataFrame(
                    [fn(ev) for ev in pdf.to_dict("records")], columns=cols
                )

        return env.mapInPandas(run, EVENT_ENVELOPE)

    return advance


def run_event_loop(
    spark: SparkSession,
    transport,
    seed: DataFrame,
    advance: Callable[[DataFrame], DataFrame] = advance_envelope,
    expected_replies: int | None = None,
    timeout_s: float = 120.0,
    trigger_s: str = "250 milliseconds",
) -> DataFrame:
    """Run the production-shaped two-query cycle over a transport.

    ``seed`` is an EVENT_ENVELOPE DataFrame of client requests (e.g.
    :func:`make_flow_requests` output, optionally mixed with Pings).
    Returns the decoded client replies.

    Data path (identical on DirectoryTransport and KafkaTransport):

      client --encode_frames--> client_request
      query A (client_request) and query B (internal), one batch function:
        decode_frames -> route_ingress -> localCheckpoint
          EGRESS   -> stamp out_reply                   (R3 ingress)
          INTERNAL -> repeat {advance -> route_egress -> localCheckpoint}
                      on the rows still INTERNAL, until none is left or
                      MAX_FLOW_STEPS hops               (R4+R11)
        -> client_reply, one append per batch; internal (the feedback
           edge), only flows still mid-flow after the bound   (R13)

    A flow of at most MAX_FLOW_STEPS hops is answered in the micro-batch
    that ingests it and never touches ``internal``; a longer one crosses
    it once per further run of MAX_FLOW_STEPS hops. Each batch pays its
    trigger, decode, encode and appends once, not once per hop (the
    Drizzle amortization of per-batch coordination). No hop here waits
    on keyed state, so none has to cross the topic.
    """
    base = tempfile.mkdtemp(prefix="sfs_wireloop_ck_")
    n_expected = expected_replies if expected_replies is not None else seed.count()

    # Seed: the client produces proto-framed requests to client_request.
    transport.append(encode_frames(seed, TOPIC_CLIENT_REQUEST), TOPIC_CLIENT_REQUEST)

    env_cols = EVENT_ENVELOPE.fieldNames()
    is_egress = F.col("direction") == EGRESS
    is_client = F.col("direction") == CLIENT
    is_internal = F.col("direction") == INTERNAL

    def split(df: DataFrame, *directions: str) -> tuple[DataFrame, dict]:
        """Checkpoint ``df`` eagerly, the split's only action, with an
        observation counting its rows per direction on the way."""
        sizes = Observation()
        counted = df.observe(
            sizes,
            *(F.count_if(F.col("direction") == d).alias(d) for d in directions),
        ).localCheckpoint()
        return counted, sizes.get

    def loop_batch(batch_df: DataFrame, batch_id: int) -> None:
        routed, counts = split(batch_df, EGRESS, INTERNAL)  # route ONCE
        replies: list[DataFrame] = []
        if counts.get(EGRESS):
            # Ping / already-finished flows answer the client directly
            # (IngressRouter.java:42-52, :79-90): stamp out_reply into
            # the oneof before framing.
            replies.append(
                routed.filter(is_egress)
                .withColumns(
                    {
                        "reply": F.col("out_reply"),
                        "request": F.lit(None).cast("string"),
                    }
                )
                .select(*env_cols)
            )
        if counts.get(INTERNAL):
            # Hop the batch's flows in place until none is left
            # mid-flow, up to MAX_FLOW_STEPS hops, one action per hop.
            frontier = routed.filter(is_internal).select(*env_cols)
            for _ in range(MAX_FLOW_STEPS):
                hopped, counts = split(
                    route_egress(advance(frontier)), CLIENT, INTERNAL
                )
                if counts.get(CLIENT):
                    replies.append(hopped.filter(is_client).select(*env_cols))
                frontier = hopped.filter(is_internal).select(*env_cols)
                if not counts.get(INTERNAL):
                    break
            else:
                # THE FEEDBACK EDGE: flows still mid-flow after the
                # bound go back into query B's source topic
                # (StateFlowFlinkJob.java:127-132).
                transport.append(
                    encode_frames(frontier, TOPIC_INTERNAL), TOPIC_INTERNAL
                )
        if replies:
            # every hop keeps the batch's partitions, so a union of k
            # parts has k times as many: encode in the batch's count
            done = reduce(DataFrame.unionByName, replies).coalesce(
                replies[0].rdd.getNumPartitions()
            )
            transport.append(
                encode_frames(done, TOPIC_CLIENT_REPLY), TOPIC_CLIENT_REPLY
            )

    # One query per source topic, both running loop_batch: query A
    # ingests client_request, query B the feedback edge.
    queries = [
        route_ingress(decode_frames(transport.read_stream(spark, topic)))
        .writeStream.foreachBatch(loop_batch)
        .option("checkpointLocation", os.path.join(base, name))
        .trigger(processingTime=trigger_s)
        .start()
        for name, topic in (("ck_a", TOPIC_CLIENT_REQUEST), ("ck_b", TOPIC_INTERNAL))
    ]

    try:
        deadline = time.time() + timeout_s
        done = 0
        while time.time() < deadline:
            done = transport.read_batch(spark, TOPIC_CLIENT_REPLY).count()
            if done >= n_expected:
                break
            time.sleep(0.25)
        else:
            raise TimeoutError(
                f"wire loop drained {done}/{n_expected} within {timeout_s}s"
            )
    finally:
        for q in queries:
            q.stop()
        # fresh per call, so nothing can resume from it
        shutil.rmtree(base, ignore_errors=True)
    return decode_frames(transport.read_batch(spark, TOPIC_CLIENT_REPLY))

