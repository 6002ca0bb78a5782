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
is a framed Event proto, through the transport seam
(``streaming/transport.py``), so the identical code path runs on
directory-topics in-sandbox and ``format("kafka")`` in production.
Both queries read their topic's raw Kafka records and run one batch
function, as the reference's one chained task runs every event through
``Event.parseFrom``, ``IngressRouter``, the invoke, ``EgressRouter`` and
``toByteString``: ``flow.hop_frames`` does all five per record in one
``mapInPandas`` stage over the whole micro-batch, and the transport's
producer, the reference's Kafka producer at the end of that task
(``:127-139``), writes the frames from the same pass. So a data batch crosses into Python once
and runs one Spark job. The invoke is the reference's per-event
contract: ``advance`` is called once per event per hop, so the job count
does not grow with the flows' hop count, and only flows past
``flow.MAX_FLOW_STEPS`` hops cross the feedback edge.

Termination is the driver's concern (the reference's job runs forever;
bounded fixtures need a drain): the loop stops once ``client_reply``
holds one reply per seeded flow, or after an idle timeout.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import time
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from ..sources.kafka import (
    TOPIC_CLIENT_REPLY,
    TOPIC_CLIENT_REQUEST,
    TOPIC_INTERNAL,
    decode_frames,
    encode_frames,
)
from .flow import hop, hop_frames, make_flow_requests

TRIGGER = "250 milliseconds"  # each query's processing-time trigger


def run_event_loop(
    spark: SparkSession,
    transport,
    seed: DataFrame,
    advance: Callable[[dict], dict] = hop,
    expected_replies: int | None = None,
    timeout_s: float = 120.0,
) -> DataFrame:
    """Run the production-shaped two-query cycle over a transport.

    ``seed`` is an EVENT_ENVELOPE DataFrame of client requests (e.g.
    :func:`make_flow_requests` output, optionally mixed with Pings).
    ``advance(event) -> event`` is one hop of one mid-flow event.
    Returns the decoded client replies.

    Data path (identical on DirectoryTransport and KafkaTransport):

      client --encode_frames--> client_request
      query A (client_request) and query B (internal), one batch function:
        hop_frames, one Python pass per record:
          decode_event -> routing.ingress
            ERROR    -> dropped, as is a NULL value        (R2+R3)
            EGRESS   -> stamp the reply, pass through      (R3 ingress)
            INTERNAL -> advance the event while it is
                        mid-flow, up to MAX_FLOW_STEPS hops (R4+R11)
          -> routing.egress_topic -> encode_event
        -> one append, produced in the same pass: each frame to
           client_reply, or to internal (the feedback edge) if its
           flow is still mid-flow after the bound          (R12+R13)

    A data batch runs one Spark job whatever its flows' hop count, also
    when a flow passes the bound (the Drizzle amortization of per-batch
    coordination), and the seed append is one job too. Each reply's
    ``timestamp`` is its producer's clock after the hops ran. A flow of
    at most MAX_FLOW_STEPS hops is answered in the micro-batch that
    ingests it and never touches ``internal``; a longer one crosses it
    once per further run of MAX_FLOW_STEPS hops. No hop here waits on
    keyed state, so none has to cross the topic.
    """
    def loop_batch(batch_df: DataFrame, batch_id: int) -> None:
        # One append routes each frame by its topic: the replies, and
        # THE FEEDBACK EDGE, flows still mid-flow after the bound going
        # back into query B's source topic (StateFlowFlinkJob.java:127-132).
        transport.append(hop_frames(batch_df, advance), None)

    # Set-up runs inside the try, so a failure in it still stops the
    # queries already started and removes the checkpoints.
    base = tempfile.mkdtemp(prefix="sfs_wireloop_ck_")
    queries = []
    deadline = time.time() + timeout_s
    try:
        n_expected = expected_replies if expected_replies is not None else seed.count()

        # Seed: the client produces proto-framed requests to client_request.
        transport.append(encode_frames(seed, TOPIC_CLIENT_REQUEST), TOPIC_CLIENT_REQUEST)

        # One query per source topic, both running loop_batch: query A
        # ingests client_request, query B the feedback edge.
        for name, topic in (("ck_a", TOPIC_CLIENT_REQUEST), ("ck_b", TOPIC_INTERNAL)):
            queries.append(
                transport.read_stream(spark, topic)
                .writeStream.foreachBatch(loop_batch)
                .option("checkpointLocation", os.path.join(base, name))
                .trigger(processingTime=TRIGGER)
                .start()
            )

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
            # Stop between batches only, within what is left of
            # timeout_s: a stop that interrupts foreachBatch kills the
            # stream thread (StackOverflowError in Spark 4.1's
            # StreamExecution.isInterruptionException).
            while q.isActive and q.status["isTriggerActive"] and time.time() < deadline:
                time.sleep(0.05)
            q.stop()
        # fresh per call, so nothing can resume from it
        shutil.rmtree(base, ignore_errors=True)
    return decode_frames(transport.read_batch(spark, TOPIC_CLIENT_REPLY))
