"""Kafka source/sinks for the StateFlow event loop (ref R1, R12, R13).

The reference's entire I/O surface is three Kafka topics:

  * source: subscribe ``internal`` + ``client_request``, value-only
    proto deserialization (``StateFlowFlinkJob.java:47-54``,
    ``KafkaDeserializeProto.java:11-13``);
  * client sink: replies to ``client_reply``
    (``StateFlowFlinkJob.java:134-139``);
  * internal feedback sink: mid-flow events back to ``internal`` —
    which the source itself consumes, closing the dataflow cycle
    (``StateFlowFlinkJob.java:127-132``, ``EgressRouter.java:49-63``).

Record framing (``KafkaSerializeProto.java:24-30``): key = the
event_id's UTF-8 bytes, value = the Event proto bytes.  Keying by
event_id keeps one event's (possibly re-emitted) hops in one partition
— ordered per event, parallel across events; the engine reproduces the
same framing so a reference client can talk to either engine.

Everything that needs a live broker is isolated behind ``.load()`` on
a reader returned unloaded, and behind ``streaming.transport``'s
``KafkaTransport`` (the ``spark-sql-kafka`` package resolves them on a
real cluster; it is absent in this sandbox).
The framing projections — encode/decode and key derivation — are
plain DataFrame transforms over the public Kafka record schema and
are unit-tested broker-free on static frames.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamReader
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from .proto import envelope_struct, from_proto, to_proto

TOPIC_INTERNAL = "internal"
TOPIC_CLIENT_REQUEST = "client_request"
TOPIC_CLIENT_REPLY = "client_reply"
DEFAULT_BOOTSTRAP = "localhost:9092"  # StateFlowFlinkJob.java:49
GROUP_ID = "spark-group-id"  # analog of flink-group-id (:51)

# The public schema `format("kafka")` sources produce — static twins of
# it drive the broker-free framing tests.
KAFKA_RECORD = StructType(
    [
        StructField("key", BinaryType()),
        StructField("value", BinaryType()),
        StructField("topic", StringType()),
        StructField("partition", IntegerType()),
        StructField("offset", LongType()),
        StructField("timestamp", TimestampType()),
        StructField("timestampType", IntegerType()),
    ]
)


# ---------------------------------------------------------------------------
# reader builder (needs a broker + the spark-sql-kafka package to .load())
# ---------------------------------------------------------------------------


def kafka_reader(
    spark: SparkSession,
    bootstrap: str = DEFAULT_BOOTSTRAP,
    topics: tuple[str, ...] = (TOPIC_INTERNAL, TOPIC_CLIENT_REQUEST),
    starting_offsets: str = "latest",
) -> DataStreamReader:
    """Configured (unloaded) reader for the StateFlow source — R1.

    ``latest`` mirrors ``OffsetsInitializer.latest()``
    (StateFlowFlinkJob.java:52); checkpointed restarts resume from the
    committed offsets regardless, so the setting only governs the very
    first start."""
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("subscribe", ",".join(topics))
        .option("startingOffsets", starting_offsets)
        .option("kafka.group.id", GROUP_ID)
    )


# ---------------------------------------------------------------------------
# framing projections (broker-free, unit-tested)
# ---------------------------------------------------------------------------


def decode_frames(raw: DataFrame) -> DataFrame:
    """Kafka records -> flat EVENT_ENVELOPE columns + source metadata.

    Value-only deserialization like the reference
    (``setValueOnlyDeserializer``, StateFlowFlinkJob.java:53): the key
    is transport framing, not payload — event identity rides inside the
    proto.  Decode is the Arrow-batched proto3 codec of
    :mod:`.proto`."""
    return raw.select(
        from_proto(F.col("value")).alias("e"), "topic", "partition", "offset"
    ).select("e.*", "topic", "partition", "offset")


def encode_frames(events: DataFrame, topic: str) -> DataFrame:
    """Flat EVENT_ENVELOPE columns -> Kafka (key, value, topic) rows.

    key = UTF-8 bytes of event_id, value = Event proto bytes — the exact
    producer framing of ``KafkaSerializeProto.java:24-30``."""
    return events.select(
        F.encode(F.col("event_id"), "utf-8").alias("key"),
        to_proto(envelope_struct()).alias("value"),
        F.lit(topic).alias("topic"),
    )

