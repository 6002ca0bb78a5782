"""Wire-format queries: proto round-trip + Kafka producer/consumer framing.

These drive the R1/R2/R12/R13 surface (sources/proto.py, sources/kafka.py)
through the hash-checked correctness gate.  Both queries are IDENTITY
transports: events are lifted into the reference's Event envelope
(event.proto:49-58), pushed through the proto3 wire codec — and for
q_kafka_frame also through the exact Kafka producer framing of
KafkaSerializeProto.java:24-30 (key = UTF-8 event_id, value = Event
bytes) and the value-only consumer projection of
StateFlowFlinkJob.java:53 — then projected back to scalars.  The DuckDB
oracle is the same projection STRAIGHT off the events table: any codec
or framing defect breaks the value hash.

Scale: both queries run the codec through the frame stages
``encode_frames`` / ``decode_frames``, one ``mapInPandas`` stage each
(one Python call per Arrow batch, not per row) — no shuffle, rides the
scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load, spread
from ..plans.registry import query
from .kafka import TOPIC_CLIENT_REPLY, decode_frames, encode_frames

# events -> EVENT_ENVELOPE lift, shared by both queries (and their
# oracles, which repeat the same CASE/CAST expressions in SQL).  signup
# events take the stateless create path (fun_key = "" selects creation,
# IngressRouter.java:55-69); everything else invokes the keyed user
# operator.
_LIFT_SQL = """
    SELECT CAST(event_id AS VARCHAR)  AS event_id,
           'globals'                  AS fun_namespace,
           event_type                 AS fun_name,
           (event_type <> 'signup')   AS fun_stateful,
           CASE WHEN event_type = 'signup' THEN ''
                ELSE CAST(user_id AS VARCHAR) END AS fun_key,
           CASE WHEN event_type = 'signup' THEN 'InvokeStateless'
                ELSE 'InvokeStateful' END AS request,
           props
    FROM events
"""


def _lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread: the codec stage is the expensive one; see io.spread
    e = spread(load(spark, sf_dir, "events"), spark)
    is_signup = F.col("event_type") == "signup"
    return e.select(
        F.col("event_id").cast("string").alias("event_id"),
        F.lit("globals").alias("fun_namespace"),
        F.col("event_type").alias("fun_name"),
        (~is_signup).alias("fun_stateful"),
        F.when(is_signup, "").otherwise(F.col("user_id").cast("string")).alias("fun_key"),
        F.when(is_signup, "InvokeStateless").otherwise("InvokeStateful").alias("request"),
        F.lit(None).cast("string").alias("reply"),
        F.encode("props", "utf-8").alias("payload"),
        F.lit("").alias("current_fun_namespace"),
        F.lit("").alias("current_fun_name"),
        F.lit("").alias("current_fun_key"),
        F.lit("").alias("current_node_type"),
    )


_ROUNDTRIP_COLS = [
    "event_id",
    "fun_namespace",
    "fun_name",
    "fun_stateful",
    "fun_key",
    "request",
]


@query(
    "q_proto_roundtrip",
    f"SELECT event_id, fun_namespace, fun_name, fun_stateful, fun_key, request,"
    f" props FROM ({_LIFT_SQL})",
)
def q_proto_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events -> Event proto bytes -> decoded envelope -> scalars.

    Exercises encode_event/decode_event (the proto3 wire codec, ref R2 —
    Event.parseFrom / event.toByteString, KafkaDeserializeProto.java:11-13)
    through the frame stages over every fixture event, including the
    oneof discriminator (request set, reply absent) and bytes payload."""
    back = decode_frames(encode_frames(_lift(spark, sf_dir), TOPIC_CLIENT_REPLY))
    return back.select(
        *_ROUNDTRIP_COLS, F.decode("payload", "utf-8").alias("props")
    )


@query(
    "q_kafka_frame",
    f"""
    SELECT event_id, fun_name, fun_key, key_event_id,
           '{TOPIC_CLIENT_REPLY}' AS topic, 0 AS "partition"
    FROM (SELECT event_id, fun_name, fun_key, event_id AS key_event_id
          FROM ({_LIFT_SQL}))
    """,
)
def q_kafka_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events -> producer frames (key/value/topic) -> consumer decode.

    encode_frames is the exact producer framing of
    KafkaSerializeProto.java:24-30; decode_frames is the value-only
    consumer deserialization of StateFlowFlinkJob.java:53.  The key
    round-trip (key bytes == UTF-8 event_id) is asserted by emitting it
    as its own column against the oracle."""
    frames = encode_frames(_lift(spark, sf_dir), TOPIC_CLIENT_REPLY)
    # synthesized broker metadata: partition/offset are transport-
    # assigned on a real cluster.  offset is set from the DECODED KEY
    # BYTES, so re-emitting it as key_event_id next to the
    # proto-decoded event_id makes the hash compare assert the key
    # framing — one codec pass, zero shuffles.
    records = frames.withColumn("partition", F.lit(0)).withColumn(
        "offset", F.decode("key", "utf-8").cast("long")
    )
    return decode_frames(records).select(
        "event_id",
        "fun_name",
        "fun_key",
        F.col("offset").cast("string").alias("key_event_id"),
        "topic",
        "partition",
    )
