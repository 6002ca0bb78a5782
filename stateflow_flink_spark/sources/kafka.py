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
The framing stages — :func:`encode_frames` and :func:`decode_frames` —
are each one ``mapInPandas`` stage calling the proto3 codec of
:mod:`.proto` per record, the shape ``flow.hop_frames`` has, over the
public Kafka record schema; they are unit-tested broker-free on static
frames.  The stages that make :data:`FRAME` rows (:func:`encode_frames`
and ``flow.hop_frames``) are built by :func:`frame_stage`, which
remembers the pass on the frames it returns, so the sandbox transport's
producer runs inside that same pass, as the reference's producer ends
the task that made the record.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
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

from ..schemas import EVENT_ENVELOPE
from .proto import decode_event, encode_event

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

# Kafka (key, value, topic) frames, as a transport appends them.
FRAME = StructType(
    [
        StructField("key", BinaryType()),
        StructField("value", BinaryType()),
        StructField("topic", StringType()),
    ]
)

# One ``mapInPandas`` function: pandas batches in, pandas batches out.
PandasPass = Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]

_ENVELOPE_COLS = [f.name for f in EVENT_ENVELOPE.fields]
_SOURCE_COLS = ("topic", "partition", "offset")


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


def frame_batch(events: Iterable[tuple[dict, str]]) -> pd.DataFrame:
    """``(event, topic)`` pairs -> one batch of :data:`FRAME` rows: key =
    the event_id's UTF-8 bytes (NULL for a NULL event_id), value =
    ``encode_event`` — the producer framing of
    ``KafkaSerializeProto.java:24-30``."""
    rows = [
        (
            None if event["event_id"] is None else event["event_id"].encode("utf-8"),
            encode_event(event),
            topic,
        )
        for event, topic in events
    ]
    return pd.DataFrame(rows, columns=FRAME.fieldNames())


def frame_stage(src: DataFrame, run: PandasPass) -> DataFrame:
    """``src.mapInPandas(run, FRAME)``, with ``(src, run)`` recorded on
    the result: a producer that finds them runs ``run`` inside its own
    pass over ``src`` (``streaming.transport.DirectoryTransport.append``)
    instead of a second pass over the frames.  To every other caller the
    result is the plain frame stage."""
    frames = src.mapInPandas(run, FRAME)
    frames._frame_stage = (src, run)
    return frames


def recorded_stage(frames: DataFrame) -> tuple[DataFrame, PandasPass] | None:
    """The ``(src, run)`` pass :func:`frame_stage` recorded on ``frames``,
    or None for frames built any other way."""
    return vars(frames).get("_frame_stage")


def decode_frames(raw: DataFrame) -> DataFrame:
    """Kafka records -> flat EVENT_ENVELOPE columns + the source metadata
    ``raw`` carries (``topic``, ``partition``, ``offset``), in one
    ``mapInPandas`` stage.

    Value-only deserialization like the reference
    (``setValueOnlyDeserializer``, StateFlowFlinkJob.java:53): the key
    is transport framing, not payload — event identity rides inside the
    proto.  Each value is ``decode_event``-ed (``Event.parseFrom``,
    KafkaDeserializeProto.java:11-13); a NULL value (a Kafka tombstone)
    decodes to an all-NULL envelope row."""
    meta = [c for c in _SOURCE_COLS if c in raw.columns]
    schema = StructType(
        EVENT_ENVELOPE.fields + [StructField(c, raw.schema[c].dataType) for c in meta]
    )
    blank = dict.fromkeys(_ENVELOPE_COLS)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pd.DataFrame(
                [blank if v is None else decode_event(bytes(v)) for v in pdf["value"]],
                columns=_ENVELOPE_COLS,
            )
            for c in meta:
                out[c] = pdf[c].to_numpy()
            yield out

    return raw.select("value", *meta).mapInPandas(run, schema)


def encode_frames(events: DataFrame, topic: str) -> DataFrame:
    """Flat EVENT_ENVELOPE columns (selected by name) -> Kafka
    :data:`FRAME` rows for ``topic``, in one :func:`frame_stage`, framed
    by :func:`frame_batch`."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield frame_batch((event, topic) for event in pdf.to_dict("records"))

    return frame_stage(events.select(*_ENVELOPE_COLS), run)
