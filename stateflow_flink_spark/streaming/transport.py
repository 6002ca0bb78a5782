"""Topic transport seam — ONE event-loop code path, two physical wires.

The reference's transport is Kafka and nothing else
(``StateFlowFlinkJob.java:47-54`` source, ``:127-147`` producers).  A
*transport* moves **Kafka-shaped records** — ``(key binary, value binary,
topic, partition, offset, timestamp)``, the public ``format("kafka")``
schema (``sources.kafka.KAFKA_RECORD``) — between topics:

  * :class:`KafkaTransport` — the production wire: readers come from
    :func:`sources.kafka.kafka_reader` (R1) and appends are batch
    ``format("kafka")`` writes (the standard foreachBatch producer
    pattern, R12/R13).  Needs a live broker + the spark-sql-kafka
    package to ``.load()``/``.save()``.
  * :class:`DirectoryTransport` — the sandbox wire: each topic is a
    directory of parquet part-files holding the SAME record schema.
    ``partition`` is stamped by key-hash (Kafka's contract: one key →
    one partition, so one event's re-emitted hops stay ordered);
    ``offset`` is a unique monotonic stamp per append.

Everything above the seam — proto framing (the ``encode_frames`` /
``decode_frames`` stages), the one ``flow.hop_frames`` stage that
decodes, routes, hops and re-encodes each record, and the two-query
cycle in :func:`streaming.feedback.run_event_loop` — is byte-for-byte
the same code on both wires, so the broker-free live tests execute the
exact production path minus only the socket.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.kafka import DEFAULT_BOOTSTRAP, KAFKA_RECORD, kafka_reader

N_PARTITIONS = 4  # a DirectoryTransport topic's partition count


class DirectoryTransport:
    """Broker-free topic transport: parquet directories of Kafka-shaped
    records.  The stand-in preserves the three transport properties the
    event loop relies on: append-only logs, key-hash partitioning, and
    replayability (a reader can re-scan from the beginning)."""

    def __init__(self, base: str) -> None:
        self.base = base
        self._epoch = 0  # producer-epoch counter (driver-side; appends
        # run in foreachBatch on the driver, so increments are ordered)
        # two streaming-query threads share one transport (the feedback
        # cycle): the epoch bump must be atomic or two appends stamp the
        # same epoch and collide on offsets
        self._epoch_lock = threading.Lock()

    def topic_dir(self, topic: str) -> str:
        d = os.path.join(self.base, topic)
        os.makedirs(d, exist_ok=True)
        return d

    def read_stream(self, spark: SparkSession, topic: str) -> DataFrame:
        """Unbounded scan of the topic — KAFKA_RECORD rows, exactly what
        ``format("kafka").load()`` would yield."""
        return spark.readStream.schema(KAFKA_RECORD).parquet(self.topic_dir(topic))

    def append(self, frames: DataFrame, topic: str) -> None:
        """Produce pre-framed ``(key, value[, topic])`` rows.

        Plain distributed parquet append, NOT the streaming file sink: a
        ``_spark_metadata`` log would make readers trust that log alone
        and never see other writers' appends — a topic must accept
        producers from any query (the feedback edge depends on it).
        ``partition = hash(key) % N_PARTITIONS`` mirrors Kafka's sticky key
        partitioner (different hash function, same one-key-one-partition
        contract); ``offset`` is (producer-epoch << 40) | within-write-id
        — unique and append-ordered per topic rather than per-partition-
        contiguous, which is all the loop reads from it.
        """
        with self._epoch_lock:
            self._epoch += 1
            epoch = self._epoch
        stamped = frames.select(
            "key",
            "value",
            F.lit(topic).alias("topic"),
            F.pmod(F.xxhash64("key"), F.lit(N_PARTITIONS))
            .cast("int")
            .alias("partition"),
            (
                F.lit(epoch).cast("long") * F.lit(1 << 40).cast("long")
                + F.monotonically_increasing_id()
            ).alias("offset"),
            F.current_timestamp().alias("timestamp"),
            F.lit(0).alias("timestampType"),
        )
        # Each append commits into its own staging dir, outside every
        # topic, and only then moves its part files into the topic: a
        # job commit deletes its output dir's ``_temporary``, so two
        # producers committing into one topic dir lose each other's
        # task output.
        staging = os.path.join(self.base, ".staging")
        os.makedirs(staging, exist_ok=True)
        stage = tempfile.mkdtemp(dir=staging)
        try:
            stamped.write.mode("append").parquet(stage)
            dest = self.topic_dir(topic)
            for name in os.listdir(stage):
                if name.startswith("part-"):
                    os.rename(os.path.join(stage, name), os.path.join(dest, name))
        finally:
            shutil.rmtree(stage, ignore_errors=True)

    def read_batch(self, spark: SparkSession, topic: str) -> DataFrame:
        """Bounded snapshot (drain checks / assertions); a topic with no
        part-files yet reads as zero KAFKA_RECORD rows."""
        return spark.read.schema(KAFKA_RECORD).parquet(self.topic_dir(topic))


class KafkaTransport:
    """The production wire — the R1 reader from :mod:`sources.kafka`
    and batch ``format("kafka")`` producers (R12/R13), so the loop code
    path is identical to the sandbox transport above.  Requires a live
    broker and the ``spark-sql-kafka`` package (absent here;
    construction and plan wiring are testable, ``.load()``/``.save()``
    are not)."""

    def __init__(self, bootstrap: str = DEFAULT_BOOTSTRAP) -> None:
        self.bootstrap = bootstrap

    def read_stream(self, spark: SparkSession, topic: str) -> DataFrame:
        # earliest: a fresh loop must observe its own seed records; a
        # checkpointed restart resumes from committed offsets regardless.
        return kafka_reader(
            spark, self.bootstrap, (topic,), starting_offsets="earliest"
        ).load()

    def append(self, frames: DataFrame, topic: str) -> None:
        """Batch producer inside ``foreachBatch`` — the standard Spark
        pattern for multi-sink streaming writes (R12 client producer /
        R13 internal feedback producer)."""
        (
            frames.select("key", "value")
            .write.format("kafka")
            .option("kafka.bootstrap.servers", self.bootstrap)
            .option("topic", topic)
            .save()
        )

    def read_batch(self, spark: SparkSession, topic: str) -> DataFrame:
        return (
            spark.read.format("kafka")
            .option("kafka.bootstrap.servers", self.bootstrap)
            .option("subscribe", topic)
            .option("startingOffsets", "earliest")
            .load()
        )
