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
    local directory of parquet part-files holding the SAME record
    schema.  Its producer runs inside the Python pass that makes the
    frames (``kafka.frame_stage``), as the reference's producer ends the
    task that made the record: each task writes its frames with pyarrow
    and renames them into their topic, so an append is one Spark job
    with no Spark file write.  ``partition`` is stamped by key-hash
    (Kafka's contract: one key → one partition, so one event's
    re-emitted hops stay ordered); ``offset`` is a unique stamp per
    append; ``timestamp`` is the producer's clock when it writes
    (Kafka's CreateTime).

``append(frames, topic)`` produces every frame to ``topic``; with
``topic=None`` each frame goes to the topic its ``topic`` column names,
so one append serves a batch's replies and feedback frames alike.

Everything above the seam — proto framing (the ``encode_frames`` /
``decode_frames`` stages), the one ``flow.hop_frames`` stage that
decodes, routes, hops and re-encodes each record, and the two-query
cycle in :func:`streaming.feedback.run_event_loop` — is byte-for-byte
the same code on both wires, so the broker-free live tests execute the
exact production path minus only the socket.
"""

from __future__ import annotations

import os
import threading
import time
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark import TaskContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema

from ..sources.kafka import (
    DEFAULT_BOOTSTRAP,
    KAFKA_RECORD,
    PandasPass,
    kafka_reader,
    recorded_stage,
)

N_PARTITIONS = 4  # a DirectoryTransport topic's partition count

_ARROW_RECORD = to_arrow_schema(KAFKA_RECORD)  # as the producer writes it


def _framed(topic: str | None) -> list[str]:
    """The frame columns an append to ``topic`` reads: a topic-less
    append routes each row by its ``topic`` column."""
    return ["key", "value"] + (["topic"] if topic is None else [])


def _as_is(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    return batches


def _producer(base: str, epoch: int, topic: str | None, run: PandasPass) -> PandasPass:
    """The ``mapInPandas`` function of one append: ``run`` makes the
    task's frames, then each topic's share is written as one parquet
    file under a hidden name and renamed to ``part-<epoch>-<task
    partition>.parquet`` in the topic dir, so a reader never lists a
    partial file.  Yields the task's row count."""

    def produce(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        made = [pdf for pdf in run(batches) if len(pdf)]
        n = sum(len(pdf) for pdf in made)
        if n:
            now_us = time.time_ns() // 1000  # after the pass made the frames
            ctx = TaskContext.get()
            task = ctx.partitionId()
            frames = pd.concat(made, ignore_index=True)
            frames["offset"] = np.arange(n, dtype=np.int64) + (epoch << 40) + (task << 33)
            shares = (
                frames.groupby("topic", sort=False) if topic is None else [(topic, frames)]
            )
            for t, share in shares:
                d = os.path.join(base, t)
                os.makedirs(d, exist_ok=True)
                tmp = os.path.join(d, f".part-{epoch}-{task}-{ctx.attemptNumber()}.tmp")
                try:
                    pq.write_table(_record_table(share, t, now_us), tmp)
                    os.rename(tmp, os.path.join(d, f"part-{epoch}-{task}.parquet"))
                finally:  # left behind only if the write or rename failed
                    if os.path.exists(tmp):
                        os.remove(tmp)
        yield pd.DataFrame({"rows": [n]})

    return produce


def _record_table(frames: pd.DataFrame, topic: str, now_us: int) -> pa.Table:
    """One topic's frames as KAFKA_RECORD columns."""
    keys = frames["key"].tolist()
    n = len(keys)
    return pa.table(
        {
            "key": keys,
            "value": frames["value"].tolist(),
            "topic": [topic] * n,
            "partition": [0 if k is None else zlib.crc32(k) % N_PARTITIONS for k in keys],
            "offset": frames["offset"].to_numpy(),
            "timestamp": [now_us] * n,
            "timestampType": [0] * n,
        },
        schema=_ARROW_RECORD,
    )


class DirectoryTransport:
    """Broker-free topic transport: local parquet directories of
    Kafka-shaped records.  The stand-in preserves the three transport
    properties the event loop relies on: append-only logs, key-hash
    partitioning, and replayability (a reader can re-scan from the
    beginning).  Producers write with ``os.makedirs``/``os.rename``, so
    ``base`` must be a local path the executors share with the driver."""

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

    def append(self, frames: DataFrame, topic: str | None = None) -> None:
        """Produce pre-framed ``(key, value[, topic])`` rows, in one
        Spark job that collects each task's row count.

        Frames made by a ``kafka.frame_stage`` are produced inside that
        stage's own pass; any other frames through one ``mapInPandas``
        over them.  Each task writes its own files, so concurrent
        producers on one topic never touch each other's output, and
        nothing like the streaming file sink's ``_spark_metadata`` log
        hides one producer's appends from another's readers.
        ``partition = crc32(key) % N_PARTITIONS`` mirrors Kafka's key
        partitioner (different hash, same one-key-one-partition
        contract); ``offset`` is ``(epoch << 40) + (task partition <<
        33) + row``, so ``offset >> 40`` is the producer epoch — unique
        and append-ordered per topic rather than per-partition-
        contiguous, which is all the loop reads from it.
        """
        with self._epoch_lock:
            self._epoch += 1
            epoch = self._epoch
        src, run = recorded_stage(frames) or (frames.select(*_framed(topic)), _as_is)
        src.mapInPandas(_producer(self.base, epoch, topic, run), "rows long").collect()

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

    def append(self, frames: DataFrame, topic: str | None = None) -> None:
        """Batch producer inside ``foreachBatch`` — the standard Spark
        pattern for multi-sink streaming writes (R12 client producer /
        R13 internal feedback producer), one ``format("kafka")`` write.
        With no ``topic`` it sets no ``topic`` option, so the sink routes
        each row by its ``topic`` column."""
        writer = (
            frames.select(*_framed(topic))
            .write.format("kafka")
            .option("kafka.bootstrap.servers", self.bootstrap)
        )
        if topic is not None:
            writer = writer.option("topic", topic)
        writer.save()

    def read_batch(self, spark: SparkSession, topic: str) -> DataFrame:
        return (
            spark.read.format("kafka")
            .option("kafka.bootstrap.servers", self.bootstrap)
            .option("subscribe", topic)
            .option("startingOffsets", "earliest")
            .load()
        )
