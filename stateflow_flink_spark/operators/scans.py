"""Scans, pruned scans, sink round-trip, and the file-stream source.

Reference parity: the reference's only source/sink are Kafka proto
topics (``StateFlowFlinkJob.java:47-54``, ``:127-147``); the batch
analogs here are parquet scan/sink, and ``q_stream_file_source``
demonstrates the Structured Streaming source path (R1) over files.

Scale notes: ``q_scan_pruned`` exists specifically to assert pushdown —
its physical plan must show ``PushedFilters: [GreaterThan(l_quantity,45.0)]``
and a two-column ``ReadSchema``; at 100 TB that is the difference
between scanning 2 columns' pages and the whole table.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load, run_bounded, scratch_dir, staged_stream
from ..plans.registry import query


@query(
    "q_scan_parquet",
    "SELECT COUNT(*) AS n_rows FROM lineitem",
)
def q_scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-scan row count (parquet metadata fast path)."""
    return load(spark, sf_dir, "lineitem").agg(F.count(F.lit(1)).alias("n_rows"))


@query(
    "q_scan_pruned",
    "SELECT l_orderkey, l_quantity FROM lineitem WHERE l_quantity > 45",
)
def q_scan_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection + predicate pushdown scan (2 columns reach the reader)."""
    return (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_quantity")
        .filter(F.col("l_quantity") > 45)
    )


@query(
    "q_sink_roundtrip",
    """
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
    FROM orders WHERE o_totalprice > 300000
    """,
)
def q_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write a filtered projection to parquet, read it back (sink parity R12/R13).

    Parquet round-trips doubles/longs bit-exactly, so the oracle is the
    pre-sink query itself.
    """
    out = os.path.join(scratch_dir("sfs_sink_"), "orders_big.parquet")
    (
        load(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        .filter(F.col("o_totalprice") > 300000)
        .write.mode("overwrite")
        .parquet(out)
    )
    return spark.read.parquet(out)


@query(
    "q_stream_file_source",
    "SELECT event_type, COUNT(*) AS n_events FROM events GROUP BY event_type",
)
def q_stream_file_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming file source (ref R1: Kafka source analog).

    Reads the events table as a bounded stream (``availableNow`` drains
    all available input then stops — no wall-clock flakiness), runs a
    streaming aggregation, and materializes via the memory sink.
    """
    # at scale the source would already be a dir of arriving part files
    with staged_stream(spark, sf_dir, "events") as stream:
        counts = stream.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_events"))
        return run_bounded(spark, counts, "sfs_stream_file_source", mode="complete")


@query(
    "q_sink_partitioned",
    "SELECT doc_id, lang, n_chars FROM documents WHERE lang = 'en'",
)
def q_sink_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned parquet sink + partition-pruned read-back.

    The write lays out `lang=<v>/` directories (`partitionBy`); the
    read-back filter on the partition column never touches non-matching
    files — the scan's `PartitionFilters` prunes at the DIRECTORY level
    before any I/O (plan-gated in tests).  At 100 TB this is the
    difference between listing one partition and scanning the corpus:
    date/tenant/language partitioning is the first knob every large
    table turns.  Parquet round-trips longs/strings bit-exactly, so the
    oracle is the pre-sink filter itself."""
    out = os.path.join(scratch_dir("sfs_sink_part_"), "docs_by_lang")
    (
        load(spark, sf_dir, "documents")
        .select("doc_id", "lang", "n_chars")
        .write.mode("overwrite")
        .partitionBy("lang")
        .parquet(out)
    )
    return (
        spark.read.parquet(out)
        .filter(F.col("lang") == "en")
        .select("doc_id", "lang", "n_chars")
    )
