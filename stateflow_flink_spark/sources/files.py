"""File-format source/sink coverage beyond parquet: CSV and JSON-lines.

The reference's only I/O is Kafka + protobuf (`KafkaDeserializeProto.java:11-23`,
`KafkaSerializeProto.java:24-30`); the streaming analogs live in
``streaming/``.  These queries cover the batch file formats a lakehouse
ingests from: write a slice of the fixture out in the format, read it
back with an EXPLICIT schema (schema inference is a full extra pass at
100 TB — never rely on it), and aggregate — the oracle aggregates the
original parquet, so the round-trip must be value-exact end to end.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load, scratch_dir
from ..plans.registry import query

_AGG_ORACLE = """
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           SUM(o_totalprice) AS sum_price,
           CAST(MIN(o_custkey) AS BIGINT) AS min_cust
    FROM orders
    WHERE o_orderkey % 10 = 0
    GROUP BY o_orderstatus
"""

_SLICE_SCHEMA = (
    "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE"
)


def _roundtrip(spark: SparkSession, sf_dir: str, fmt: str) -> DataFrame:
    src = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 10 == 0)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    )
    out = os.path.join(scratch_dir("sfs_src_"), fmt)
    writer = src.write.mode("overwrite")
    if fmt == "csv":
        writer = writer.option("header", "true")
    writer.format(fmt).save(out)
    reader = spark.read.schema(_SLICE_SCHEMA)
    if fmt == "csv":
        reader = reader.option("header", "true")
    back = reader.format(fmt).load(out)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("o_totalprice").alias("sum_price"),
        F.min("o_custkey").alias("min_cust"),
    )


@query("q_source_csv", _AGG_ORACLE)
def q_source_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink → explicit-schema CSV source → aggregate; value-exact
    round-trip (Java double formatting round-trips by construction)."""
    return _roundtrip(spark, sf_dir, "csv")


@query("q_source_json", _AGG_ORACLE)
def q_source_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink → explicit-schema JSON source → aggregate."""
    return _roundtrip(spark, sf_dir, "json")


@query("q_source_orc", _AGG_ORACLE)
def q_source_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink → ORC source → aggregate (columnar alternative at rest)."""
    return _roundtrip(spark, sf_dir, "orc")
