"""Table loading for the fixture star schema.

One function, :func:`load`, is the only way operators touch storage;
every query receives ``(spark, sf_dir)`` and calls ``load`` per table.
Scans stay declarative so Catalyst pushes predicates / prunes columns
into the parquet reader — verify with ``df.explain("formatted")``
(``PushedFilters`` / ``ReadSchema`` rows).

Streaming queries open a table with :func:`staged_stream` and drain it
with :func:`run_bounded`, the one memory-sink ``availableNow`` runner.
A query that writes files its returned frame reads puts them in a
:func:`scratch_dir`.
"""

from __future__ import annotations

import atexit
import os
import re
import shutil
import tempfile
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .schemas import TABLE_NAMES, TABLE_SCHEMAS
from .session import session_token, stream_partitions

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SMOKE_SF_DIR = "/root/testdata/sf0.001"


def table_path(sf_dir: str, name: str) -> str:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; known: {TABLE_NAMES}")
    return os.path.join(sf_dir, f"{name}.parquet")


# (session token, sf_dir, table) -> resolved read schema.  The footer read
# for schema inference is a per-call driver-side file open; over a
# 122-query suite that is ~120 redundant opens per table.  Caching the
# *schema* (never the DataFrame — every call still gets a fresh plan
# subtree with fresh expression IDs, so self-joins keep working) makes
# repeat loads metadata-free.
_SCHEMA_CACHE: dict[tuple[str, str, str], object] = {}

# sf_dir -> physical type string of events.ts in the parquet footer
# ("timestamp[ns]" vs "timestamp[us]"...).  Fixture generations have
# shipped both; branching on the footer (one driver-side metadata read,
# cached) keeps the loader correct across regenerations instead of
# hard-coding one era's physical layout.
_EVENTS_TS_PHYSICAL: dict[str, str] = {}


def _events_ts_is_nanos(path: str) -> bool:
    phys = _EVENTS_TS_PHYSICAL.get(path)
    if phys is None:
        import pyarrow.parquet as pq

        phys = str(pq.read_schema(path).field("ts").type)
        _EVENTS_TS_PHYSICAL[path] = phys
    return phys == "timestamp[ns]"


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one fixture table.

    Schema comes from the parquet footer on first touch (it matches
    ``schemas.TABLE_SCHEMAS`` — asserted in tests) and is cached per
    (session, dir, table) after that.  Streaming readers pass
    ``schemas.EVENTS_RAW`` etc. because ``readStream`` requires a schema.

    ``events.ts`` normalizes to TimestampType (µs) regardless of the
    physical parquet type: TIMESTAMP(NANOS) fixtures are read as int64
    nanos (legacy conf) and truncated — identical to DuckDB
    ``CAST(ts AS TIMESTAMP)`` — while TIMESTAMP(MICROS)/NTZ fixtures
    just cast.  The branch is decided from the parquet footer, never
    assumed.
    """
    path = table_path(sf_dir, name)
    nanos = False
    if name == "events":
        nanos = _events_ts_is_nanos(path)
        if nanos:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    key = (session_token(spark), sf_dir, name)
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        raw = spark.read.parquet(path)
        _SCHEMA_CACHE[key] = raw.schema
    else:
        raw = spark.read.schema(schema).parquet(path)
    if name == "events":
        if nanos:
            return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def open_events_stream(
    spark: SparkSession, stage_dir: str, src_path: str
) -> DataFrame:
    """Open a staged events directory as a stream with ``ts`` normalized.

    The streaming file source needs an explicit schema, and the right one
    depends on the fixture's physical parquet type for ``ts`` (NANOS eras
    need the int64-nanos legacy read; MICROS eras read as timestamp
    directly).  Same footer-driven branch as :func:`load`, shared by every
    streaming query so a fixture regeneration flips ONE switch.
    """
    from .schemas import EVENTS_RAW

    if _events_ts_is_nanos(src_path):
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        stream = spark.readStream.schema(EVENTS_RAW).parquet(stage_dir)
        return stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    key = (session_token(spark), os.path.dirname(src_path), "events")
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        schema = spark.read.parquet(src_path).schema
        _SCHEMA_CACHE[key] = schema
    stream = spark.readStream.schema(schema).parquet(stage_dir)
    return stream.withColumn("ts", F.col("ts").cast("timestamp"))


@contextmanager
def staged_stream(spark: SparkSession, sf_dir: str, name: str) -> Iterator[DataFrame]:
    """Open fixture table ``name`` as a file stream; remove the stage on exit.

    Spark's file stream source reads a directory, so the single fixture
    file is copied into a fresh ``sfs_stream_<name>_*`` dir.  Run the
    query inside the ``with`` block: a memory or foreachBatch sink has
    its rows by the time the block ends, and nothing reads the stage
    after that.
    """
    stage = tempfile.mkdtemp(prefix=f"sfs_stream_{name}_")
    try:
        src = table_path(sf_dir, name)
        shutil.copy(src, os.path.join(stage, "part-0.parquet"))
        if name == "events":
            yield open_events_stream(spark, stage, src)
        else:
            yield spark.readStream.schema(TABLE_SCHEMAS[name]).parquet(stage)
    finally:
        shutil.rmtree(stage, ignore_errors=True)


_SCRATCH_DIRS: list[str] = []


def scratch_dir(prefix: str) -> str:
    """Make a fresh dir for files that a query's returned frame reads.

    The frame is lazy, so the dir outlives the query function: the dirs
    made inside :func:`released_scratch` (``registry.run_query``'s run)
    are removed when it exits, and the rest at interpreter exit.
    """
    path = tempfile.mkdtemp(prefix=prefix)
    _SCRATCH_DIRS.append(path)
    return path


def _remove_scratch_dirs(keep: int) -> None:
    while len(_SCRATCH_DIRS) > keep:
        shutil.rmtree(_SCRATCH_DIRS.pop(), ignore_errors=True)


atexit.register(_remove_scratch_dirs, 0)


@contextmanager
def released_scratch() -> Iterator[None]:
    """Remove the scratch dirs made inside the block when it exits."""
    keep = len(_SCRATCH_DIRS)
    try:
        yield
    finally:
        _remove_scratch_dirs(keep)


def run_bounded(
    spark: SparkSession,
    frame: DataFrame,
    name: str,
    mode: str = "append",
    partitions: int | str | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Drain a streaming frame with one ``availableNow`` run into the
    memory sink ``name`` and return the sink's table.

    ``partitions`` pins the state partition count for the run (see
    ``session.stream_partitions``); ``checkpoint_dir`` lets a later run
    resume the same state.
    """
    with stream_partitions(spark, partitions):
        writer = (
            frame.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .trigger(availableNow=True)
        )
        if checkpoint_dir is not None:
            writer = writer.option("checkpointLocation", checkpoint_dir)
        writer.start().awaitTermination()
    return spark.table(name)


# df.rdd.getNumPartitions() materializes a physical plan driver-side on
# every call; for the fixture tables the answer is a pure function of
# (file, session core count), so cache it per (session, plan signature).
_PARTS_CACHE: dict[tuple[str, str], int] = {}


def spread(df: DataFrame, spark: SparkSession) -> DataFrame:
    """Ensure compute parallelism for per-row-heavy pipelines.

    The fixture tables are single-row-group parquet files, so the scan
    yields ONE partition and any expensive per-row expression (shingle
    hashing, SimHash folds, embedding math) runs on one core of 32.  On
    a real cluster the same tables are thousands of row groups and the
    scan parallelizes naturally — so this helper repartitions ONLY when
    the scan has fewer partitions than the session's default
    parallelism, and is a no-op (not even an exchange in the plan) at
    scale.  Round-robin repartition, no key: the downstream op decides
    its own shuffle keys."""
    # strip Catalyst expression ids (#123) — fresh per plan subtree,
    # irrelevant to partitioning
    sig = re.sub(r"#\d+", "", df._jdf.queryExecution().logical().treeString())
    key = (session_token(spark), sig)
    parts = _PARTS_CACHE.get(key)
    if parts is None:
        parts = df.rdd.getNumPartitions()
        _PARTS_CACHE[key] = parts
    target = spark.sparkContext.defaultParallelism
    if parts >= target:
        return df
    return df.repartition(target)


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for spark.sql paths."""
    for name in TABLE_NAMES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
