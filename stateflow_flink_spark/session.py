"""SparkSession factory with scale-oriented defaults.

The reference engine pins its performance-relevant runtime config in
``StateFlowFlinkJob.java:36-40`` (pipelined shuffles, 5 s at-least-once
checkpoints).  Our batch analog is AQE + sensible shuffle sizing; the
streaming analog (checkpointLocation, triggers) lives in
``stateflow_flink_spark.streaming``.

All defaults here are chosen to survive a 1000-executor / 100 TB
deployment, not just local[32]:

  * AQE on: runtime coalescing of shuffle partitions, skew-join
    splitting, and dynamic join-strategy switching replace any hand
    scheduling.
  * UTC session timezone: fixture timestamps are tz-naive; Spark and
    the DuckDB oracle must agree bit-for-bit.
  * Arrow enabled: every pandas_udf / applyInPandas crosses the
    JVM<->Python boundary in columnar batches.
  * Python workers run ``worker_daemon``: a task no longer re-reads
    pyspark.zip and the Spark jar, about 0.2 s per Python task.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Shuffle partition default for local test runs. On a real cluster the
# deployment sets spark.sql.shuffle.partitions (rule of thumb: ~2-3x total
# executor cores, with AQE coalescing down); AQE's
# advisoryPartitionSizeInBytes then controls the effective post-shuffle
# partition size regardless of this number.
_LOCAL_SHUFFLE_PARTITIONS = "32"


def configure(builder: SparkSession.Builder) -> SparkSession.Builder:
    """Apply engine defaults to any SparkSession builder.

    Kept separate from :func:`get_spark` so the driver-owned session in
    ``__spark_entry__`` and test sessions share one config surface.
    The Python-worker daemon is static conf, so a session built
    elsewhere (:func:`apply_runtime_conf`) keeps ``pyspark.daemon``.
    """
    return (
        builder.config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", _LOCAL_SHUFFLE_PARTITIONS)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 128m parquet split size: keeps scan tasks balanced at any SF.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Broadcast threshold: dims (region/nation/supplier/part at test
        # SF) broadcast automatically; AQE can also convert at runtime.
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.python.daemon.module", "stateflow_flink_spark.worker_daemon")
    )


def get_spark(app_name: str = "stateflow-flink-spark", master: str | None = None) -> SparkSession:
    """Build (or fetch) the engine SparkSession."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.appName(app_name).master(master or f"local[{cpus}]")
    return configure(builder).getOrCreate()


def apply_runtime_conf(spark: SparkSession) -> SparkSession:
    """Apply the runtime-settable subset of defaults to an existing session.

    Used when the driver hands us a session we didn't build
    (``__spark_entry__.entry``): static configs (shuffle service, etc.)
    can't change post-start, but timezone / AQE / arrow can.
    """
    for key, value in (
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.adaptive.enabled", "true"),
        ("spark.sql.adaptive.coalescePartitions.enabled", "true"),
        ("spark.sql.adaptive.skewJoin.enabled", "true"),
        ("spark.sql.execution.arrow.pyspark.enabled", "true"),
        ("spark.sql.parquet.filterPushdown", "true"),
    ):
        try:
            spark.conf.set(key, value)
        except Exception:  # pragma: no cover - static conf on some builds
            pass
    return spark


def pin(df, eager: bool = False):
    """Cut lineage on a frame an iterative loop reuses each round.

    ``localCheckpoint`` stores UNREPLICATED executor-local blocks —
    the right local-mode default (no FS round-trip), but on a cluster
    a lost executor makes the pinned frame unrecoverable and the whole
    iteration fails over to recompute-from-scratch.  When the session
    has a checkpoint directory (Spark's ``spark.checkpoint.dir`` or
    ``sc.setCheckpointDir``), every pinned frame takes reliable
    ``Dataset.checkpoint()`` into it instead — one deployment setting,
    every iterative operator."""
    if df.sparkSession.sparkContext.getCheckpointDir():
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def session_token(spark: SparkSession) -> str:
    """Stable identity for memoizing per-session catalog state.

    ``id(spark)`` is unsafe as a memo key: after a SparkSession is
    garbage-collected CPython can hand the same id to a NEW session,
    which would then get a cache hit for catalog tables it never
    created (r11 ADVICE).  The applicationId is unique per JVM
    lifetime and — unlike per-Python-object identity — matches the
    scope of ``saveAsTable`` catalog entries, which are shared by all
    sessions of one context.  Callers still verify
    ``spark.catalog.tableExists`` before trusting a hit, covering the
    same-app-id-new-catalog case (e.g. a restarted derby metastore)."""
    try:
        return spark.sparkContext.applicationId
    except Exception:  # pragma: no cover - stopped context
        return f"py-{id(spark)}"


class conf_scope:
    """Context manager setting the session confs in ``confs`` for the
    block; on exit each one is restored, or unset if it was unset
    before."""

    def __init__(self, spark: SparkSession, confs: dict[str, str]) -> None:
        self._spark = spark
        self._confs = confs
        self._saved: dict[str, str | None] = {}

    def __enter__(self) -> None:
        for key, value in self._confs.items():
            self._saved[key] = self._spark.conf.get(key, None)
            self._spark.conf.set(key, value)

    def __exit__(self, *exc) -> None:
        for key, saved in self._saved.items():
            if saved is None:
                self._spark.conf.unset(key)
            else:
                self._spark.conf.set(key, saved)


class rocksdb_state(conf_scope):
    """Context manager switching the streaming state-store provider to
    RocksDB for queries started within it, restoring the prior provider
    afterwards.

    Why this exists (SURVEY §4.1): the default HDFSBackedStateStore
    keeps every key's state on the JVM HEAP of each executor — the
    direct analog of the reference's heap ValueState
    (``InvokeStatefulLambda.java:61-65``), and the thing that dies
    first when keyed state approaches 100 TB scale (GC pressure, then
    OOM).  RocksDB spills state to local SSD with a bounded block
    cache, and changelog checkpointing uploads per-batch deltas instead
    of full snapshots, so state size is bounded by disk, not heap.
    The provider is picked up PER QUERY at stream start, and the choice
    is baked into that query's checkpoint — always restart a query with
    the provider it was created with.

    Sandbox note: Spark ships the RocksDB JNI bundle in core, so this
    runs on local[*] too; tests assert provider-equivalence of results.
    """

    _KEY = "spark.sql.streaming.stateStore.providerClass"
    _CHANGELOG = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    PROVIDER = (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    )

    def __init__(self, spark: SparkSession) -> None:
        super().__init__(spark, {self._KEY: self.PROVIDER, self._CHANGELOG: "true"})


class stream_partitions(conf_scope):
    """Context manager pinning shuffle partitions, which a streaming
    stateful operator freezes into its checkpoint as its state-partition
    count, for one bounded streaming query; the batch setting comes back
    afterwards.

    The count is the session's ``defaultParallelism`` whether the state
    lives in Python (``applyInPandasWithState``) or the JVM (aggregates,
    joins, ``dropDuplicates``): one partition per core, as Flink derives
    keyed-state placement from the job's parallelism.  AQE never
    coalesces state partitions, so the number is set here, not left to
    the batch default.  Each registry streaming query starts from a
    fresh checkpoint, so the count never conflicts with a prior run's
    state layout.

    Measured: Python-state folds are worker-bound and gain from every
    core (MinHash stream dedup at sf0.1 on 32 cores: 17.6 s at 8
    partitions, 7.1 s at 32); on ``local[4]`` the JVM stream-stream
    join ran 3.61 s at 8 partitions and 3.06 s at 4.  JVM state is
    store-commit-bound, so on a wide host it pays per partition: on 32
    cores the r14 sweep measured the left stream-stream join at 1.97 s
    with 8 partitions and 5.89 s with 32."""

    def __init__(self, spark: SparkSession) -> None:
        super().__init__(
            spark,
            {"spark.sql.shuffle.partitions": str(spark.sparkContext.defaultParallelism)},
        )
