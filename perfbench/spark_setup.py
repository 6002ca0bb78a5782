"""The benchmark's session and set-up.

The session is the program's own configuration (``session.configure``)
on ``local[4]``. The benchmark adds only what keeps a run inside its
checkout (temp, local and warehouse dirs), turns the UI off, and, in a
traced run, writes an uncompressed event log.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

MASTER = "local[4]"


@dataclass
class Paths:
    """Everything a run writes, under ``<checkout>/.perfbench``."""

    root: str

    def __post_init__(self) -> None:
        self.work = os.path.join(self.root, ".perfbench")
        self.tmp = os.path.join(self.work, "tmp")
        self.data = os.path.join(self.work, "data")
        self.runs = os.path.join(self.work, "runs")
        self.spark_local = os.path.join(self.work, "spark-local")
        self.warehouse = os.path.join(self.work, "warehouse")
        self.event_log = os.path.join(self.work, "eventlog")
        self.scratch = os.path.join(self.work, "run")  # transports, checkpoints
        for d in (self.tmp, self.data, self.runs, self.spark_local, self.event_log, self.scratch):
            os.makedirs(d, exist_ok=True)


def build_session(paths: Paths, trace: bool):
    from pyspark.sql import SparkSession

    from stateflow_flink_spark.session import configure

    builder = (
        configure(SparkSession.builder.master(MASTER).appName("perfbench"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", paths.spark_local)
        .config("spark.sql.warehouse.dir", paths.warehouse)
        # No hsperfdata file in the system temp dir.
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={paths.tmp} -XX:-UsePerfData")
    )
    if trace:
        builder = (
            builder.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.dir", "file://" + paths.event_log)
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_up(spark, paths: Paths) -> None:
    """One-time costs no workload should be billed for: JVM codegen and
    the Python worker pool with the proto codec imported (one codec and
    routing pass), and the streaming engine (checkpoint IO, micro-batch
    planner)."""
    from pyspark.sql import functions as F

    from stateflow_flink_spark.schemas import EVENT_ENVELOPE
    from stateflow_flink_spark.sources.kafka import decode_frames, encode_frames
    from stateflow_flink_spark.streaming.routing import route_ingress

    from .loadgen import envelope, plan

    rows = [envelope(r, 2, 0) for r in plan("loop_hops", 0, 1.0)]
    frames = encode_frames(spark.createDataFrame(rows, EVENT_ENVELOPE), "client_request")
    frames = frames.withColumns({"partition": F.lit(0), "offset": F.lit(0)})
    route_ingress(decode_frames(frames)).write.format("noop").mode("overwrite").save()

    src = os.path.join(paths.scratch, "warmup_src")
    spark.range(100).write.mode("overwrite").parquet(src)
    q = (
        spark.readStream.schema("id long")
        .parquet(src)
        .writeStream.format("noop")
        .option("checkpointLocation", os.path.join(paths.scratch, "warmup_ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def set_up(paths: Paths, trace: bool, t_process: float) -> tuple[object, dict]:
    """Build and warm the session once. ``setup_s`` runs from process
    start until the warm-ups are done.

    One set-up per run: stopping and rebuilding the context in one
    process leaves the codec's module-level pandas UDFs bound to the old
    context's accumulator channel, so every later task logs a broken
    pipe and the workload would be measured on a damaged session."""
    imports_s = time.perf_counter() - t_process
    spark = build_session(paths, trace)
    warm_up(spark, paths)
    return spark, {
        "setup_s": time.perf_counter() - t_process,
        "setup_imports_s": imports_s,
    }
