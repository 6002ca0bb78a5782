#!/usr/bin/env python
"""Per-query timing over the registry.

Runs every registered query, or only the query names given on argv, at
``$SPARK_GRAFT_SF_DIR`` (default: the sf0.1 fixture dir) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line::

    {"metric": "suite_wall_clock_sec", "queries": {"q_agg_groupby": 0.41, ...},
     "value": <total>, "unit": "sec", "sf": 0.1}

Usage::

    python bench.py                          # every query
    python bench.py q_agg_groupby q_tpch_q1  # only these

Each run goes through ``registry.run_query`` with the ``noop`` batch sink
as its action — the full physical plan runs with zero driver-side
collection cost — and ``run_query`` releases what the query created, so
every measured run is cold.  Four warm-up queries run first so one-time
startup costs are not billed to the first query measured.
"""

from __future__ import annotations

import json
import os
import sys
import time

from pyspark.sql import DataFrame, SparkSession

from stateflow_flink_spark.plans.registry import QUERIES, load_all_modules, run_query
from stateflow_flink_spark.session import apply_runtime_conf

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
# BASELINE.md procedure: 3 runs per query, report the median (n=1 showed
# ±10x outliers on whichever query landed on a codegen-cache eviction or
# GC pause).
RUNS = int(os.environ.get("SPARK_GRAFT_RUNS", "3"))


def sf_of(path: str) -> float:
    tail = os.path.basename(path.rstrip("/"))
    try:
        return float(tail.removeprefix("sf"))
    except ValueError:
        return -1.0


def main() -> None:
    load_all_modules()
    names = sys.argv[1:] or sorted(QUERIES)
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        sys.exit(f"unknown queries: {unknown}")
    spark = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("stateflow-spark-bench")
        .config("spark.sql.shuffle.partitions", CPUS)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    apply_runtime_conf(spark)
    spark.sparkContext.setLogLevel("ERROR")

    def run(name: str) -> float:
        t0 = time.perf_counter()

        def force(df: DataFrame) -> float:
            df.write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0

        return run_query(spark, name, SF_DIR, force)

    # Warm-ups, not billed to any measured query:
    #   q_agg_groupby      — JVM, codegen, parquet footer cache
    #   q_udf_scalar       — Python worker pool spin-up + pandas/pyarrow
    #                        imports (otherwise the alphabetically-first
    #                        Arrow-UDF query absorbs ~8 s of one-time cost)
    #   q_udaf_grouped     — grouped-map (applyInPandas) eval path
    #   q_stream_watermark — streaming engine init (state store provider,
    #                        checkpoint IO, micro-batch planner) so the
    #                        first streaming query is not billed that
    #                        one-time cost
    for warm in ("q_agg_groupby", "q_udf_scalar", "q_udaf_grouped",
                 "q_stream_watermark"):
        run(warm)

    timings: dict[str, float] = {}
    for name in names:
        try:
            samples = sorted(run(name) for _ in range(RUNS))
            timings[name] = round(samples[len(samples) // 2], 3)
        except Exception as exc:  # a broken query must not hide the others
            print(f"BENCH ERROR {name}: {exc}", file=sys.stderr)
            timings[name] = -1.0

    total = round(sum(t for t in timings.values() if t >= 0), 3)
    print(
        json.dumps(
            {
                "metric": "suite_wall_clock_sec",
                "queries": timings,
                "value": total,
                "unit": "sec",
                "sf": sf_of(SF_DIR),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
