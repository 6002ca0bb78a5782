"""Registry query workloads: each query run cold, checked against its oracle.

A query run is ``QUERIES[name](spark, sf_dir).toPandas()``: from input to
the complete result in this process. Between runs the benchmark drops the
cached frames and memory-sink views the query left, so every run is cold.
Each result is checked against a digest of the query's ``ORACLE`` SQL run
in DuckDB over the same fixtures; the digests are computed once per
fixture copy and oracle text, outside any timed region.

The fixtures are fixed, so the workload seed changes nothing here. The
suite runs in full at least once, and again while ``seconds`` last.
"""

from __future__ import annotations

import hashlib
import json
import os
import time

from . import fixtures
from .stats import geomean, median
from .tracing import Tracer, progress_listener, state_metrics

# Python keyed state (applyInPandasWithState) over user_id, and over LSH
# buckets for the minhash stream; then two controls: Python state over
# only 5 keys, and a JVM-state stream-stream join. Each query runs once
# per run in a fresh JVM, so a run of the suite costs about 4 s a query
# whatever the scale; seven queries is what fits the run budget.
STREAM_STATE = [
    "q_stateful_fold_stream",
    "q_scd2_stream",
    "q_stream_sessionize",
    "q_stream_cep",
    "q_dedup_minhash_stream",
    "q_stream_hll",
    "q_stream_stream_join",
]

SUITES = {"stream_state": (STREAM_STATE, 0.05)}


def _digest(pdf) -> str:
    from tests.parity import canonical_rows

    rows = canonical_rows(pdf)
    return hashlib.sha256(repr((sorted(pdf.columns), rows)).encode()).hexdigest()


def oracle_digests(sf_dir: str, names: list[str]) -> dict[str, str]:
    """Digest of each query's oracle result, cached next to the fixtures
    under the hash of the oracle SQL."""
    import duckdb

    from stateflow_flink_spark.plans.registry import ORACLE

    path = os.path.join(sf_dir, "oracle_digests.json")
    cache = json.load(open(path)) if os.path.exists(path) else {}
    con = None
    out = {}
    for name in names:
        key = f"{name}:{hashlib.sha256(ORACLE[name].encode()).hexdigest()}"
        if key not in cache:
            if con is None:
                con = duckdb.connect()
                for t in fixtures.TABLES:
                    con.execute(
                        f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
                    )
            cache[key] = _digest(con.execute(ORACLE[name]).df())
        out[name] = cache[key]
    if con is not None:
        con.close()
        with open(path, "w") as fh:
            json.dump(cache, fh)
    return out


def _release(spark) -> None:
    """Drop what a query run left in the session: cached frames and the
    memory-sink views streaming queries land their results in."""
    spark.catalog.clearCache()
    for t in spark.catalog.listTables():
        if t.isTemporary and t.name.startswith("sfs_"):
            spark.catalog.dropTempView(t.name)


def run(spark, paths, workload: str, seed: int, seconds: float, tracer: Tracer) -> dict:
    from stateflow_flink_spark.plans.registry import QUERIES, load_all_modules

    load_all_modules()
    names, sf = SUITES[workload]
    sf_dir = fixtures.ensure(paths.data, sf)
    digests = oracle_digests(sf_dir, names)
    listener = progress_listener(spark) if tracer.enabled else None

    times: dict[str, list[float]] = {n: [] for n in names}
    attempted = failed = 0
    errors: dict[str, str] = {}
    t_start = time.perf_counter()
    passes = 0
    while passes == 0 or time.perf_counter() - t_start < seconds:
        for name in names:
            attempted += 1
            if tracer.enabled:  # names the query's batch jobs in the event log
                spark.sparkContext.setJobDescription(name)
            try:
                t0 = time.perf_counter()
                with tracer.span(f"query.{name}"):
                    pdf = QUERIES[name](spark, sf_dir).toPandas()
                dt = time.perf_counter() - t0
            except Exception as exc:  # a failing query must not hide the others
                failed += 1
                errors[name] = repr(exc)[:500]
                continue
            finally:
                _release(spark)
            if _digest(pdf) != digests[name]:
                failed += 1
                errors[name] = "result differs from the oracle"
            else:
                times[name].append(dt)
        passes += 1
    spark.sparkContext.setJobDescription(None)

    medians = {n: median(ts) for n, ts in times.items() if ts}
    result = {
        "attempted": attempted,
        "failed": failed,
        "correct": failed == 0,
        "end_to_end": {
            "p50_ms": median(medians.values()) * 1e3,
            "geomean_ms": geomean(medians.values()) * 1e3,
        },
        "metrics": {
            "suite_s": sum(medians.values()),
            "query_geomean_s": geomean(medians.values()),
            "query_p50_s": median(medians.values()),
            "failed_share": failed / attempted,
        },
        "detail": {"passes": passes, "sf": sf, "errors": errors, "times_s": times},
        "layers": {f"query.{n}_s": medians.get(n, 0.0) for n in names},
    }
    if tracer.enabled:
        time.sleep(1.0)  # let the listener bus deliver the last progress events
        spark.streams.removeListener(listener)
        result["layers"].update(state_metrics(listener.events))
    return result
