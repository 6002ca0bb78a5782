#!/usr/bin/env python3
"""The repository's benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload loop_hops --seed 1 --seconds 10 --trace 0

Run it from the repository root. Workloads:

* ``loop_hops``: open-loop 4-hop flows and Pings through
  ``streaming.feedback.run_event_loop`` on a ``DirectoryTransport``
  (``loop.py``, ``loadgen.py``).
* ``stream_state``: seven registry streaming queries, five of them
  Python keyed state (``suites.py``).

Every run prints each metric by name and unit, checks every output, and
writes its full record to ``.perfbench/runs/``. The last line of stdout
is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``, the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. A traced run also writes its spans and
reports the tracing overhead against the untraced run of the same
workload and seed, or else the latest untraced run of the workload.

End-to-end metrics, on every workload (the unit of work is a flow on
``loop_hops`` and a query run on ``stream_state``):

* ``setup_s``: process start until the session is up and the warm-ups
  are done (``spark_setup.set_up``).
* ``p50_ms``: median latency of the unit of work. On ``loop_hops`` the
  latency of the bursts' flows, seeding to reply (``loop.py`` says why
  not the open loop's); on ``stream_state`` the median of the queries'
  median run times.

``attempted`` and ``failed`` count the operations these metrics time:
the bursts' flows on ``loop_hops``, the query runs on ``stream_state``.
* ``geomean_ms``: geometric mean latency of the unit of work (on
  ``stream_state`` over the queries' median run times), so a regression
  in a small query still shows.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Further metrics of the workloads, printed and recorded but not bounded.
REPORTED = {
    "burst_p50_ms": "ms",
    "burst_flows_per_s": "1/s",
    "flow_p50_ms": "ms",
    "flow_p99_ms": "ms",
    "failed_share": "ratio",
    "open_loop_failed_share": "ratio",
    "suite_s": "s",
    "query_geomean_s": "s",
    "query_p50_s": "s",
}


def _spec() -> dict:
    """Workloads and metric names with their units, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {
        "workloads": [w["name"] for w in spec["workloads"]],
        "end_to_end": {m["name"]: m["unit"] for m in spec["end_to_end"]},
        "per_layer": {m["name"]: m["unit"] for m in spec["per_layer"]},
    }


def _tmp_dirs(tmp: str) -> dict[str, int]:
    """``sfs_*`` dirs in the run's temp dir, with their size in bytes."""
    out = {}
    for name in os.listdir(tmp):
        if not name.startswith("sfs_"):
            continue
        total = 0
        for dirpath, _, files in os.walk(os.path.join(tmp, name)):
            for f in files:
                try:
                    total += os.path.getsize(os.path.join(dirpath, f))
                except OSError:
                    pass
        out[name] = total
    return out


def _untraced_record(runs: str, workload: str, seed: int) -> str | None:
    """The untraced record of the same workload and seed, else the
    latest untraced record of the workload."""
    same = os.path.join(runs, f"{workload}-seed{seed}-trace0.json")
    if os.path.exists(same):
        return same
    others = [
        os.path.join(runs, f)
        for f in os.listdir(runs)
        if f.startswith(f"{workload}-seed") and f.endswith("-trace0.json")
    ]
    return max(others, key=os.path.getmtime, default=None)


def _stop_jvm() -> None:
    """Close the JVM's stdin, which ends it, and wait until it has."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)


def _clear(path: str) -> None:
    for name in os.listdir(path):
        p = os.path.join(path, name)
        if os.path.isdir(p) and not os.path.islink(p):
            shutil.rmtree(p, ignore_errors=True)
        else:
            os.unlink(p)


def main() -> int:
    spec = _spec()
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", choices=spec["workloads"], required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "stateflow_flink_spark")):
        print("perfbench: stateflow_flink_spark/ not found; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.spark_setup import Paths, set_up

    paths = Paths(ROOT)
    # Everything the program and its Python workers write goes under the
    # checkout, and the workers import the package from it. Set before
    # pyspark is imported.
    os.environ["TMPDIR"] = paths.tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    from perfbench import loop, suites
    from perfbench.tracing import Tracer, event_log_metrics

    for d in (paths.tmp, paths.scratch, paths.event_log, paths.spark_local):
        _clear(d)
    trace = bool(args.trace)
    tracer = Tracer(trace)

    mod = loop if args.workload.startswith("loop") else suites
    spark, setup = set_up(paths, trace, T_PROCESS)
    try:
        with tracer.span(args.workload):
            result = mod.run(spark, paths, args.workload, args.seed, args.seconds, tracer)
        app_id = spark.sparkContext.applicationId
    finally:
        spark.stop()
        _stop_jvm()

    # The temp dir started empty, so every sfs_* dir in it is the run's.
    leaked = _tmp_dirs(paths.tmp)
    layers = result["layers"]
    layers["run.tmp_dirs_leaked"] = len(leaked)
    layers["run.tmp_bytes_leaked"] = sum(leaked.values())
    if trace:
        log = event_log_metrics(paths.event_log, app_id, tracer.spans)
        layers.update(log.get("totals", {}))
        result["detail"]["event_log_per_query"] = log.get("per_query", {})
    for d in (paths.tmp, paths.scratch, paths.event_log, paths.spark_local):
        _clear(d)

    metrics = result["metrics"]
    e2e = {"setup_s": setup["setup_s"], **result["end_to_end"]}
    stem = f"{args.workload}-seed{args.seed}"
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "end_to_end": e2e,
        "reported": metrics,
        "setup": setup,
        "layers": layers,
        "detail": result["detail"],
        "wall_s": time.perf_counter() - T_PROCESS,
    }

    print(f"workload {args.workload} seed {args.seed} trace {args.trace}")
    print(f"attempted {result['attempted']} failed {result['failed']} "
          f"correct {result['correct']}")
    for name, unit in spec["end_to_end"].items():
        print(f"{name} {e2e[name]:.4f} {unit}")
    for name, unit in REPORTED.items():
        if name in metrics:
            print(f"{name} {metrics[name]:.4f} {unit}")

    if trace:
        out = {name: {"value": float(layers.get(name, 0.0)), "unit": unit}
               for name, unit in spec["per_layer"].items()}
        for name, unit in spec["per_layer"].items():
            print(f"{name} {out[name]['value']:.4f} {unit}")
        untraced = _untraced_record(paths.runs, args.workload, args.seed)
        if untraced:
            with open(untraced) as fh:
                base = json.load(fh)["end_to_end"]
            record["trace_overhead_vs"] = os.path.basename(untraced)
            record["trace_overhead"] = {k: e2e[k] - base[k] for k in spec["end_to_end"]}
            for k, v in record["trace_overhead"].items():
                print(f"trace.overhead.{k} {v:.4f} {spec['end_to_end'][k]}")
        record["self_times"] = tracer.self_times()
        tracer.write(os.path.join(paths.runs, f"{stem}-spans.json"))
    else:
        out = {name: {"value": float(e2e[name]), "unit": unit}
               for name, unit in spec["end_to_end"].items()}
    with open(os.path.join(paths.runs, f"{stem}-trace{args.trace}.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    print(json.dumps({
        "correct": bool(result["correct"]),
        "attempted": int(result["attempted"]),
        "failed": int(result["failed"]),
        "metrics": out,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
