"""Round-end artifact refresh — the one mechanical entry point the
artifact guards (tests/test_fixture_schemas.py) reference.

Run AFTER the last query of the round is registered:

    python tools/refresh_artifacts.py            # all three steps
    python tools/refresh_artifacts.py --no-bench # skip the ~13 min bench

Steps (each is exactly what its guard asserts):
  1. OPERATORS.md  <- python -m stateflow_flink_spark.plans.operators_md
  2. SURVEY check  <- every registry name appears in SURVEY.md §2B
                      (report-only: a missing row needs a human sentence,
                      not a generated one)
  3. BENCH.json    <- python bench.py at $SPARK_GRAFT_SF_DIR (sf0.1),
                      which must cover EXACTLY the registry

Exit code is non-zero if any step fails, so the round's last commit can
gate on it mechanically (round 6 ended with stale artifacts; round 7
fixed them by hand; this makes round 8+ a one-liner).
"""

from __future__ import annotations

import pathlib
import subprocess
import sys

REPO = pathlib.Path(__file__).resolve().parent.parent


def regenerate_operators_md() -> None:
    out = subprocess.run(
        [sys.executable, "-m", "stateflow_flink_spark.plans.operators_md"],
        cwd=REPO,
        capture_output=True,
        text=True,
        check=True,
    ).stdout
    (REPO / "OPERATORS.md").write_text(out)
    print(f"OPERATORS.md regenerated ({len(out.splitlines())} lines)")


def check_survey() -> list[str]:
    sys.path.insert(0, str(REPO))
    from stateflow_flink_spark.plans.registry import QUERIES, load_all_modules

    load_all_modules()
    survey = (REPO / "SURVEY.md").read_text()
    missing = sorted(n for n in QUERIES if f"`{n}`" not in survey)
    if missing:
        print(f"SURVEY.md §2B is missing {len(missing)} rows: {missing}")
    else:
        print(f"SURVEY.md covers all {len(QUERIES)} registry queries")
    return missing


def refresh_bench() -> None:
    print("running bench.py (stdout JSON line -> BENCH.json)...")
    res = subprocess.run(
        [sys.executable, "bench.py"],
        cwd=REPO,
        capture_output=True,
        text=True,
        check=True,
    )
    import datetime
    import json

    # The artifact is bench.py's JSON line, the one that carries the
    # "queries" map.  A stray stdout line that merely starts with "{"
    # must not abort the refresh, so parse failures are skipped per line
    # and only a missing "queries" line is fatal.
    parsed = None
    for ln in res.stdout.strip().splitlines():
        if not ln.startswith("{"):
            continue
        try:
            d = json.loads(ln)
        except json.JSONDecodeError:
            continue
        if "queries" in d:
            parsed = d
            break
    if parsed is None:
        raise SystemExit(
            "bench.py stdout carried no JSON line with a 'queries' map — "
            "refusing to overwrite BENCH.json (stderr tail: "
            f"{res.stderr[-500:]!r})"
        )
    # Measurement window (judge item 7): the commit the numbers were
    # measured against + the date, so window adjacency is verifiable.
    head = subprocess.run(
        ["git", "rev-parse", "--short", "HEAD"],
        cwd=REPO,
        capture_output=True,
        text=True,
        check=True,
    ).stdout.strip()
    parsed["window"] = {
        "commit": head,
        "date": datetime.date.today().isoformat(),
    }
    # Window-selection rule (r12 ADVICE: the r12 stamp was the best of
    # three same-session windows — cherry-picked.  r13 stamped the LAST
    # window, which the r13 ADVICE flagged as run-order-dependent and
    # flattering when the last window happens to be the quietest).  The
    # rule is now mechanical, choice-free AND order-independent: THE
    # STAMP IS THE SAME-DAY WINDOW WITH THE MEDIAN TOTAL (even count:
    # the SLOWER of the two middle windows — conservative), and every
    # same-day window total is recorded alongside it so a reader sees
    # the spread instead of a survivor.  The sidecar keeps each
    # window's full per-query map so the stamped map always matches the
    # stamped total.  (Entries from other days are dropped — a new
    # session starts a fresh record.)
    sidecar = REPO / "tools" / ".bench_windows.json"
    today = parsed["window"]["date"]
    try:
        windows = [
            w
            for w in json.loads(sidecar.read_text())
            if w.get("date") == today
        ]
    except (OSError, json.JSONDecodeError):
        windows = []
    windows.append(
        {
            "commit": head,
            "date": today,
            "value": parsed["value"],
            "queries": parsed["queries"],
        }
    )
    sidecar.write_text(json.dumps(windows) + "\n")
    # median-by-total window; even count -> slower of the middle pair
    with_maps = [w for w in windows if w.get("queries")]
    ranked = sorted(with_maps, key=lambda w: w["value"])
    stamp = ranked[len(ranked) // 2] if ranked else None
    if stamp is not None and stamp["commit"] != head:
        parsed["queries"] = stamp["queries"]
        parsed["value"] = stamp["value"]
        parsed["window"] = {"commit": stamp["commit"], "date": stamp["date"]}
    parsed["session_windows"] = [
        {k: w[k] for k in ("commit", "date", "value")} for w in windows
    ]
    parsed["window_rule"] = (
        "stamp = same-day window with the MEDIAN total (even count: the "
        "slower middle window); all same-day window totals listed in "
        "session_windows"
    )
    # Index-backed annotation (r12 ADVICE): these queries read persisted
    # artifacts memoized per (session, sf_dir), so their per-query
    # values are warm-artifact reads — the build cost is its own
    # q_build_* line item, NOT part of these numbers.  Cross-round
    # deltas on them are artifact-read deltas, not plan changes.
    parsed["index_backed"] = {
        "queries": [
            "q_dedup_cluster", "q_dedup_cluster_sizes", "q_dedup_cluster_star",
            "q_soft_dedup_weight", "q_dedup_cluster_incremental",
            "q_dedup_incremental_indexed", "q_dedup_index_maintain",
            "q_sim_ann_ivf_indexed", "q_sim_ann_ivf_pq",
            "q_emb_pca", "q_emb_whiten",
        ],
        "build_line_items": [
            "q_build_cc_index", "q_build_dedup_index",
            "q_build_ivfadc_index", "q_build_pca_state",
        ],
    }
    (REPO / "BENCH.json").write_text(json.dumps(parsed) + "\n")
    print(
        f"BENCH.json refreshed: {parsed['value']}s over "
        f"{len(parsed['queries'])} queries at sf{parsed['sf']} "
        f"(window {head}; {len(windows)} same-day window(s) recorded)"
    )


def main() -> int:
    regenerate_operators_md()
    missing = check_survey()
    if "--no-bench" not in sys.argv:
        refresh_bench()
    return 1 if missing else 0


if __name__ == "__main__":
    sys.exit(main())
