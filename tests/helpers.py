"""Helpers shared by the test modules: physical-plan text for the plan
gates, a token counter over that text, and a runner for scripts that
need a fresh interpreter and session.

Importing this module registers every query (``load_all_modules``)."""

from __future__ import annotations

import contextlib
import io
import os
import subprocess
import sys

from stateflow_flink_spark.plans.registry import load_all_modules, run_query

from .conftest import REPO, SF_SMOKE

load_all_modules()


def plan_text(spark, query, *, formatted: bool = False) -> str:
    """The physical plan of ``query`` as text.

    ``query`` is a registry query name, built at ``SF_SMOKE`` through
    ``run_query`` so that the run releases what the build cached or
    pinned and every gate sees a cold-cache plan; or a DataFrame.

    By default the text is ``executedPlan().toString()``: the initial
    adaptive plan of a frame not yet run, the final one after an action.
    ``formatted=True`` gives ``explain("formatted")``, a numbered node
    tree followed by one detail section per node."""

    def text(df) -> str:
        if not formatted:
            return df._jdf.queryExecution().executedPlan().toString()
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    if isinstance(query, str):
        return run_query(spark, query, SF_SMOKE, text)
    return text(query)


def token_count(plan: str, token: str) -> int:
    """Non-overlapping occurrences of ``token`` in ``plan``."""
    return plan.count(token)


def run_script(script: str, cwd, *args: str) -> subprocess.CompletedProcess:
    """Run ``script`` with ``args`` in a fresh interpreter with the
    package importable."""
    return subprocess.run(
        [sys.executable, "-c", script, *args],
        cwd=cwd,
        env={**os.environ, "PYTHONPATH": str(REPO)},
        capture_output=True,
        text=True,
        timeout=300,
    )
