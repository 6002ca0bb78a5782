"""Helpers shared by the test modules: physical-plan text for the plan
gates, a token counter over that text, and a streaming-query listener.

Importing this module registers every query (``load_all_modules``)."""

from __future__ import annotations

import contextlib
import io

from stateflow_flink_spark.plans.registry import load_all_modules, run_query

from .conftest import SF_SMOKE

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


class QueryEvents:
    """A ``StreamingQueryListener`` registered for a ``with`` block: it
    keeps each run's progress reports and termination exception, keyed
    by run id, and on exit drains the listener bus so every event of the
    block has been delivered."""

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        self.spark = spark
        self.progress: list = []
        self.terminated: dict[str, str | None] = {}
        events = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event) -> None:
                pass

            def onQueryProgress(self, event) -> None:
                events.progress.append(event.progress)

            def onQueryIdle(self, event) -> None:
                pass

            def onQueryTerminated(self, event) -> None:
                events.terminated[str(event.runId)] = event.exception

        self.listener = Listener()

    def __enter__(self) -> "QueryEvents":
        self.spark.streams.addListener(self.listener)
        return self

    def __exit__(self, *exc) -> None:
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        self.spark.streams.removeListener(self.listener)
