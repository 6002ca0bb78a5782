"""Streaming CEP: the `view click* purchase` NFA through keyed state.

The streaming twin of operators/cep.py::q_cep_pattern — one semantics,
stated there once (restart-on-view, reset on signup/error/purchase),
shared by the batch window query, the DuckDB oracle, and this fold.
This is the workload the reference's keyed stateful lambda exists for
(InvokeStatefulLambda.java:75-109): per-key sequence logic whose state
is a few scalars, read-modify-written per event, surviving restarts in
the checkpoint.

State per user: the pending partial match — (start view's event_id,
its unix-micros timestamp, clicks seen since), folded by a per-user
step over ``state.keyed_fold``.  A purchase arriving on a pending state
EMITS the completed match and resets; an idle user's state is removed,
so the store holds pending matches only.  Determinism
under any batching follows because events fold in (ts, event_id) order
within a batch and the pending-match state carries across batches (a
pattern split mid-`click*` across micro-batches completes exactly as
if it arrived in one).

Scale shape: per-key state is O(1) (three longs), per-event work is
O(1), output is matches only — the keyed-state cost profile the
reference's router+state design targets, with Spark adding exactly-once
checkpointing on top.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession

from ..io import run_bounded, staged_stream
from ..operators.cep import _CEP_ORACLE
from ..plans.registry import query
from .state import keyed_fold

_CEP_OUTPUT = (
    "user_id long, start_event_id long, end_event_id long, "
    "n_clicks long, span_us long"
)


def apply_cep_stream(events: DataFrame) -> DataFrame:
    """Run the restart-on-view NFA per user over a streaming frame;
    emits one row per completed `view click* purchase` match.  Columns
    required on ``events``: user_id, ts, event_id, event_type."""

    def step(user_id, pdf: pd.DataFrame, stored):
        if stored is not None:
            start_id, start_us, n_clicks = stored
        else:
            start_id, start_us, n_clicks = None, None, None
        out: dict[str, list] = {c: [] for c in
                                ("start_event_id", "end_event_id",
                                 "n_clicks", "span_us")}
        for row in pdf.itertuples():
            et = row.event_type
            if et == "view":
                start_id = int(row.event_id)
                start_us = int(pd.Timestamp(row.ts).value // 1000)
                n_clicks = 0
            elif et == "click":
                if start_id is not None:
                    n_clicks += 1
            elif et == "purchase" and start_id is not None:
                end_us = int(pd.Timestamp(row.ts).value // 1000)
                out["start_event_id"].append(start_id)
                out["end_event_id"].append(int(row.event_id))
                out["n_clicks"].append(int(n_clicks))
                out["span_us"].append(end_us - start_us)
                start_id = start_us = n_clicks = None
            else:  # signup / error / unmatched purchase: reset to idle
                start_id = start_us = n_clicks = None
        matches = pd.DataFrame(
            {"user_id": [user_id] * len(out["end_event_id"]), **out}
        )
        # idle (no pending match): None removes the user's state
        pending = None if start_id is None else (start_id, start_us, n_clicks)
        return matches, pending

    return keyed_fold(
        events,
        "user_id",
        step,
        _CEP_OUTPUT,
        "start_id long, start_us long, n_clicks long",
    )


@query("q_stream_cep", _CEP_ORACLE)
def q_stream_cep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of q_cep_pattern (same oracle): every completed
    `view click* purchase` match, emitted by the keyed-state NFA as the
    closing purchase folds in."""
    with staged_stream(spark, sf_dir, "events") as events:
        result = apply_cep_stream(
            events.select("user_id", "ts", "event_id", "event_type")
        )
        return run_bounded(spark, result, "sfs_stream_cep")
