"""Per-key stateful fold — batch analog of the reference's core operator.

Reference semantics (``InvokeStatefulLambda.java:70-115``): for each
event of a key, read the key's state (initialized empty on first touch,
``:75-77``), apply a function, overwrite the state (``:109``), emit a
result.  In batch form that read-modify-write sequence per key ordered
by time IS a prefix fold, which Spark expresses natively as window
functions — no Python, no state store, whole-stage codegen.

The true streaming twin (GroupState + applyInPandasWithState) lives in
``streaming/state.py``; tests assert the two produce identical
results, which is the engine's replacement for the reference's
(untested) at-least-once replay semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load
from ..numerics import exact_wsum, sql_wsum
from ..plans.registry import query


@query(
    "q_stateful_fold",
    f"""
    SELECT event_id, user_id,
           ROW_NUMBER() OVER w AS running_n,
           {sql_wsum("value", "OVER w")} AS running_sum,
           event_type AS last_type
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP) ASC, event_id ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def q_stateful_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running count + sum + last event type per user_id over event time."""
    e = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("ts"), F.asc("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        F.row_number()
        .over(Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id")))
        .cast("long")
        .alias("running_n"),
        exact_wsum("value", w).alias("running_sum"),
        F.col("event_type").alias("last_type"),
    )
