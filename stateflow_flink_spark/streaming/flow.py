"""Multi-step event flows — the reference's dataflow cycle, bounded.

The reference iterates by producing mid-flow events back to the
``internal`` Kafka topic, which its own source re-consumes
(``EgressRouter.java:49-63`` -> ``StateFlowFlinkJob.java:143-147`` ->
``:50``): a cycle through Kafka, one hop per flow step, terminating when
the cursor reaches ``"RETURN"`` (``IngressRouter.java:79``).

Structured Streaming cannot express cycles inside one query (SURVEY.md
§3.3), so the engine offers the two idiomatic mappings:

  * production: keep the feedback topic — two independent streaming
    queries sharing ``internal`` (see streaming/feedback.py);
  * bounded/batch: the driver-side loop below — repeatedly apply
    route+advance to the not-yet-returned frontier, union the finished
    rows, until the frontier is empty.  Each iteration is one Catalyst
    job over a shrinking DataFrame; nothing is collected per row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load, scratch_dir
from ..plans.registry import query

MAX_FLOW_STEPS = 64  # safety bound, like any production feedback loop


def iterate_flow(flows: DataFrame, advance, max_steps: int = MAX_FLOW_STEPS) -> DataFrame:
    """Drive `flows` through `advance` until every row reaches RETURN.

    ``flows`` needs columns ``current_node_type`` + whatever ``advance``
    uses; ``advance(df) -> df`` performs ONE flow step (the stateful
    apply that moves the cursor — ref §3.3 step 2) and must add 1 to
    ``n_hops``.  Returns the finished rows with a ``reply`` column.

    Caching is bounded: at most TWO frontiers are pinned at any moment
    (the one being advanced and its successor), and each step's finished
    rows stream straight to a parquet staging dir (a distributed append
    write — the batch analog of producing replies to the client topic),
    so the returned DataFrame is a clean scan with no dependence on any
    cached frontier.  A 64-step flow therefore holds 2 cached frontiers,
    not 64, and nothing stays pinned after the call.
    """
    spark = flows.sparkSession
    stage = scratch_dir("sfs_flow_done_")
    frontier = flows
    prev: DataFrame | None = None
    for _ in range(max_steps):
        frontier = advance(frontier).persist()
        # stream this step's finished rows out; the write is the action
        # that also materializes the frontier cache
        (
            frontier.filter(F.col("current_node_type") == "RETURN")
            .withColumn("reply", F.lit("SuccessfulInvocation"))
            .write.mode("append")
            .parquet(stage)
        )
        nxt = frontier.filter(F.col("current_node_type") != "RETURN")
        stop = nxt.isEmpty()  # reuses the cache populated just above
        if prev is not None:
            prev.unpersist()
        prev = frontier
        frontier = nxt
        if stop:
            break
    else:
        prev.unpersist()
        raise RuntimeError(f"flow did not terminate within {max_steps} steps")
    prev.unpersist()
    return spark.read.parquet(stage)


@query(
    "q_flow_iterate",
    """
    SELECT event_id,
           CAST(event_id % 3 + 1 AS BIGINT) AS n_hops,
           'SuccessfulInvocation' AS reply
    FROM events
    """,
)
def q_flow_iterate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded flow iteration (ref R4/R11/R13): each event becomes a
    synthetic (event_id % 3 + 1)-step flow; the loop must route every
    flow to RETURN and emit exactly one CLIENT reply per event_id.
    The oracle is the closed form of the hop count."""
    e = load(spark, sf_dir, "events")
    flows = e.select(
        "event_id",
        (F.col("event_id") % 3 + 1).alias("steps_left"),
        F.lit("step").alias("current_node_type"),
        F.lit(0).cast("long").alias("n_hops"),
    )

    def advance(df: DataFrame) -> DataFrame:
        stepped = df.withColumns(
            {
                "steps_left": F.col("steps_left") - 1,
                "n_hops": F.col("n_hops") + 1,
            }
        )
        return stepped.withColumn(
            "current_node_type",
            F.when(F.col("steps_left") <= 0, "RETURN").otherwise("step"),
        )

    result = iterate_flow(flows, advance)
    return result.select("event_id", "n_hops", "reply")
