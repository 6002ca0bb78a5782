"""Event-time windows: tumbling / sliding / session.

Batch analogs carry SQL oracles (the driver's gate); the true streaming
forms (window()/session_window() over readStream + watermark) are
exercised in tests/test_streaming.py with availableNow triggers.

Scale notes: tumbling/sliding aggregation is a single hash-agg shuffle
keyed by (window, key) — Spark expands sliding windows to one row per
overlapping window before the partial agg.  Sessionization in batch is
the gaps-and-islands pattern: one window sort per user partition, no
self-join.  The keyed-state sessionizer (``q_stream_sessionize``) is a
per-user step over ``state.keyed_fold``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load, run_bounded, staged_stream
from ..plans.registry import query
from .state import keyed_fold

_EPOCH = "TIMESTAMP '1970-01-01 00:00:00'"


@query(
    "q_window_tumbling",
    f"""
    SELECT {_EPOCH} + CAST(FLOOR(EPOCH(CAST(ts AS TIMESTAMP)) / 3600) * 3600 AS BIGINT)
               * INTERVAL 1 SECOND AS window_start,
           event_type,
           COUNT(*) AS n_events
    FROM events
    GROUP BY 1, 2
    """,
)
def q_window_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events per type per 1-hour tumbling window (epoch-aligned, like
    Spark's window())."""
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )


@query(
    "q_window_sliding",
    f"""
    SELECT {_EPOCH} + CAST(FLOOR(EPOCH(CAST(e.ts AS TIMESTAMP)) / 900) * 900 - k.k * 900 AS BIGINT)
               * INTERVAL 1 SECOND AS window_start,
           COUNT(*) AS n_events
    FROM events e, (SELECT UNNEST([0, 1, 2, 3]) AS k) k
    GROUP BY 1
    """,
)
def q_window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 15 min: each event lands in 4
    windows (the oracle enumerates the 4 slide offsets explicitly)."""
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "n_events")
    )


@query(
    "q_window_session",
    """
    WITH marked AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
               CASE WHEN EPOCH_US(CAST(ts AS TIMESTAMP))
                         - LAG(EPOCH_US(CAST(ts AS TIMESTAMP))) OVER
                           (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
                         > 1800000000
                    THEN 1 ELSE 0 END AS is_new
        FROM events
    ), numbered AS (
        SELECT user_id, ts,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_no
        FROM marked
    )
    SELECT user_id, MIN(ts) AS session_start,
           COUNT(*) AS n_events,
           (EPOCH_US(MAX(ts)) - EPOCH_US(MIN(ts))) // 1000000 AS duration_sec
    FROM numbered GROUP BY user_id, session_no
    """,
)
def q_window_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user sessions with a 30-minute inactivity gap
    (gaps-and-islands; the streaming twin is session_window — tested in
    test_streaming.py)."""
    e = load(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    order = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    us = F.unix_micros(F.col("ts"))
    gap = us - F.lag(us).over(order)
    marked = e.withColumn(
        "is_new", F.when(gap > 30 * 60 * 1_000_000, 1).otherwise(0)
    )
    numbered = marked.withColumn(
        "session_no",
        F.sum("is_new").over(order.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return numbered.groupBy("user_id", "session_no").agg(
        F.min("ts").alias("session_start"),
        F.count(F.lit(1)).alias("n_events"),
        ((F.max(us) - F.min(us)) / F.lit(1_000_000)).cast("long").alias("duration_sec"),
    ).drop("session_no")


def session_window_stream(events: DataFrame) -> DataFrame:
    """True streaming sessionization: session_window + watermark."""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
        )
    )


# ---------------------------------------------------------------------------
# Keyed-state sessionizer — closed-by-successor semantics
# ---------------------------------------------------------------------------

_SESS_GAP_US = 30 * 60 * 1_000_000
_SESS_OUTPUT = (
    "user_id long, session_start timestamp, n_events long, duration_sec long"
)

# batch gaps-and-islands sessions, MINUS each user's final session
# (still open when the log ends — the state holds it, nothing closed it)
_SESS_STREAM_ORACLE = """
    WITH marked AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
               CASE WHEN EPOCH_US(CAST(ts AS TIMESTAMP))
                         - LAG(EPOCH_US(CAST(ts AS TIMESTAMP))) OVER
                           (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
                         > 1800000000
                    THEN 1 ELSE 0 END AS is_new
        FROM events
    ), numbered AS (
        SELECT user_id, ts,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_no
        FROM marked
    ), sessions AS (
        SELECT user_id, session_no, MIN(ts) AS session_start,
               COUNT(*) AS n_events,
               (EPOCH_US(MAX(ts)) - EPOCH_US(MIN(ts))) // 1000000 AS duration_sec
        FROM numbered GROUP BY user_id, session_no
    )
    SELECT user_id, session_start, n_events, duration_sec
    FROM sessions s
    WHERE session_no < (SELECT MAX(session_no) FROM sessions m
                        WHERE m.user_id = s.user_id)
"""


def apply_sessionize_stream(events):
    """Keyed-state sessionizer: ValueState holds each user's OPEN
    session (start, last-seen, count); an event arriving past the
    30-minute gap CLOSES it — the closed session emits and the event
    starts the next one.  Closed-by-successor, not by watermark: a
    session's row is a pure function of the event log, so ANY in-order
    batching (including restarts — see the resume test) emits exactly
    the batch oracle's closed sessions, with each user's final open
    session held in state rather than guessed closed.  State is O(1)
    per user (three longs) and per-event work is O(1) — the same cost
    profile as the reference's keyed ValueState fold (ref R9,
    InvokeStatefulLambda.java:75-109)."""
    import pandas as pd

    def step(user_id, pdf: pd.DataFrame, stored):
        if stored is not None:
            start_us, last_us, n = stored
        else:
            start_us = last_us = n = None
        out = {"session_start": [], "n_events": [], "duration_sec": []}
        for row in pdf.itertuples():
            t_us = int(pd.Timestamp(row.ts).value // 1000)
            if start_us is None:
                start_us, last_us, n = t_us, t_us, 1
            elif t_us - last_us > _SESS_GAP_US:
                out["session_start"].append(pd.Timestamp(start_us * 1000))
                out["n_events"].append(n)
                out["duration_sec"].append((last_us - start_us) // 1_000_000)
                start_us, last_us, n = t_us, t_us, 1
            else:
                last_us, n = t_us, n + 1
        closed = pd.DataFrame({"user_id": [user_id] * len(out["n_events"]), **out})
        return closed, (start_us, last_us, n)

    return keyed_fold(
        events, "user_id", step, _SESS_OUTPUT, "start_us long, last_us long, n long"
    )


@query("q_stream_sessionize", _SESS_STREAM_ORACLE)
def q_stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sessionization through keyed state (see
    apply_sessionize_stream): emits every CLOSED session; the oracle is
    the batch gaps-and-islands result minus each user's final (still
    open) session."""
    with staged_stream(spark, sf_dir, "events") as events:
        result = apply_sessionize_stream(events.select("user_id", "ts", "event_id"))
        return run_bounded(spark, result, "sfs_stream_sessionize")
