"""Robust anomaly scoring over event streams (median / MAD outliers).

A training-data pipeline gates telemetry-derived features on robust
statistics: mean/stddev z-scores break down under the very outliers
they are meant to find (one 10^9 value drags the mean), so production
quality gates use the MEDIAN and the MAD (median absolute deviation)
with the 1.4826 consistency constant — the classic robust z-score
(Hampel; Leys et al. 2013, "Detecting outliers: do not use standard
deviation around the mean").

Cross-engine exactness discipline: medians interpolate, and two
engines' float interpolation formulas need not agree — so every
percentile here runs over SCALED INTEGERS (value·1e6, the numerics-
module contract).  Interpolating between integers a<b computes
a+(b-a)·0.5: the subtraction is exact (<2^53), ·0.5 is exact (power of
two), the add is exact — BOTH engines produce the same double, no
correctly-rounded-only steps at all.  Deviations |v6−med6| are then
exact multiples of 0.5, and the outlier threshold compares those exact
doubles against 4.4478·mad6 (one shared product of identical
operands), so the flag bit can never disagree between engines.

Scale posture: exact percentile buffers each group's values — fine for
a bounded per-key cardinality, the wrong tool at 100 TB.  The scale
path swaps BOTH percentile calls for `approx_percentile` (KLL-style
mergeable sketch, partial-aggregating) without touching any other
line; the exact twin stays as the fixture oracle.  Either way the
corpus sees exactly two aggregation passes and one broadcast of a
#groups-sized stats frame — the fact table itself never sorts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from ..io import load
from ..plans.registry import query

# 3 sigmas of a normal in MAD units: 3 * 1.4826.  Written as one
# decimal literal so both engines parse the identical double.
_MAD_CUTOFF = "4.4478"

_V6 = "CAST(value * 1000000 AS DECIMAL(38,0))"

_ANOMALY_ORACLE = f"""
    WITH scaled AS (
        SELECT event_type, CAST({_V6} AS DOUBLE) AS v6 FROM events
    ),
    med AS (
        SELECT event_type, QUANTILE_CONT(v6, 0.5) AS med6
        FROM scaled GROUP BY event_type
    ),
    dev AS (
        SELECT s.event_type, ABS(s.v6 - m.med6) AS d6, m.med6
        FROM scaled s JOIN med m USING (event_type)
    ),
    mad AS (
        SELECT event_type, QUANTILE_CONT(d6, 0.5) AS mad6
        FROM dev GROUP BY event_type
    )
    SELECT d.event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CASE WHEN d.d6 > {_MAD_CUTOFF} * a.mad6 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers,
           CAST(2 * ANY_VALUE(d.med6) AS BIGINT) AS med_x2_micros,
           CAST(2 * ANY_VALUE(a.mad6) AS BIGINT) AS mad_x2_micros
    FROM dev d JOIN mad a USING (event_type)
    GROUP BY d.event_type
"""


@query("q_anomaly_mad", _ANOMALY_ORACLE)
def q_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type robust outlier census: median(value), MAD, and
    the count of events beyond 3 robust sigmas (|v−med| > 3·1.4826·MAD)
    — the Hampel-filter quality gate a feature pipeline runs before
    trusting a telemetry column.

    Plan: two grouped exact percentiles over scaled integers (see
    module docstring for why integers), each followed by a broadcast
    join of the #event_types-sized stats frame back onto the facts;
    final count-aggregate.  No fact-side sort, no window over the
    corpus."""
    e = load(spark, sf_dir, "events").select(
        "event_type", F.expr(_V6).cast("double").alias("v6")
    )
    med = e.groupBy("event_type").agg(
        F.expr("percentile(v6, 0.5)").alias("med6")
    )
    dev = e.join(broadcast(med), "event_type").select(
        "event_type", F.abs(F.col("v6") - F.col("med6")).alias("d6"), "med6"
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(d6, 0.5)").alias("mad6")
    )
    return (
        dev.join(broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.when(
                    F.col("d6") > F.expr(f"{_MAD_CUTOFF} * mad6"), 1
                ).otherwise(0)
            ).alias("n_outliers"),
            # 2·median is an EXACT integer (interpolated medians are
            # half-integers); publishing it as BIGINT micros avoids the
            # guaranteed round-half tie that ROUND(x.5e-6, 6) would hit
            (F.first("med6") * 2).cast("long").alias("med_x2_micros"),
            (F.first("mad6") * 2).cast("long").alias("mad_x2_micros"),
        )
    )


# ---------------------------------------------------------------------------
# Seasonal decomposition + robust residual outliers
# ---------------------------------------------------------------------------
#
# q_anomaly_mad flags outliers against the GLOBAL per-type
# distribution; telemetry with a daily cycle (checkout spikes at noon,
# batch errors at 03:00) needs the seasonal component removed first or
# the whole peak hour reads as anomalous.  Classic two-step STL-lite:
# (1) seasonal profile = mean value per (event_type, hour-of-day) —
# the 24-point daily curve; (2) residual = value − seasonal(hour),
# then the SAME robust MAD census as q_anomaly_mad runs on residuals.
#
# Exactness: the seasonal mean is Σ(scaled-int micros, DECIMAL(38,0)
# exact) / n — ONE double division, then ROUND to an integer micros
# value — so residuals are exact integer-valued doubles, and the
# percentile/MAD machinery inherits q_anomaly_mad's bit-identical
# interpolation contract (integers → half-integers → quarter-integers).
#
# Scale shape: the seasonal profile is a types×24-row rollup broadcast
# back onto the facts; then two grouped percentiles + two broadcast
# joins (the q_anomaly_mad plan, unchanged).  No fact-side sort.

_SEASONAL_ORACLE = f"""
    WITH scaled AS (
        SELECT event_type,
               HOUR(CAST(ts AS TIMESTAMP)) AS hod,
               CAST({_V6} AS DOUBLE) AS v6
        FROM events
    ),
    seasonal AS (
        SELECT event_type, hod,
               ROUND(CAST(SUM(CAST(v6 AS DECIMAL(38,0))) AS DOUBLE)
                     / COUNT(*)) AS smean6
        FROM scaled GROUP BY event_type, hod
    ),
    resid AS (
        SELECT s.event_type, s.v6 - e.smean6 AS r6
        FROM scaled s JOIN seasonal e USING (event_type, hod)
    ),
    med AS (
        SELECT event_type, QUANTILE_CONT(r6, 0.5) AS med6
        FROM resid GROUP BY event_type
    ),
    dev AS (
        SELECT r.event_type, ABS(r.r6 - m.med6) AS d6
        FROM resid r JOIN med m USING (event_type)
    ),
    mad AS (
        SELECT event_type, QUANTILE_CONT(d6, 0.5) AS mad6
        FROM dev GROUP BY event_type
    )
    SELECT d.event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CASE WHEN d.d6 > {_MAD_CUTOFF} * a.mad6 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers,
           CAST(4 * ANY_VALUE(a.mad6) AS BIGINT) AS mad_x4_micros
    FROM dev d JOIN mad a USING (event_type)
    GROUP BY d.event_type
"""


@query("q_anomaly_seasonal", _SEASONAL_ORACLE)
def q_anomaly_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonally-adjusted robust outlier census (see block comment):
    subtract the per-(type, hour-of-day) mean, then run the
    q_anomaly_mad Hampel gate on the residuals.  4·MAD is an exact
    integer (residual medians interpolate to quarter-integers), hence
    the `mad_x4_micros` publication."""
    e = load(spark, sf_dir, "events").select(
        "event_type",
        F.hour(F.col("ts").cast("timestamp")).alias("hod"),
        F.expr(_V6).cast("double").alias("v6"),
    )
    seasonal = e.groupBy("event_type", "hod").agg(
        F.round(
            F.sum(F.col("v6").cast("decimal(38,0)")).cast("double")
            / F.count(F.lit(1))
        ).alias("smean6")
    )
    # four downstream passes (residual median, deviations, MAD, the
    # outlier census) re-derived the events scan + seasonal join per
    # consumer without this cache (r13 optimization, guide §1.2/§5;
    # registry.run_query releases it, so measured runs stay cold)
    resid = e.join(broadcast(seasonal), ["event_type", "hod"]).select(
        "event_type", (F.col("v6") - F.col("smean6")).alias("r6")
    ).cache()
    med = resid.groupBy("event_type").agg(
        F.expr("percentile(r6, 0.5)").alias("med6")
    )
    dev = resid.join(broadcast(med), "event_type").select(
        "event_type", F.abs(F.col("r6") - F.col("med6")).alias("d6")
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(d6, 0.5)").alias("mad6")
    )
    return (
        dev.join(broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.when(
                    F.col("d6") > F.expr(f"{_MAD_CUTOFF} * mad6"), 1
                ).otherwise(0)
            ).alias("n_outliers"),
            (F.first("mad6") * 4).cast("long").alias("mad_x4_micros"),
        )
    )
