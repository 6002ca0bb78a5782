"""Product analytics — cohort retention; operational data-quality checks.

Two staples every warehouse runs daily:

  * `q_cohort_retention` — the classic retention triangle: users are
    cohorted by first-activity week, and each (cohort, week-offset)
    cell counts how many came back.  Weeks are epoch floor-division
    (integer exact, the gap-fill discipline); the retention ratio is
    one division of identical integers, so the triangle hash-checks
    across engines.
  * `q_dq_checks` — a dbt-tests-style constraint suite in ONE job:
    uniqueness, referential integrity, not-null, and domain checks,
    each a pruned single-purpose aggregate, unioned into the long
    (check_name, n_violations, passed) format a CI gate consumes.

Scale shapes: retention is two user-keyed shuffles (first-activity agg,
activity-distinct agg) + one join re-using the same key, then a
cells-sized aggregate; the DQ suite is one pruned pass per check —
columnar scans make N single-column checks cost the same bytes as one
wide pass, and each check partial-aggregates to a scalar before any
exchange.  Referential integrity is the only join: a LEFT ANTI against
the parent keys, the shape that stays shuffle-bounded at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load
from ..numerics import exact_sum, sql_sum
from ..plans.registry import query
from ..session import pin

_WEEK = 7 * 24 * 3600

_COHORT_ORACLE = f"""
    WITH act AS (
        SELECT user_id,
               CAST(FLOOR(EPOCH(CAST(ts AS TIMESTAMP)) / {_WEEK}) AS BIGINT)
                   AS week
        FROM events
        GROUP BY 1, 2
    ),
    first AS (
        SELECT user_id, MIN(week) AS cohort_week FROM act GROUP BY user_id
    ),
    cohort_size AS (
        SELECT cohort_week, COUNT(*) AS n_cohort FROM first GROUP BY cohort_week
    ),
    cells AS (
        SELECT f.cohort_week, a.week - f.cohort_week AS week_offset,
               COUNT(DISTINCT a.user_id) AS n_active
        FROM act a JOIN first f USING (user_id)
        GROUP BY 1, 2
    )
    SELECT c.cohort_week, c.week_offset, c.n_active, s.n_cohort,
           CAST(c.n_active AS DOUBLE) / s.n_cohort AS retention
    FROM cells c JOIN cohort_size s USING (cohort_week)
"""


@query("q_cohort_retention", _COHORT_ORACLE)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention triangle over events (see module docstring).

    Epoch assumption: `div` (truncate) and the oracle's FLOOR agree
    only for ts >= 1970 — the domain of product telemetry; a pre-epoch
    corpus would need floor-division on both sides."""
    e = load(spark, sf_dir, "events").select("user_id", "ts")
    act = (
        e.select(
            "user_id",
            F.expr(f"unix_timestamp(ts) div {_WEEK}").alias("week"),
        )
        .distinct()
    )
    first = act.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    cohort_size = first.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("n_cohort")
    )
    cells = (
        act.join(first, "user_id")
        .groupBy("cohort_week", (F.col("week") - F.col("cohort_week")).alias("week_offset"))
        .agg(F.countDistinct("user_id").alias("n_active"))
    )
    return cells.join(cohort_size, "cohort_week").select(
        "cohort_week",
        "week_offset",
        "n_active",
        "n_cohort",
        (F.col("n_active").cast("double") / F.col("n_cohort")).alias("retention"),
    )


_DQ_ORACLE = """
    SELECT 'orders_pk_unique' AS check_name,
           CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_violations,
           COUNT(*) = COUNT(DISTINCT o_orderkey) AS passed
    FROM orders
    UNION ALL
    SELECT 'lineitem_fk_orders',
           CAST(COUNT(*) AS BIGINT),
           COUNT(*) = 0
    FROM (SELECT l.l_orderkey FROM lineitem l
          LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
          WHERE o.o_orderkey IS NULL)
    UNION ALL
    SELECT 'customer_key_not_null',
           CAST(COUNT(*) - COUNT(c_custkey) AS BIGINT),
           COUNT(*) = COUNT(c_custkey)
    FROM customer
    UNION ALL
    SELECT 'events_value_nonnegative',
           CAST(SUM(CASE WHEN value < 0 THEN 1 ELSE 0 END) AS BIGINT),
           SUM(CASE WHEN value < 0 THEN 1 ELSE 0 END) = 0
    FROM events
    UNION ALL
    SELECT 'documents_text_nonempty',
           CAST(SUM(CASE WHEN LENGTH(text) = 0 THEN 1 ELSE 0 END) AS BIGINT),
           SUM(CASE WHEN LENGTH(text) = 0 THEN 1 ELSE 0 END) = 0
    FROM documents
"""


@query("q_dq_checks", _DQ_ORACLE)
def q_dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Five-constraint data-quality suite in one job (see module
    docstring): primary-key uniqueness, referential integrity, not-null,
    and two domain checks, long-format output."""
    orders = load(spark, sf_dir, "orders")
    lineitem = load(spark, sf_dir, "lineitem")
    customer = load(spark, sf_dir, "customer")
    events = load(spark, sf_dir, "events")
    documents = load(spark, sf_dir, "documents")

    def check(name: str, viol):
        return viol.select(
            F.lit(name).alias("check_name"),
            F.col("n").cast("long").alias("n_violations"),
            (F.col("n") == 0).alias("passed"),
        )

    pk = check(
        "orders_pk_unique",
        orders.agg(
            (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("n")
        ),
    )
    fk = check(
        "lineitem_fk_orders",
        lineitem.select("l_orderkey")
        .join(
            orders.select("o_orderkey"),
            lineitem.l_orderkey == orders.o_orderkey,
            "left_anti",
        )
        .agg(F.count(F.lit(1)).alias("n")),
    )
    nn = check(
        "customer_key_not_null",
        customer.agg((F.count(F.lit(1)) - F.count("c_custkey")).alias("n")),
    )
    dom1 = check(
        "events_value_nonnegative",
        events.agg(
            F.sum(F.when(F.col("value") < 0, 1).otherwise(0)).alias("n")
        ),
    )
    dom2 = check(
        "documents_text_nonempty",
        documents.agg(
            F.sum(F.when(F.length("text") == 0, 1).otherwise(0)).alias("n")
        ),
    )
    return pk.unionByName(fk).unionByName(nn).unionByName(dom1).unionByName(dom2)


# ---------------------------------------------------------------------------
# Event-sequence transition statistics (first-order Markov model)
# ---------------------------------------------------------------------------

_MARKOV_ORACLE = """
    WITH ordered AS (
        SELECT user_id, event_type,
               LAG(event_type) OVER (
                   PARTITION BY user_id
                   ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_type
        FROM events
    ),
    pairs AS (
        SELECT prev_type AS cur, event_type AS next, COUNT(*) AS n
        FROM ordered WHERE prev_type IS NOT NULL
        GROUP BY 1, 2
    ),
    totals AS (SELECT cur, SUM(n) AS n_cur FROM pairs GROUP BY cur)
    SELECT p.cur, p.next, p.n,
           CAST(p.n AS DOUBLE) / t.n_cur AS prob
    FROM pairs p JOIN totals t USING (cur)
"""


@query("q_markov_transitions", _MARKOV_ORACLE)
def q_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over each user's event
    sequence — the bigram statistics a behavioral/sequence model (or a
    session simulator) trains on: P(next | cur) from per-user
    (ts, event_id)-ordered adjacent pairs.

    Scale shape: one user-keyed window for the lag (the corpus's only
    sort), then the matrix lives on a #types² frame — counts
    partial-aggregate, the row-normalizer joins a types-sized total
    back, and the probability is one division of identical integers, so
    the matrix hash-checks exactly.  Higher-order models change only
    the lag arity."""
    e = load(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    from pyspark.sql import Window

    order = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    pairs = (
        e.withColumn("cur", F.lag("event_type").over(order))
        .filter(F.col("cur").isNotNull())
        .groupBy("cur", F.col("event_type").alias("next"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    totals = pairs.groupBy("cur").agg(F.sum("n").alias("n_cur"))
    return pairs.join(F.broadcast(totals), "cur").select(
        "cur",
        "next",
        "n",
        (F.col("n").cast("double") / F.col("n_cur")).alias("prob"),
    )


# ---------------------------------------------------------------------------
# Winsorization — percentile clipping, the robust-scaling feature prep
# ---------------------------------------------------------------------------

_WINS_LO, _WINS_HI = 0.05, 0.95

_WINSORIZE_ORACLE = f"""
    WITH b AS (
        SELECT c_mktsegment,
               QUANTILE_CONT(c_acctbal, {_WINS_LO}) AS lo,
               QUANTILE_CONT(c_acctbal, {_WINS_HI}) AS hi
        FROM customer GROUP BY c_mktsegment
    )
    SELECT c_custkey, c.c_mktsegment,
           ROUND(LEAST(GREATEST(c_acctbal, lo), hi), 6) AS acctbal_w,
           c_acctbal < lo OR c_acctbal > hi AS clipped
    FROM customer c JOIN b ON c.c_mktsegment = b.c_mktsegment
"""


@query("q_winsorize", _WINSORIZE_ORACLE)
def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment winsorization: clip account balances to the
    segment's [p05, p95] — the standard robust-scaling prep before any
    magnitude-sensitive model sees a heavy-tailed column, with a
    `clipped` flag so downstream can audit how much mass the clamp
    moved.

    Exact percentiles (linear interpolation at rank (n-1)*p, the shared
    Spark `percentile` / DuckDB QUANTILE_CONT definition, same
    discipline as q_agg_percentile) computed in ONE partial-aggregating
    pass per segment, then joined back broadcast — the fact rows never
    shuffle.  At 100 TB the bounds side switches to approx_percentile
    (mergeable t-digest) and the join stays broadcast: #segments rows.
    LEAST/GREATEST are order-exact picks, no float synthesis beyond the
    shared interpolation."""
    c = load(spark, sf_dir, "customer")
    b = c.groupBy("c_mktsegment").agg(
        F.percentile("c_acctbal", _WINS_LO).alias("lo"),
        F.percentile("c_acctbal", _WINS_HI).alias("hi"),
    )
    return (
        c.join(F.broadcast(b), "c_mktsegment")
        .select(
            "c_custkey",
            "c_mktsegment",
            F.round(
                F.least(F.greatest(F.col("c_acctbal"), F.col("lo")), F.col("hi")), 6
            ).alias("acctbal_w"),
            ((F.col("c_acctbal") < F.col("lo")) | (F.col("c_acctbal") > F.col("hi"))).alias(
                "clipped"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Ordered funnel depth — ClickHouse's windowFunnel, warehouse-style
# ---------------------------------------------------------------------------

_FUNNEL_STEPS = ("signup", "click", "purchase")

_FUNNEL_ORACLE = """
    WITH t1 AS (
        SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS ts1
        FROM events WHERE event_type = 'signup' GROUP BY user_id
    ),
    t2 AS (
        SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS ts2
        FROM events e JOIN t1 ON e.user_id = t1.user_id
        WHERE e.event_type = 'click' AND CAST(e.ts AS TIMESTAMP) > t1.ts1
        GROUP BY e.user_id
    ),
    t3 AS (
        SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS ts3
        FROM events e JOIN t2 ON e.user_id = t2.user_id
        WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) > t2.ts2
        GROUP BY e.user_id
    )
    SELECT t1.user_id, t1.ts1,
           CAST(CASE WHEN ts3 IS NOT NULL THEN 3
                     WHEN ts2 IS NOT NULL THEN 2
                     ELSE 1 END AS BIGINT) AS funnel_depth
    FROM t1
    LEFT JOIN t2 ON t1.user_id = t2.user_id
    LEFT JOIN t3 ON t1.user_id = t3.user_id
"""


@query("q_window_funnel", _FUNNEL_ORACLE)
def q_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel depth per user (ClickHouse `windowFunnel`
    semantics, unbounded window): how far through
    signup -> click -> purchase did each signed-up user get, where each
    step must occur STRICTLY AFTER the earliest completion of the
    previous step?  Earliest-completion anchoring makes the answer
    deterministic and order-free (no "first matching path" ambiguity) —
    MIN timestamps are total-order picks.

    Scale shape: one step = one filtered partial aggregate keyed by
    user_id plus one user-keyed join — all three joins reuse the SAME
    hash partitioning (Catalyst plans one exchange per side, and the
    step frames are strictly shrinking: only users who reached step
    k-1 are scanned for step k).  No windows, no sorts, no per-user
    event arrays — at 100 TB the funnel is 3 shuffle-bounded passes,
    not a collect_list of each user's history."""
    e = load(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    t1 = (
        e.filter(F.col("event_type") == _FUNNEL_STEPS[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("ts1"))
    )
    t2 = (
        e.filter(F.col("event_type") == _FUNNEL_STEPS[1])
        .join(t1, "user_id")
        .filter(F.col("ts") > F.col("ts1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("ts2"))
    )
    t3 = (
        e.filter(F.col("event_type") == _FUNNEL_STEPS[2])
        .join(t2, "user_id")
        .filter(F.col("ts") > F.col("ts2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("ts3"))
    )
    return (
        t1.join(t2, "user_id", "left")
        .join(t3, "user_id", "left")
        .select(
            "user_id",
            "ts1",
            F.when(F.col("ts3").isNotNull(), 3)
            .when(F.col("ts2").isNotNull(), 2)
            .otherwise(1)
            .cast("long")
            .alias("funnel_depth"),
        )
    )


# ---------------------------------------------------------------------------
# Audience overlap — pairwise distinct-user intersection across segments
# ---------------------------------------------------------------------------

_OVERLAP_ORACLE = """
    WITH ut AS (SELECT DISTINCT user_id, event_type FROM events)
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared_users
    FROM ut a JOIN ut b
      ON a.user_id = b.user_id AND a.event_type < b.event_type
    GROUP BY 1, 2
"""


@query("q_audience_overlap", _OVERLAP_ORACLE)
def q_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise audience overlap: for every unordered pair of event
    types, how many distinct users did both — the segment-intersection
    matrix behind every "users who X also Y" dashboard.

    Plan: dedupe to (user, type) pairs FIRST (one user-keyed partial-
    aggregated distinct — at most #types rows survive per user), then
    self-join within user.  The join's per-key fan-out is bounded by
    #types² (a constant), never by the user's raw event count — the
    property that keeps this linear at 100 TB.  At very large type
    cardinalities the exact join gives way to one HLL register set per
    type and inclusion-exclusion (q_sketch_hll_partitioned's merge
    machinery)."""
    e = load(spark, sf_dir, "events")
    ut = e.select("user_id", "event_type").distinct()
    a = ut.alias("a")
    b = ut.alias("b")
    return (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared_users"))
    )


# ---------------------------------------------------------------------------
# Gaps-and-islands — longest consecutive-day activity streak per user
# ---------------------------------------------------------------------------

_STREAK_ORACLE = """
    WITH days AS (
        SELECT DISTINCT user_id,
               CAST(FLOOR(EPOCH(CAST(ts AS TIMESTAMP)) / 86400) AS BIGINT) AS d
        FROM events
    ),
    isl AS (
        SELECT user_id, d,
               d - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d)
                   AS island
        FROM days
    ),
    runs AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS len
        FROM isl GROUP BY user_id, island
    )
    SELECT user_id,
           MAX(len) AS max_streak_days,
           CAST(COUNT(*) AS BIGINT) AS n_streaks
    FROM runs GROUP BY user_id
"""


@query("q_streaks", _STREAK_ORACLE)
def q_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak (and streak count) per
    user — the canonical gaps-and-islands: distinct active days, then
    `day - row_number()` is constant within a consecutive run (each
    gap shifts it), so grouping by that difference labels islands with
    zero joins and zero iteration.

    Days are epoch floor-division (integer exact, the grid discipline).
    Scale shape: one user-keyed distinct (partial-aggregated), one
    window sort over the same partitioning (Catalyst reuses the
    exchange), two shrinking aggregates.  Per-user state is active
    DAYS, not raw events — bounded by the calendar, not the volume."""
    e = load(spark, sf_dir, "events")
    days = e.select(
        "user_id",
        F.floor(F.unix_timestamp("ts") / 86400).cast("long").alias("d"),
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    isl = days.select(
        "user_id", "d", (F.col("d") - F.row_number().over(w)).alias("island")
    )
    runs = isl.groupBy("user_id", "island").agg(F.count(F.lit(1)).alias("len"))
    return runs.groupBy("user_id").agg(
        F.max("len").alias("max_streak_days"),
        F.count(F.lit(1)).alias("n_streaks"),
    )


# ---------------------------------------------------------------------------
# RFM segmentation — recency/frequency/monetary quartile codes
# ---------------------------------------------------------------------------

_RFM_ORACLE = f"""
    WITH base AS (
        SELECT o_custkey AS custkey,
               MAX(o_orderdate) AS last_order,
               CAST(COUNT(*) AS BIGINT) AS frequency,
               {sql_sum("o_totalprice")} AS monetary
        FROM orders GROUP BY o_custkey
    )
    SELECT custkey, last_order, frequency, monetary,
           CAST(NTILE(4) OVER (ORDER BY last_order DESC, custkey) AS BIGINT)
               AS r_quartile,
           CAST(NTILE(4) OVER (ORDER BY frequency DESC, custkey) AS BIGINT)
               AS f_quartile,
           CAST(NTILE(4) OVER (ORDER BY monetary DESC, custkey) AS BIGINT)
               AS m_quartile
    FROM base
"""


@query("q_rfm_segmentation", _RFM_ORACLE)
def q_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation — the warehouse-marketing staple:
    per customer, recency (last order date), frequency (order count),
    monetary (lifetime spend, integer-exact via the numerics recipe),
    each scored into quartiles (1 = best).  Tie-break on custkey makes
    every NTILE assignment total-order deterministic across engines.

    Scale shape: one partial-aggregated groupBy collapses orders to one
    row per customer BEFORE any window; the three NTILEs then rank the
    #customers frame.  Global NTILE is a single-partition sort of the
    aggregate, fine at dimension cardinality."""
    o = load(spark, sf_dir, "orders")
    base = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        exact_sum("o_totalprice").alias("monetary"),
    )
    wr = Window.orderBy(F.desc("last_order"), F.asc("custkey"))
    wf = Window.orderBy(F.desc("frequency"), F.asc("custkey"))
    wm = Window.orderBy(F.desc("monetary"), F.asc("custkey"))
    return base.select(
        "custkey",
        "last_order",
        "frequency",
        "monetary",
        F.ntile(4).over(wr).cast("long").alias("r_quartile"),
        F.ntile(4).over(wf).cast("long").alias("f_quartile"),
        F.ntile(4).over(wm).cast("long").alias("m_quartile"),
    )


# ---------------------------------------------------------------------------
# Last-touch attribution — marketing analytics' bread-and-butter join
# ---------------------------------------------------------------------------

_ATTR_WINDOW_DAYS = 7

_ATTR_ORACLE = f"""
    WITH touches AS (
        SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type
        FROM events WHERE event_type IN ('click', 'purchase')
    ),
    carried AS (
        SELECT user_id, event_id, ts, event_type,
               LAST_VALUE(CASE WHEN event_type = 'click' THEN event_id END
                          IGNORE NULLS) OVER w AS last_click_id,
               LAST_VALUE(CASE WHEN event_type = 'click' THEN ts END
                          IGNORE NULLS) OVER w AS last_click_ts
        FROM touches
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING)
    )
    SELECT event_id AS purchase_id, user_id,
           CASE WHEN last_click_ts >= ts - INTERVAL {_ATTR_WINDOW_DAYS} DAYS
                THEN last_click_id END AS attributed_click_id,
           CASE WHEN last_click_ts >= ts - INTERVAL {_ATTR_WINDOW_DAYS} DAYS
                THEN EPOCH_US(ts) - EPOCH_US(last_click_ts) END AS gap_us
    FROM carried WHERE event_type = 'purchase'
"""


@query("q_attribution_last_touch", _ATTR_ORACLE)
def q_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch conversion attribution: each purchase is credited to
    the user's most recent click within a {D}-day lookback, NULL when
    the journey had no qualifying touch — the default attribution model
    every marketing warehouse ships first.

    Spelled as LOCF, not a join: clicks and purchases interleave in ONE
    user-keyed ordered window, the click id/ts carry forward
    (`last(..., ignorenulls)` over rows-unbounded-preceding), and
    purchase rows read the carried value — so there is no as-of join
    fan-out, no interval-join state, and ties break on the unique
    (ts, event_id) order identically in both engines.

    Scale shape: one shuffle on user_id shared by the window; the
    lookback is a post-filter on the carried timestamp (pure
    projection).  Journey length per user is unbounded but the window
    frame carries O(1) state (last click only) — this is the streaming
    SCD2 shape run as a batch window."""
    e = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    click_id = F.when(F.col("event_type") == "click", F.col("event_id"))
    click_ts = F.when(F.col("event_type") == "click", F.col("ts"))
    carried = e.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        F.last(click_id, ignorenulls=True).over(w).alias("last_click_id"),
        F.last(click_ts, ignorenulls=True).over(w).alias("last_click_ts"),
    )
    in_window = F.col("last_click_ts") >= F.col("ts") - F.expr(
        f"INTERVAL {_ATTR_WINDOW_DAYS} DAYS"
    )
    return carried.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.when(in_window, F.col("last_click_id")).alias("attributed_click_id"),
        F.when(
            in_window,
            F.unix_micros(F.col("ts")) - F.unix_micros(F.col("last_click_ts")),
        ).alias("gap_us"),
    )


# ---------------------------------------------------------------------------
# Snapshot diff — the "data diff" audit between two time windows
# ---------------------------------------------------------------------------

_SNAP_CUT = "1995-01-01"

_SNAP_DIFF_ORACLE = f"""
    WITH a AS (
        SELECT o_custkey AS k, CAST(COUNT(*) AS BIGINT) AS n,
               {sql_sum("o_totalprice")} AS spend
        FROM orders WHERE o_orderdate < DATE '{_SNAP_CUT}' GROUP BY o_custkey
    ),
    b AS (
        SELECT o_custkey AS k, CAST(COUNT(*) AS BIGINT) AS n,
               {sql_sum("o_totalprice")} AS spend
        FROM orders WHERE o_orderdate >= DATE '{_SNAP_CUT}' GROUP BY o_custkey
    ),
    j AS (
        SELECT COALESCE(a.k, b.k) AS k,
               CASE WHEN a.k IS NULL THEN 'added'
                    WHEN b.k IS NULL THEN 'removed'
                    WHEN a.n <> b.n OR a.spend <> b.spend THEN 'changed'
                    ELSE 'unchanged' END AS change_type,
               COALESCE(b.n, 0) - COALESCE(a.n, 0) AS dn
        FROM a FULL OUTER JOIN b ON a.k = b.k
    )
    SELECT change_type, CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(dn) AS BIGINT) AS net_order_delta
    FROM j GROUP BY change_type
"""


@query("q_snapshot_diff", _SNAP_DIFF_ORACLE)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed snapshot diff of the per-customer order rollup between two
    date windows — the data-diff audit every pipeline migration and
    backfill review runs ("what changed between yesterday's table and
    today's"): per customer key, classify added / removed / changed /
    unchanged, and report the class counts with the net order delta.

    Scale shape: both window predicates reach the parquet scan
    (partition pruning when the table is date-partitioned, as the 100 TB
    layout would be — q_sink_partitioned proves the layout side), each
    side partial-aggregates to one row per key BEFORE the single
    full-outer join on the key (the q_merge_cdc_delete compaction
    discipline), and the classification collapses to a ≤4-row frame.
    Spend compares use exact integer cents — a float diff would
    misclassify equal-but-reassociated sums as 'changed'."""
    o = load(spark, sf_dir, "orders")
    cut = F.lit(_SNAP_CUT).cast("date")

    def side(pred):
        return (
            o.filter(pred)
            .groupBy(F.col("o_custkey").alias("k"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                exact_sum("o_totalprice").alias("spend"),
            )
        )

    a = side(F.col("o_orderdate") < cut)
    b = side(F.col("o_orderdate") >= cut)
    j = a.alias("a").join(b.alias("b"), F.col("a.k") == F.col("b.k"), "full_outer")
    change = (
        F.when(F.col("a.k").isNull(), "added")
        .when(F.col("b.k").isNull(), "removed")
        .when(
            (F.col("a.n") != F.col("b.n")) | (F.col("a.spend") != F.col("b.spend")),
            "changed",
        )
        .otherwise("unchanged")
    )
    dn = F.coalesce(F.col("b.n"), F.lit(0)) - F.coalesce(F.col("a.n"), F.lit(0))
    return (
        j.select(change.alias("change_type"), dn.alias("dn"))
        .groupBy("change_type")
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum("dn").cast("bigint").alias("net_order_delta"),
        )
    )


# ---------------------------------------------------------------------------
# DAU / rolling-WAU stickiness — the engagement ratio on every dashboard
# ---------------------------------------------------------------------------

_WAU_DAYS = 7

_DAU_WAU_ORACLE = f"""
    WITH ud AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ),
    exp AS (
        SELECT user_id, d, d + CAST(r.i AS INTEGER) AS rd, r.i AS off
        FROM ud, UNNEST(RANGE(0, {_WAU_DAYS})) AS r(i)
    ),
    agg AS (
        SELECT rd,
               COUNT(DISTINCT CASE WHEN off = 0 THEN user_id END) AS dau,
               COUNT(DISTINCT user_id) AS wau
        FROM exp GROUP BY rd
    ),
    days AS (SELECT DISTINCT d FROM ud)
    SELECT CAST(rd - DATE '1970-01-01' AS BIGINT) AS day,
           CAST(dau AS BIGINT) AS dau, CAST(wau AS BIGINT) AS wau,
           CAST(dau AS DOUBLE) / wau AS stickiness
    FROM agg JOIN days ON rd = days.d
"""


@query("q_dau_wau", _DAU_WAU_ORACLE)
def q_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day DAU, rolling {_WAU_DAYS}-day WAU, and the DAU/WAU
    stickiness ratio — the engagement headline on every product
    dashboard, and the denominator discipline is the interesting part:
    a rolling COUNT DISTINCT has no partial-aggregable window form.

    The scale spelling is contribute-forward: the (user, day) activity
    rollup (tiny: users x active days, already deduped map-side)
    explodes each row to the {_WAU_DAYS} report days it supports, and
    one groupBy(report_day) counts distinct users — turning the rolling
    distinct into a plain keyed distinct over a ≤{_WAU_DAYS}x-rollup
    frame.  No window over raw events, no per-day re-scan, and the
    explode factor is the window length — a constant.  (The sketch
    alternative — per-day HLLs merged across the window,
    q_sketch_hll_partitioned's recipe — trades exactness for a 1x
    frame; this exact form IS the oracle for that swap.)  Report days
    keep only days with their own activity, so both engines agree on
    the grid without a calendar table."""
    e = load(spark, sf_dir, "events")
    ud = e.select("user_id", F.to_date("ts").alias("d")).distinct()
    days = ud.select("d").distinct()
    exp = ud.select(
        "user_id",
        "d",
        F.explode(F.sequence(F.lit(0), F.lit(_WAU_DAYS - 1))).alias("off"),
    ).select(
        "user_id",
        F.expr("date_add(d, off)").alias("rd"),
        "off",
    )
    agg = exp.groupBy("rd").agg(
        F.countDistinct(
            F.when(F.col("off") == 0, F.col("user_id"))
        ).alias("dau"),
        F.countDistinct("user_id").alias("wau"),
    )
    return agg.join(days, agg.rd == days.d).select(
        F.datediff(F.col("rd"), F.lit("1970-01-01").cast("date"))
        .cast("bigint")
        .alias("day"),
        F.col("dau").cast("bigint").alias("dau"),
        F.col("wau").cast("bigint").alias("wau"),
        (F.col("dau").cast("double") / F.col("wau")).alias("stickiness"),
    )


# ---------------------------------------------------------------------------
# Common event paths — lightweight sequential pattern mining
# ---------------------------------------------------------------------------

_PATH_LEN = 3
_PATH_TOPK = 5

_PATH_ORACLE = f"""
    WITH ordered AS (
        SELECT user_id, event_type,
               LEAD(event_type, 1) OVER w AS e2,
               LEAD(event_type, 2) OVER w AS e3
        FROM events
        WINDOW w AS (PARTITION BY user_id
                     ORDER BY CAST(ts AS TIMESTAMP), event_id)
    ),
    paths AS (
        SELECT event_type || ' > ' || e2 || ' > ' || e3 AS path,
               COUNT(*) AS n
        FROM ordered WHERE e3 IS NOT NULL
        GROUP BY 1
    )
    SELECT path, CAST(n AS BIGINT) AS n
    FROM (
        SELECT path, n, ROW_NUMBER() OVER (ORDER BY n DESC, path ASC) AS rk
        FROM paths
    ) WHERE rk <= {_PATH_TOPK}
"""


@query("q_event_paths", _PATH_ORACLE)
def q_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{_PATH_TOPK} most common {_PATH_LEN}-event paths across all
    user journeys — the lightweight sequential-pattern mine behind
    "users who do X then Y then Z" product questions (the full-blown
    PrefixSpan is rarely needed; consecutive-path counting answers the
    first-order version in one pass).

    Scale shape: two LEADs share ONE user-keyed window sort (Catalyst
    plans a single exchange + sort for both), path counting
    partial-aggregates map-side (hot paths collapse before the
    exchange, the q_ngram_lm discipline applied to event trigrams),
    and the final top-k runs over the paths rollup — bounded by
    distinct path strings, not events."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").cast("timestamp"), "event_id"
    )
    ordered = e.select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    )
    paths = (
        ordered.filter(F.col("e3").isNotNull())
        .select(
            F.concat_ws(" > ", "event_type", "e2", "e3").alias("path")
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wr = Window.orderBy(F.desc("n"), F.asc("path"))
    return (
        paths.withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") <= _PATH_TOPK)
        .select("path", F.col("n").cast("bigint").alias("n"))
    )


# ---------------------------------------------------------------------------
# Interval backlog — sweep-line over [order date, ship date)
# ---------------------------------------------------------------------------

_BACKLOG_ORACLE = """
    WITH iv AS (
        SELECT o.o_orderdate AS d0, l.l_shipdate AS d1
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    deltas AS (
        SELECT d, CAST(SUM(x) AS BIGINT) AS dx FROM (
            SELECT d0 AS d, 1 AS x FROM iv
            UNION ALL
            SELECT d1 AS d, -1 AS x FROM iv
        ) GROUP BY d
    )
    SELECT CAST(CAST(d AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
           CAST(dx AS BIGINT) AS delta,
           CAST(SUM(dx) OVER (ORDER BY d) AS BIGINT) AS open_lineitems
    FROM deltas
"""


@query("q_backlog_intervals", _BACKLOG_ORACLE)
def q_backlog_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fulfillment backlog over time: for every boundary day, how many
    lineitems are ordered but not yet shipped (the interval
    [o_orderdate, l_shipdate) stabbing count) — ops' "how deep is the
    queue" curve, and THE shape every concurrent-intervals question
    (open sessions, active loans, beds occupied) reduces to.

    Sweep-line, not interval join: each interval becomes +1 at its
    start day and -1 at its end day, deltas partial-aggregate to one
    row per DAY (calendar-bounded — the equidepth rollup discipline),
    and one cumulative window over that tiny ordered frame yields the
    concurrency curve.  The naive days x intervals range join this
    replaces is quadratic-adjacent at 100 TB; the sweep is one keyed
    join (lineitem->orders, both huge: a shuffle join on the order
    key), one union, one day-keyed partial agg, one window over
    ~2 500 rows.  Exact integers end to end."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    iv = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("o_orderdate").alias("d0"), F.col("l_shipdate").alias("d1")
    )
    deltas = (
        iv.select(F.col("d0").alias("d"), F.lit(1).alias("x"))
        .unionAll(iv.select(F.col("d1").alias("d"), F.lit(-1).alias("x")))
        .groupBy("d")
        .agg(F.sum("x").cast("bigint").alias("dx"))
    )
    wcum = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    return deltas.select(
        F.datediff(F.col("d"), F.lit("1970-01-01").cast("date"))
        .cast("bigint")
        .alias("day"),
        F.col("dx").alias("delta"),
        F.sum("dx").over(wcum).cast("bigint").alias("open_lineitems"),
    )


# ---------------------------------------------------------------------------
# First-touch attribution — the acquisition-side twin of last-touch
# ---------------------------------------------------------------------------

_FT_ORACLE = f"""
    WITH touches AS (
        SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type
        FROM events WHERE event_type IN ('click', 'purchase')
    ),
    carried AS (
        SELECT user_id, event_id, ts, event_type,
               FIRST_VALUE(CASE WHEN event_type = 'click' THEN event_id END
                           IGNORE NULLS) OVER w AS first_click_id,
               FIRST_VALUE(CASE WHEN event_type = 'click' THEN ts END
                           IGNORE NULLS) OVER w AS first_click_ts
        FROM touches
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING)
    )
    SELECT event_id AS purchase_id, user_id,
           CASE WHEN first_click_ts >= ts - INTERVAL {_ATTR_WINDOW_DAYS} DAYS
                THEN first_click_id END AS attributed_click_id,
           CASE WHEN first_click_ts >= ts - INTERVAL {_ATTR_WINDOW_DAYS} DAYS
                THEN EPOCH_US(ts) - EPOCH_US(first_click_ts) END AS gap_us
    FROM carried WHERE event_type = 'purchase'
"""


@query("q_attribution_first_touch", _FT_ORACLE)
def q_attribution_first_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch attribution: each purchase credited to the user's
    EARLIEST click within the {D}-day lookback — the acquisition-side
    model run next to last-touch (q_attribution_last_touch) in every
    channel report; the two bracket where multi-touch models land.

    Same zero-join LOCF spelling and the same single user-keyed window
    shuffle — FIRST_VALUE IGNORE NULLS over rows-unbounded-preceding
    carries O(1) state exactly like last(); the lookback stays a
    post-filter projection."""
    e = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    click_id = F.when(F.col("event_type") == "click", F.col("event_id"))
    click_ts = F.when(F.col("event_type") == "click", F.col("ts"))
    carried = e.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        F.first(click_id, ignorenulls=True).over(w).alias("first_click_id"),
        F.first(click_ts, ignorenulls=True).over(w).alias("first_click_ts"),
    )
    in_window = F.col("first_click_ts") >= F.col("ts") - F.expr(
        f"INTERVAL {_ATTR_WINDOW_DAYS} DAYS"
    )
    return carried.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.when(in_window, F.col("first_click_id")).alias("attributed_click_id"),
        F.when(
            in_window,
            (
                F.unix_micros(F.col("ts"))
                - F.unix_micros(F.col("first_click_ts"))
            ),
        ).alias("gap_us"),
    )


# ---------------------------------------------------------------------------
# Growth accounting — new / retained / resurrected / churned per day
# ---------------------------------------------------------------------------

_GROWTH_ORACLE = """
    WITH ud AS (
        SELECT DISTINCT user_id,
               CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d
        FROM events
    ),
    seq AS (
        SELECT user_id, d,
               MIN(d) OVER (PARTITION BY user_id) AS first_d,
               LAG(d) OVER (PARTITION BY user_id ORDER BY d) AS prev_d,
               LEAD(d) OVER (PARTITION BY user_id ORDER BY d) AS next_d
        FROM ud
    ),
    active AS (
        SELECT d AS day,
               CASE WHEN d = first_d THEN 'new'
                    WHEN prev_d = d - 1 THEN 'retained'
                    ELSE 'resurrected' END AS cls
        FROM seq
    ),
    churn AS (
        SELECT d + 1 AS day, 'churned' AS cls
        FROM seq
        WHERE (next_d IS NULL OR next_d > d + 1)
          AND d + 1 <= (SELECT MAX(d) FROM ud)
    ),
    ev AS (SELECT * FROM active UNION ALL SELECT * FROM churn)
    SELECT day, cls, CAST(COUNT(*) AS BIGINT) AS n
    FROM ev GROUP BY day, cls
"""


@query("q_growth_accounting", _GROWTH_ORACLE)
def q_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily growth accounting: every active user classified as new
    (first day ever), retained (active the previous day) or resurrected
    (returning after a gap), plus churned (active the previous day,
    absent today) — the decomposition behind "DAU grew, but is that
    acquisition or resurrection?", and the standard growth-team ledger
    (DAU(d) = new + retained + resurrected; DAU(d-1) = retained(d) +
    churned(d), which is the invariant the test pins).

    Scale shape: the corpus collapses to the (user, day) rollup first
    (one distinct shuffle), then ONE user-keyed window sort serves
    MIN/LAG/LEAD together (single exchange), classification is a
    projection, and the ledger is a (days x 4)-sized partial agg.
    Churn needs no self-join: a user's absence tomorrow is visible in
    today's LEAD."""
    e = load(spark, sf_dir, "events")
    ud = e.select(
        "user_id",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
        .cast("bigint")
        .alias("d"),
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    wall = Window.partitionBy("user_id")
    seq = ud.select(
        "user_id",
        "d",
        F.min("d").over(wall).alias("first_d"),
        F.lag("d").over(w).alias("prev_d"),
        F.lead("d").over(w).alias("next_d"),
    )
    # one pass over `seq`: each (user, day) row emits its activity
    # class, plus a churned row for day d+1 when the user goes absent —
    # the union-of-two-projections spelling re-ran the window sort per
    # branch (r13 optimization, guide §2.4; same rows, same values)
    max_d = ud.agg(F.max("d").alias("max_d"))
    cls = (
        F.when(F.col("d") == F.col("first_d"), "new")
        .when(F.col("prev_d") == F.col("d") - 1, "retained")
        .otherwise("resurrected")
    )
    churns = F.when(
        (F.col("next_d").isNull() | (F.col("next_d") > F.col("d") + 1))
        & (F.col("d") + 1 <= F.col("max_d")),
        F.array(
            F.struct((F.col("d") + 1).alias("day"), F.lit("churned").alias("cls"))
        ),
    ).otherwise(F.array().cast("array<struct<day:bigint,cls:string>>"))
    rows = (
        seq.crossJoin(F.broadcast(max_d))
        .select(
            F.explode(
                F.concat(
                    F.array(
                        F.struct(F.col("d").alias("day"), cls.alias("cls"))
                    ),
                    churns,
                )
            ).alias("r")
        )
        .select("r.day", "r.cls")
    )
    return rows.groupBy("day", "cls").agg(F.count(F.lit(1)).alias("n"))


# ---------------------------------------------------------------------------
# Time-decayed engagement score — the feature-store staple
# ---------------------------------------------------------------------------

_DECAY_ORACLE = """
    WITH ref AS (SELECT MAX(CAST(ts AS DATE)) AS ref_d FROM events),
    aged AS (
        SELECT user_id,
               CAST(value * 1000000 AS DECIMAL(38,0)) AS vq,
               DATEDIFF('day', CAST(ts AS DATE), ref_d) AS age_days
        FROM events CROSS JOIN ref
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MIN(age_days) AS BIGINT) AS last_seen_days,
           CAST(SUM(vq * (1000000 // (1 + age_days))) AS DOUBLE)
               / 1000000000000.0 AS decay_score
    FROM aged
    GROUP BY user_id
"""


@query("q_user_decay_score", _DECAY_ORACLE)
def q_user_decay_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user time-decayed engagement: sum of event values weighted by
    hyperbolic age decay 1/(1 + age_days) against the corpus's newest
    event day — the recency-weighted activity feature every churn /
    ranking feature store materializes (recent engagement counts full,
    last year's counts ~1/365th).

    Hyperbolic rather than exponential ON PURPOSE: the decay becomes an
    integer floor division (1e6 div (1+age)), so the whole score is the
    numerics-module recipe end to end — 6-dp-exact value integers times
    integer decay weights, summed in DECIMAL(38,0), ONE double division
    at the end.  An exp(-λ·age) spelling would put libm exp() in both
    engines and hand the hash-compare a transcendental to disagree on.

    Scale shape: one broadcast scalar (the ref date), then one
    map-side-combining groupBy(user_id) over the event scan — no
    window, no join, the flattest feature-extraction shape there is."""
    e = load(spark, sf_dir, "events")
    ref = e.agg(F.max(F.to_date("ts")).alias("ref_d"))
    aged = e.crossJoin(F.broadcast(ref)).select(
        "user_id",
        (F.col("value") * 1_000_000).cast("decimal(38,0)").alias("vq"),
        F.datediff(F.col("ref_d"), F.to_date("ts")).alias("age_days"),
    )
    return aged.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.min("age_days").cast("bigint").alias("last_seen_days"),
        (
            F.sum(F.col("vq") * F.expr("1000000 div (1 + age_days)"))
            .cast("double")
            / F.lit(1_000_000_000_000.0)
        ).alias("decay_score"),
    )


# ---------------------------------------------------------------------------
# Market-basket pair mining — co-ordered parts with support and lift
# ---------------------------------------------------------------------------

_MB_MIN_CO = 2  # minimum co-order count (support floor)

_MB_ORACLE = f"""
    WITH lines AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ),
    n AS (SELECT COUNT(DISTINCT o) AS n_orders FROM lines),
    c1 AS (SELECT p, COUNT(*) AS c FROM lines GROUP BY p),
    co AS (
        SELECT a.p AS part_a, b.p AS part_b, COUNT(*) AS n_co
        FROM lines a JOIN lines b ON a.o = b.o AND a.p < b.p
        GROUP BY 1, 2
        HAVING COUNT(*) >= {_MB_MIN_CO}
    )
    SELECT part_a, part_b, CAST(n_co AS BIGINT) AS n_co,
           ROUND(CAST(n_co AS DOUBLE) / n_orders, 6) AS support,
           ROUND(CAST(n_co * n_orders AS DOUBLE) / (ca.c * cb.c), 6) AS lift
    FROM co
    JOIN c1 ca ON part_a = ca.p
    JOIN c1 cb ON part_b = cb.p
    CROSS JOIN n
"""


@query("q_market_basket", _MB_ORACLE)
def q_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent co-ordered part pairs with support and lift (Agrawal &
    Srikant 1994's pair pass, the one every basket analysis actually
    ships): pairs of parts appearing in >= {_MB_MIN_CO} common orders,
    scored by lift = P(a,b) / (P(a)·P(b)) — lift > 1 marks genuinely
    associated parts, not merely popular ones.

    Scale shape: the pair generator self-joins the DISTINCT (order,
    part) lines on the ORDER key, so fan-out per order is C(k,2) of its
    own line count — bounded by order size (TPC-H ~4-7 lines), never by
    catalog or corpus size; the join shuffles on o and the pair count
    partial-aggregates map-side.  Lift's denominators join on the
    (catalog-sized) per-part counts.  Both ratios are single correctly-
    rounded double divisions of exact integers (the PMI/tfidf
    discipline), so the 6-dp rounding is engine-identical."""
    li = load(spark, sf_dir, "lineitem")
    lines = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    from ..session import pin as _pin

    lines = _pin(lines)  # pair join + both count frames read it
    n = lines.agg(F.countDistinct("o").alias("n_orders"))
    c1 = lines.groupBy("p").agg(F.count(F.lit(1)).alias("c"))
    a, b = lines.alias("a"), lines.alias("b")
    co = (
        a.join(b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")))
        .groupBy(F.col("a.p").alias("part_a"), F.col("b.p").alias("part_b"))
        .agg(F.count(F.lit(1)).alias("n_co"))
        .filter(F.col("n_co") >= _MB_MIN_CO)
    )
    ca = c1.select(F.col("p").alias("part_a"), F.col("c").alias("ca"))
    cb = c1.select(F.col("p").alias("part_b"), F.col("c").alias("cb"))
    return (
        co.join(ca, "part_a")
        .join(cb, "part_b")
        .crossJoin(F.broadcast(n))
        .select(
            "part_a",
            "part_b",
            F.col("n_co").cast("bigint").alias("n_co"),
            F.round(
                F.col("n_co").cast("double") / F.col("n_orders"), 6
            ).alias("support"),
            F.round(
                (F.col("n_co") * F.col("n_orders")).cast("double")
                / (F.col("ca") * F.col("cb")),
                6,
            ).alias("lift"),
        )
    )


# ---------------------------------------------------------------------------
# Time-to-convert distribution — the funnel's latency histogram
# ---------------------------------------------------------------------------
#
# q_window_funnel answers "how FAR did each user get"; the growth
# question next to it is "how LONG does conversion take".  For every
# user, latency = first purchase AFTER the first view, minus that first
# view; the deliverable is the hour-bucketed latency histogram (the
# curve product teams read conversion windows off).
#
# Scale shape: two user-keyed partial aggregates (first view, first
# qualifying purchase) and ONE user-keyed join between them — both
# sides pre-shrunk by their event_type scan filters, bucket rollup is
# map-side combined.  No windows, no sorts, exact integer microseconds
# end to end.

_TTC_ORACLE = """
    WITH v AS (
        SELECT user_id, MIN(EPOCH_US(CAST(ts AS TIMESTAMP))) AS v_us
        FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    p AS (
        SELECT e.user_id, MIN(EPOCH_US(CAST(e.ts AS TIMESTAMP))) AS p_us
        FROM events e JOIN v USING (user_id)
        WHERE e.event_type = 'purchase'
          AND EPOCH_US(CAST(e.ts AS TIMESTAMP)) > v.v_us
        GROUP BY e.user_id
    )
    SELECT CAST((p_us - v_us) // 3600000000 AS BIGINT) AS lat_hours,
           COUNT(*) AS n_users,
           CAST(MIN(p_us - v_us) AS BIGINT) AS min_lat_us,
           CAST(MAX(p_us - v_us) AS BIGINT) AS max_lat_us
    FROM p JOIN v USING (user_id)
    GROUP BY 1
"""


@query("q_funnel_time_to_convert", _TTC_ORACLE)
def q_funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-bucketed view→purchase conversion-latency histogram (see
    block comment): first purchase strictly after the first view, per
    user; two partial aggs + one user-keyed join."""
    e = load(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros(F.col("ts").cast("timestamp")).alias("us")
    )
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("us").alias("v_us"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.col("us") > F.col("v_us"))
        .groupBy("user_id")
        .agg(F.min("us").alias("p_us"), F.first("v_us").alias("v_us"))
    )
    lat = F.col("p_us") - F.col("v_us")
    return p.groupBy(
        F.floor(lat / F.lit(3_600_000_000)).cast("bigint").alias("lat_hours")
    ).agg(
        F.count(F.lit(1)).alias("n_users"),
        F.min(lat).cast("bigint").alias("min_lat_us"),
        F.max(lat).cast("bigint").alias("max_lat_us"),
    )


# ---------------------------------------------------------------------------
# A/B test evaluation — deterministic two-proportion z-test
# ---------------------------------------------------------------------------
#
# The experimentation primitive every event pipeline ends at: users are
# split into two arms by a deterministic id function (here user_id
# parity — in production a salted hash, same shape), the conversion
# metric is "ever purchased", and the readout is the pooled
# two-proportion z statistic.  All counts are integers; every float op
# (three divisions, two multiplies, one correctly-rounded sqrt) is a
# single IEEE-754 operation mirrored in the same association order in
# the oracle, with one final 6 dp rounding — the cross-engine float
# discipline used module-wide.
#
# Scale shape: one user-keyed partial agg (map-side combined) collapses
# the corpus to one row per user; one 2-row arm rollup; the z frame is
# a 1-row aggregate broadcast back onto the 2-row result.  No windows,
# no sorts, no corpus-sized shuffle beyond the user-keyed agg.

_AB_CONV_MIN = 14  # converted = at least this many purchase events

_AB_ORACLE = f"""
    WITH per_user AS (
        SELECT user_id,
               CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
               CASE WHEN COUNT(CASE WHEN event_type = 'purchase' THEN 1 END)
                         >= {_AB_CONV_MIN} THEN 1 ELSE 0 END AS conv
        FROM events GROUP BY user_id
    ),
    arms AS (
        SELECT arm, COUNT(*) AS n, SUM(conv) AS c
        FROM per_user GROUP BY arm
    ),
    z AS (
        -- NULL when an arm is empty or the pooled rate is degenerate
        -- (0 or 1): the statistic is undefined, not a 0/0 NaN
        SELECT CASE WHEN na IS NULL OR nb IS NULL
                         OR ca + cb = 0 OR ca + cb = na + nb THEN NULL
               ELSE ROUND(
            (CAST(ca AS DOUBLE) / na - CAST(cb AS DOUBLE) / nb)
            / SQRT(
                (CAST(ca + cb AS DOUBLE) / (na + nb))
                * (1.0 - CAST(ca + cb AS DOUBLE) / (na + nb))
                * (1.0 / na + 1.0 / nb)
            ), 6) END AS z
        FROM (
            SELECT SUM(CASE WHEN arm = 'A' THEN n END) AS na,
                   SUM(CASE WHEN arm = 'A' THEN c END) AS ca,
                   SUM(CASE WHEN arm = 'B' THEN n END) AS nb,
                   SUM(CASE WHEN arm = 'B' THEN c END) AS cb
            FROM arms
        )
    )
    SELECT arm,
           CAST(n AS BIGINT) AS n_users,
           CAST(c AS BIGINT) AS n_converted,
           ROUND(CAST(c AS DOUBLE) / n, 6) AS conv_rate,
           z.z AS z_score
    FROM arms CROSS JOIN z
"""


@query("q_ab_ztest", _AB_ORACLE)
def q_ab_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-arm A/B conversion readout with the pooled two-proportion
    z statistic (see block comment for the float discipline)."""
    e = load(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        (
            F.count(F.when(F.col("event_type") == "purchase", F.lit(1)))
            >= _AB_CONV_MIN
        ).cast("int").alias("conv")
    )
    arms = per_user.select(
        F.when(F.col("user_id") % 2 == 0, "A").otherwise("B").alias("arm"),
        "conv",
    ).groupBy("arm").agg(
        F.count(F.lit(1)).alias("n"), F.sum("conv").alias("c")
    )
    g = arms.agg(
        F.sum(F.when(F.col("arm") == "A", F.col("n"))).alias("na"),
        F.sum(F.when(F.col("arm") == "A", F.col("c"))).alias("ca"),
        F.sum(F.when(F.col("arm") == "B", F.col("n"))).alias("nb"),
        F.sum(F.when(F.col("arm") == "B", F.col("c"))).alias("cb"),
    )
    pooled = (F.col("ca") + F.col("cb")).cast("double") / (
        F.col("na") + F.col("nb")
    )
    z = g.select(
        F.when(
            F.col("na").isNotNull()
            & F.col("nb").isNotNull()
            & (F.col("ca") + F.col("cb") > 0)
            & (F.col("ca") + F.col("cb") < F.col("na") + F.col("nb")),
            F.round(
                (
                    F.col("ca").cast("double") / F.col("na")
                    - F.col("cb").cast("double") / F.col("nb")
                )
                / F.sqrt(
                    pooled
                    * (F.lit(1.0) - pooled)
                    * (F.lit(1.0) / F.col("na") + F.lit(1.0) / F.col("nb"))
                ),
                6,
            ),
        ).alias("z_score")
    )
    return arms.crossJoin(F.broadcast(z)).select(
        "arm",
        F.col("n").cast("bigint").alias("n_users"),
        F.col("c").cast("bigint").alias("n_converted"),
        F.round(F.col("c").cast("double") / F.col("n"), 6).alias("conv_rate"),
        "z_score",
    )


# ---------------------------------------------------------------------------
# Activity concentration — the Gini coefficient of per-user event counts
# ---------------------------------------------------------------------------

_GINI_ORACLE = """
    WITH per_user AS (
        SELECT user_id, COUNT(*) AS c FROM events GROUP BY user_id
    ),
    hist AS (SELECT c AS k, COUNT(*) AS m FROM per_user GROUP BY c),
    cum AS (
        SELECT k, m,
               COALESCE(SUM(m) OVER (ORDER BY k
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cum_before
        FROM hist
    ),
    s AS (
        SELECT SUM(m) AS n, SUM(m * k) AS tot,
               SUM(k::HUGEINT * (2 * m::HUGEINT * cum_before::HUGEINT
                                 + m::HUGEINT * (m + 1))) AS r2
        FROM cum
    )
    SELECT CAST(n AS BIGINT) AS n_users,
           CAST(tot AS BIGINT) AS n_events,
           ROUND(CAST(r2 AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(tot AS DOUBLE))
                 - CAST(n + 1 AS DOUBLE) / CAST(n AS DOUBLE), 6) AS gini
    FROM s
    WHERE n > 0
"""


@query("q_gini_concentration", _GINI_ORACLE)
def q_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-user activity — the one-number answer to
    "how concentrated is traffic on heavy users?" that capacity planning
    and abuse triage both start from (0 = uniform, ->1 = one whale).

    Determinism: for ascending-sorted counts the textbook statistic is
    G = (2 * sum_i i*x_i) / (n * sum_i x_i) - (n+1)/n.  Grouping the
    sort by DISTINCT count value k (multiplicity m_k, users below
    cum_k), the rank-weighted sum collapses exactly to
    sum_k k * (2*m_k*cum_k + m_k*(m_k+1)) — every factor an integer, so
    both engines sum identical integers (decimal/HUGEINT, no overflow)
    and the result is two IEEE divisions + one round.

    Scale shape: one user-keyed map-side-combined count, then a
    count-of-counts histogram whose domain is DISTINCT activity levels
    (<< corpus; bounded by max per-user activity).  The only ordered
    window runs over that bounded histogram — the q_eval_auc
    discipline — never over users."""
    e = load(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("c"))
    hist = per_user.groupBy(F.col("c").alias("k")).agg(
        F.count(F.lit(1)).alias("m")
    )
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, -1)
    cum = hist.select(
        "k", "m", F.coalesce(F.sum("m").over(w), F.lit(0)).alias("cum_before")
    )
    dec = "decimal(38,0)"
    s = cum.agg(
        F.sum("m").alias("n"),
        F.sum(F.col("m") * F.col("k")).alias("tot"),
        F.sum(
            F.col("k").cast(dec)
            * (
                2 * F.col("m").cast(dec) * F.col("cum_before").cast(dec)
                + F.col("m").cast(dec) * (F.col("m") + 1)
            )
        ).alias("r2"),
    )
    # an empty events table makes n = 0 (0/0: Spark NULL vs DuckDB NaN) —
    # both engines return zero rows instead (oracle mirrors with WHERE n > 0)
    return s.filter(F.col("n") > 0).select(
        F.col("n").cast("bigint").alias("n_users"),
        F.col("tot").cast("bigint").alias("n_events"),
        F.round(
            F.col("r2").cast("double")
            / (F.col("n").cast("double") * F.col("tot").cast("double"))
            - (F.col("n") + 1).cast("double") / F.col("n").cast("double"),
            6,
        ).alias("gini"),
    )


# ---------------------------------------------------------------------------
# Item-item collaborative-filtering cosine over user co-occurrence
# ---------------------------------------------------------------------------

_ITEM_CF_ORACLE = """
    WITH uv AS (
        SELECT user_id, event_type, COUNT(*) AS v
        FROM events GROUP BY user_id, event_type
    ),
    pairs AS (
        SELECT a.event_type AS item_x, b.event_type AS item_y,
               COUNT(*) AS n_cousers, SUM(a.v * b.v) AS dot
        FROM uv a JOIN uv b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY 1, 2
    ),
    norms AS (SELECT event_type, SUM(v * v) AS ss FROM uv GROUP BY event_type)
    SELECT item_x, item_y,
           CAST(n_cousers AS BIGINT) AS n_cousers,
           CAST(dot AS BIGINT) AS dot,
           ROUND(CAST(dot AS DOUBLE)
                 / SQRT(CAST(nx.ss AS DOUBLE) * CAST(ny.ss AS DOUBLE)),
                 6) AS cosine
    FROM pairs
    JOIN norms nx ON pairs.item_x = nx.event_type
    JOIN norms ny ON pairs.item_y = ny.event_type
"""


@query("q_item_cf_cosine", _ITEM_CF_ORACLE)
def q_item_cf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative-filtering similarity: cosine between
    event types, each viewed as a count vector over users (the
    Sarwar et al. 2001 item-kNN building block; here items = the
    event-type catalog).

    Determinism: per-(user,item) counts are exact integers; the dot
    product and the squared norms are integer sums (decimal-exact),
    and cosine is one double division against SQRT of a double product
    written identically in both engines.

    Scale shape: one (user,item)-keyed map-side-combined count, then a
    SINGLE user-keyed self-join whose per-user fan-out is bounded by
    C(|catalog-per-user|, 2) — never user x user.  Norms reuse the same
    aggregate; the final joins run on the catalog-sized pair frame."""
    e = load(spark, sf_dir, "events")
    uv = pin(
        e.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("v"))
    )
    a = uv.select(
        "user_id", F.col("event_type").alias("item_x"), F.col("v").alias("va")
    )
    b = uv.select(
        "user_id", F.col("event_type").alias("item_y"), F.col("v").alias("vb")
    )
    pairs = (
        a.join(b, "user_id")
        .where(F.col("item_x") < F.col("item_y"))
        .groupBy("item_x", "item_y")
        .agg(
            F.count(F.lit(1)).alias("n_cousers"),
            F.sum(F.col("va") * F.col("vb")).alias("dot"),
        )
    )
    norms = uv.groupBy("event_type").agg(
        F.sum(F.col("v") * F.col("v")).alias("ss")
    )
    nx = norms.select(F.col("event_type").alias("item_x"), F.col("ss").alias("ssx"))
    ny = norms.select(F.col("event_type").alias("item_y"), F.col("ss").alias("ssy"))
    return (
        pairs.join(F.broadcast(nx), "item_x")
        .join(F.broadcast(ny), "item_y")
        .select(
            "item_x",
            "item_y",
            F.col("n_cousers").cast("bigint").alias("n_cousers"),
            F.col("dot").cast("bigint").alias("dot"),
            F.round(
                F.col("dot").cast("double")
                / F.sqrt(F.col("ssx").cast("double") * F.col("ssy").cast("double")),
                6,
            ).alias("cosine"),
        )
    )


# ---------------------------------------------------------------------------
# Chi-square independence test over co-ordered part pairs — the
# significance layer on top of q_market_basket's lift
# ---------------------------------------------------------------------------

_CHI2_CRIT = 3.841  # 95th percentile of chi-square with 1 dof

_BASKET_CHI2_ORACLE = f"""
    WITH lines AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ),
    n AS (SELECT COUNT(DISTINCT o) AS n_orders FROM lines),
    c1 AS (SELECT p, COUNT(*) AS c FROM lines GROUP BY p),
    co AS (
        SELECT a.p AS part_a, b.p AS part_b, COUNT(*) AS n_co
        FROM lines a JOIN lines b ON a.o = b.o AND a.p < b.p
        GROUP BY 1, 2
        HAVING COUNT(*) >= {_MB_MIN_CO}
    )
    SELECT part_a, part_b, CAST(n_co AS BIGINT) AS n_co,
           ROUND(CAST(n_orders AS DOUBLE)
                 * (CAST(n_co AS DOUBLE) * (n_orders - ca.c - cb.c + n_co)
                    - CAST(ca.c - n_co AS DOUBLE) * (cb.c - n_co))
                 * (CAST(n_co AS DOUBLE) * (n_orders - ca.c - cb.c + n_co)
                    - CAST(ca.c - n_co AS DOUBLE) * (cb.c - n_co))
                 / (CAST(ca.c AS DOUBLE) * (n_orders - ca.c)
                    * CAST(cb.c AS DOUBLE) * (n_orders - cb.c)), 6) AS chi2,
           (CAST(n_orders AS DOUBLE)
                 * (CAST(n_co AS DOUBLE) * (n_orders - ca.c - cb.c + n_co)
                    - CAST(ca.c - n_co AS DOUBLE) * (cb.c - n_co))
                 * (CAST(n_co AS DOUBLE) * (n_orders - ca.c - cb.c + n_co)
                    - CAST(ca.c - n_co AS DOUBLE) * (cb.c - n_co))
                 / (CAST(ca.c AS DOUBLE) * (n_orders - ca.c)
                    * CAST(cb.c AS DOUBLE) * (n_orders - cb.c)))
               > {_CHI2_CRIT} AS significant
    FROM co
    JOIN c1 ca ON co.part_a = ca.p
    JOIN c1 cb ON co.part_b = cb.p
    CROSS JOIN n
    WHERE ca.c < n_orders AND cb.c < n_orders
"""


@query("q_basket_chi2", _BASKET_CHI2_ORACLE)
def q_basket_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square independence test (1 dof) for every
    co-ordered part pair — the significance gate q_market_basket's lift
    needs before anyone acts on it: lift > 1 on 3 co-orders is noise;
    chi2 > 3.841 says the association clears 95% against the
    independence null.  The 2x2 table per pair is (a=both, b=A-only,
    c=B-only, d=neither), all derived from n_co / per-part counts / N —
    no fourth scan for 'neither'.

    Determinism: every cell is an exact integer; chi2 =
    N(ad-bc)^2 / (ca(N-ca) cb(N-cb)) is the SAME double expression tree
    in both engines (products of integer-valued doubles, one division),
    rounded at 6 dp; the significance flag compares the unrounded
    value.

    Scale shape: identical to q_market_basket — distinct lines pinned
    once, pair fan-out C(order size, 2) via the order-keyed self-join,
    catalog-sized count joins, one broadcast scalar N."""
    li = load(spark, sf_dir, "lineitem")
    lines = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    lines = pin(lines)
    n = lines.agg(F.countDistinct("o").alias("n_orders"))
    c1 = lines.groupBy("p").agg(F.count(F.lit(1)).alias("c"))
    a, b = lines.alias("a"), lines.alias("b")
    co = (
        a.join(b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")))
        .groupBy(F.col("a.p").alias("part_a"), F.col("b.p").alias("part_b"))
        .agg(F.count(F.lit(1)).alias("n_co"))
        .filter(F.col("n_co") >= _MB_MIN_CO)
    )
    ca = c1.select(F.col("p").alias("part_a"), F.col("c").alias("ca"))
    cb = c1.select(F.col("p").alias("part_b"), F.col("c").alias("cb"))
    # a part in EVERY distinct order makes the chi2 denominator
    # ca*(N-ca)*cb*(N-cb) zero (Spark NULL vs DuckDB inf/NaN) — such a
    # part carries no association information anyway, so both engines
    # exclude it (oracle mirrors with WHERE c < n_orders)
    j = (
        co.join(ca, "part_a")
        .join(cb, "part_b")
        .crossJoin(F.broadcast(n))
        .filter((F.col("ca") < F.col("n_orders")) & (F.col("cb") < F.col("n_orders")))
    )
    nn, nco = F.col("n_orders"), F.col("n_co")
    cca, ccb = F.col("ca"), F.col("cb")
    det = (
        nco.cast("double") * (nn - cca - ccb + nco)
        - (cca - nco).cast("double") * (ccb - nco)
    )
    chi2 = (
        nn.cast("double")
        * det
        * det
        / (
            cca.cast("double") * (nn - cca)
            * ccb.cast("double") * (nn - ccb)
        )
    )
    return j.select(
        "part_a",
        "part_b",
        nco.cast("bigint").alias("n_co"),
        F.round(chi2, 6).alias("chi2"),
        (chi2 > _CHI2_CRIT).alias("significant"),
    )


# ---------------------------------------------------------------------------
# Churn hazard — discrete-time hazard per day from last-activity days
# ---------------------------------------------------------------------------

_HAZARD_ORACLE = """
    WITH per_user AS (
        SELECT user_id,
               MAX(CAST(FLOOR(EPOCH(CAST(ts AS TIMESTAMP)) / 86400)
                        AS BIGINT)) AS last_day
        FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ),
    deaths AS (
        SELECT last_day AS day, COUNT(*) AS n_ending
        FROM per_user GROUP BY last_day
    ),
    risk AS (
        SELECT day, n_ending,
               SUM(n_ending) OVER (ORDER BY day DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS n_at_risk
        FROM deaths
    )
    SELECT day, CAST(n_ending AS BIGINT) AS n_ending,
           CAST(n_at_risk AS BIGINT) AS n_at_risk,
           ROUND(CAST(n_ending AS DOUBLE) / CAST(n_at_risk AS DOUBLE), 6)
               AS hazard
    FROM risk
"""


@query("q_churn_hazard", _HAZARD_ORACLE)
def q_churn_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete-time churn hazard per epoch-day over PURCHASE activity:
    of the buyers still alive entering day d (= whose LAST purchase
    falls on d or later), what fraction made their final purchase on d?
    The survival-analysis readout next to q_cohort_retention's
    triangle: retention says who came back, hazard says when the
    remaining buyers quit — the curve a lifecycle team reads
    re-engagement timing off.  Purchases (not all events) keyed at day
    granularity so the fixture's dense activity still yields a curve;
    right-censoring note: the final observed day's hazard is 1.0 by
    construction — every survivor's last purchase is on it.

    Determinism: days are epoch floor-division (the q_dau_wau bucket);
    deaths and the reverse-cumulative risk set are exact integers;
    hazard is one double division, 6 dp.

    Scale shape: the event_type filter is pushed to the scan; one
    user-keyed map-side-combined MAX, then the last-day histogram
    (|days| rows — bounded by calendar, not corpus); the only ordered
    window is the reverse cumsum over that bounded frame."""
    e = load(spark, sf_dir, "events")
    per_user = (
        e.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.floor(F.unix_timestamp(F.max("ts")) / 86400)
            .cast("long")
            .alias("last_day")
        )
    )
    deaths = per_user.groupBy(F.col("last_day").alias("day")).agg(
        F.count(F.lit(1)).alias("n_ending")
    )
    w = Window.orderBy(F.col("day").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = deaths.select(
        "day", "n_ending", F.sum("n_ending").over(w).alias("n_at_risk")
    )
    return risk.select(
        "day",
        F.col("n_ending").cast("bigint").alias("n_ending"),
        F.col("n_at_risk").cast("bigint").alias("n_at_risk"),
        F.round(
            F.col("n_ending").cast("double") / F.col("n_at_risk").cast("double"),
            6,
        ).alias("hazard"),
    )
