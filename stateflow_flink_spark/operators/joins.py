"""Join operators: equi / broadcast / outer / semi / anti / theta /
multiway / as-of.

The reference has no joins (SURVEY.md §2A: "zero relational operators");
this module is the §2B declared join surface.  Scale posture per query:

  * dims (region, nation, supplier, part) are broadcast — no shuffle of
    the fact side; asserted via an explicit ``broadcast()`` hint where
    the optimizer could not know the dim stays small at 100 TB.
  * fact⋈fact joins (orders⋈lineitem) shuffle on the join key; AQE
    handles skew splitting at runtime (session.py).
  * the theta join is dim×dim only — a bounded BNLJ; never do this on
    facts.
  * the as-of join is expressed as equi-join + per-event rank, so the
    only shuffle is hash-by-custkey; at 100 TB you would additionally
    bucket both sides by the key to make it shuffle-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from ..artifacts import ensure_tables
from ..io import load
from ..numerics import exact_sum, sql_sum
from ..plans.registry import query


@query(
    "q_join_inner",
    """
    SELECT o.o_orderkey, o.o_totalprice, c.c_custkey, c.c_name, c.c_mktsegment
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def q_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    return orders.join(customer, orders.o_custkey == customer.c_custkey, "inner").select(
        "o_orderkey", "o_totalprice", "c_custkey", "c_name", "c_mktsegment"
    )


@query(
    "q_join_broadcast",
    """
    SELECT n.n_nationkey, n.n_name, r.r_name
    FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    """,
)
def q_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit broadcast-hash join: the 5-row region dim never shuffles."""
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    return nation.join(broadcast(region), nation.n_regionkey == region.r_regionkey).select(
        "n_nationkey", "n_name", "r_name"
    )


@query(
    "q_join_left",
    """
    SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice
    FROM customer c LEFT JOIN orders o
      ON o.o_custkey = c.c_custkey AND o.o_totalprice > 400000
    """,
)
def q_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer with an extra join-side predicate (kept in the ON clause
    so non-matching customers survive — the classic outer-join trap)."""
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    cond = (orders.o_custkey == customer.c_custkey) & (orders.o_totalprice > 400000)
    return customer.join(orders, cond, "left").select(
        "c_custkey", "c_name", "o_orderkey", "o_totalprice"
    )


@query(
    "q_join_full",
    """
    SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_custkey
    FROM customer c FULL JOIN orders o
      ON o.o_custkey = c.c_custkey AND c.c_acctbal > 0 AND o.o_totalprice > 100000
    """,
)
def q_join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join; predicates in ON preserve both null-extended sides."""
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    cond = (
        (orders.o_custkey == customer.c_custkey)
        & (customer.c_acctbal > 0)
        & (orders.o_totalprice > 100000)
    )
    return customer.join(orders, cond, "full").select(
        "c_custkey", "c_name", "o_orderkey", "o_custkey"
    )


@query(
    "q_join_semi",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
    """,
)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load(spark, sf_dir, "customer")
    big_orders = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return customer.join(
        big_orders, customer.c_custkey == big_orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


@query(
    "q_join_anti",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
    """,
)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load(spark, sf_dir, "customer")
    big_orders = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return customer.join(
        big_orders, customer.c_custkey == big_orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@query(
    "q_join_theta",
    """
    SELECT s.s_suppkey, s.s_name, c.c_custkey, s.s_acctbal, c.c_acctbal
    FROM supplier s JOIN customer c
      ON s.s_nationkey = c.c_nationkey AND s.s_acctbal > c.c_acctbal
    """,
)
def q_join_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi (range) predicate rides on an equi key, so Spark still
    plans a hash join on nationkey with the range as a post-filter —
    never a pure cartesian."""
    supplier = load(spark, sf_dir, "supplier")
    customer = load(spark, sf_dir, "customer")
    cond = (supplier.s_nationkey == customer.c_nationkey) & (
        supplier.s_acctbal > customer.c_acctbal
    )
    return supplier.join(customer, cond).select(
        "s_suppkey", "s_name", "c_custkey", "s_acctbal", "c_acctbal"
    )


# The flagship query (M1): TPC-H Q3 shape — scan, pushdown filters, two
# equi-joins, hash aggregate, exact-decimal revenue, deterministic top-10.
_Q3_ORACLE = f"""
    SELECT l.l_orderkey,
           {sql_sum("l.l_extendedprice * (1 - l.l_discount)")} AS revenue,
           o.o_orderdate, o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-01-01'
      AND l.l_shipdate > TIMESTAMP '1998-01-01'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l.l_orderkey
    LIMIT 10
"""


@query("q_join_multiway", _Q3_ORACLE)
def q_join_multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer ⋈ orders ⋈ lineitem, filtered, aggregated, top-10 revenue.

    Plan shape to preserve at scale: customer filter broadcast into
    orders (small side after segment filter), orders⋈lineitem shuffled
    on orderkey, partial hash agg before the final top-k
    (TakeOrderedAndProject — no global sort materialization).
    """
    customer = load(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    lineitem = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    return (
        lineitem.join(
            orders.join(
                broadcast(customer.select("c_custkey")),
                orders.o_custkey == F.col("c_custkey"),
            ).select("o_orderkey", "o_orderdate", "o_orderpriority"),
            lineitem.l_orderkey == F.col("o_orderkey"),
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(exact_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@query(
    "q_join_asof",
    """
    SELECT event_id, user_id, ts, o_orderkey, o_orderdate
    FROM (
        SELECT e.event_id, e.user_id, CAST(e.ts AS TIMESTAMP) AS ts,
               o.o_orderkey, o.o_orderdate,
               ROW_NUMBER() OVER (
                   PARTITION BY e.event_id
                   ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
        FROM events e
        JOIN orders o ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
    ) WHERE rn = 1
    """,
)
def q_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: latest order of the same customer at/before each event.

    Spark has no native ASOF JOIN; the scalable formulation is an
    equi-join on the entity key (one hash shuffle) + per-event
    ``max_by`` aggregation.  Unlike join -> row_number -> rn=1 (which
    materializes and sorts every (event x earlier order) pair), the
    declarative aggregate does a partial (map-side) max per event before
    the exchange, so an entity with deep order history reduces its pairs
    inside the join stage instead of shuffling them all to one window
    sort.  The struct ordering (o_orderdate, o_orderkey) tie-breaks
    deterministically when two orders share a date.
    """
    events = load(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = load(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_orderdate")
    joined = events.join(
        orders,
        (orders.o_custkey == events.user_id) & (orders.o_orderdate <= events.ts),
    )
    return (
        joined.groupBy("event_id", "user_id", "ts")
        .agg(
            F.max_by(
                F.struct("o_orderkey", "o_orderdate"),
                F.struct("o_orderdate", "o_orderkey"),
            ).alias("best")
        )
        .select(
            "event_id",
            "user_id",
            "ts",
            F.col("best.o_orderkey").alias("o_orderkey"),
            F.col("best.o_orderdate").alias("o_orderdate"),
        )
    )


@query(
    "q_join_range",
    """
    SELECT a.event_id AS err_id, b.event_id AS ctx_id, b.event_type AS ctx_type
    FROM events a
    JOIN events b
      ON b.user_id = a.user_id
     AND a.event_type = 'error'
     AND CAST(b.ts AS TIMESTAMP) >= CAST(a.ts AS TIMESTAMP) - INTERVAL 10 MINUTE
     AND CAST(b.ts AS TIMESTAMP) <  CAST(a.ts AS TIMESTAMP)
    """,
)
def q_join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join: for every error event, the same user's
    events in the preceding 10 minutes (incident context windows).

    The equi key (user_id) carries the shuffle/hash join; the time band
    is a residual predicate evaluated inside the matched bucket — the
    plan stays a hash/SMJ join, never a cartesian.  A pure band join
    (no equi key) would instead quantize ts into 10-minute buckets,
    equi-join on bucket +/-1, and re-apply the band filter — same
    composition, one derived column."""
    e = load(spark, sf_dir, "events").select("event_id", "user_id", "event_type", "ts")
    a = e.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"),
        F.col("user_id").alias("err_user"),
        F.col("ts").alias("err_ts"),
    )
    cond = (
        (F.col("user_id") == F.col("err_user"))
        & (F.col("ts") >= F.col("err_ts") - F.expr("INTERVAL 10 MINUTES"))
        & (F.col("ts") < F.col("err_ts"))
    )
    return e.join(a, cond).select(
        "err_id",
        F.col("event_id").alias("ctx_id"),
        F.col("event_type").alias("ctx_type"),
    )


# ---------------------------------------------------------------------------
# Bucketed co-located join — the shuffle-free fact⋈fact pattern.
# ---------------------------------------------------------------------------

# ensure_tables memo, so repeated calls (bench medians, the correctness
# gate) reuse the bucketed tables.
_BUCKETED_TABLES: dict[tuple[str, str, str], tuple[str, ...]] = {}
_BUCKETS = 8


def _ensure_bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Write orders and lineitem bucketed by order key (same bucket
    count both sides) into session-scoped external tables."""

    def build(spark: SparkSession, tables: tuple[str, ...], base: str) -> None:
        t_orders, t_lineitem = tables
        (
            load(spark, sf_dir, "orders")
            .select("o_orderkey", "o_orderpriority")
            .write.bucketBy(_BUCKETS, "o_orderkey")
            .sortBy("o_orderkey")
            .option("path", f"{base}/orders")
            .mode("overwrite")
            .saveAsTable(t_orders)
        )
        (
            load(spark, sf_dir, "lineitem")
            .select("l_orderkey", "l_quantity")
            .write.bucketBy(_BUCKETS, "l_orderkey")
            .sortBy("l_orderkey")
            .option("path", f"{base}/lineitem")
            .mode("overwrite")
            .saveAsTable(t_lineitem)
        )

    t_orders, t_lineitem = ensure_tables(
        spark, sf_dir, _BUCKETED_TABLES, ("sfs_orders_b", "sfs_lineitem_b"),
        build, tmp_prefix="sfs_bucketed_",
    )
    return t_orders, t_lineitem


@query(
    "q_join_bucketed",
    f"""
    SELECT o_orderpriority,
           {sql_sum("l_quantity")} AS sum_qty,
           COUNT(*) AS n_items
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority
    """,
)
def q_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⋈fact join with ZERO exchanges: both sides stored bucketed by
    the join key with the same bucket count, so the join reads
    co-located buckets directly — the storage-level answer to "this
    shuffle becomes the bottleneck at 100 TB" (tests assert the plan
    has no hashpartitioning).  Bucketing is exactly how a production
    deployment would lay out orders/lineitem for repeated keyed joins;
    results are identical to the plain join (same oracle shape)."""
    t_orders, t_lineitem = _ensure_bucketed_tables(spark, sf_dir)
    o = spark.table(t_orders)
    li = spark.table(t_lineitem)
    return (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_orderpriority")
        .agg(
            exact_sum("l_quantity").alias("sum_qty"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# ---------------------------------------------------------------------------
# Bloom-filter pre-filtered join (runtime semi-join pushdown, spelled out)
# ---------------------------------------------------------------------------
#
# Spark's InjectRuntimeFilter does exactly this automatically when it
# fires (bloom built on the small side, pushed into the big side's
# scan), but it is heuristic-gated and its `bloom_filter_agg` is not in
# the public function registry — so this query spells the pattern out
# as a DataFrame composition a user can apply deliberately:
#
#   1. build: d hash positions per dim key -> (word, bit) -> one
#      partial-aggregating groupBy `bit_or` -> ONE row holding the
#      whole filter as a map<word, bits-long>.  The sketch is
#      BLOOM_WORDS longs (~128 KiB here) regardless of dim size.
#   2. probe: broadcast that one row; each fact row tests its d
#      positions with pure JVM bit arithmetic — a map-side filter that
#      never shuffles the fact.
#   3. exact join after the pre-filter removes bloom false positives,
#      so the result is EXACTLY the plain join (the oracle).
#
# At 100 TB the win is shuffle volume: the fact side entering the join
# exchange shrinks by the dim's selectivity (here: one mktsegment of
# customers), for the price of one broadcast of a fixed-size bitset.

BLOOM_WORDS = 16_384  # 2^14 longs = 2^20 bits
BLOOM_HASHES = 3


def _bloom_positions(key, n_hashes: int = BLOOM_HASHES):
    """(word, mask) pairs for key under seeded xxhash64 (engine-local:
    the bloom never crosses engines — correctness comes from the exact
    post-join)."""
    out = []
    for j in range(n_hashes):
        bitpos = F.pmod(F.xxhash64(key, F.lit(j)), F.lit(BLOOM_WORDS * 64))
        out.append(
            (
                (bitpos / 64).cast("int"),
                # F.shiftleft takes a Python-int shift; call the SQL
                # function directly to shift by a per-row column
                F.call_function(
                    "shiftleft", F.lit(1).cast("long"), (bitpos % 64).cast("int")
                ),
            )
        )
    return out


def bloom_build(dim: DataFrame, key_col: str) -> DataFrame:
    """ONE-row DataFrame: {"bf": map<int, long>} bloom of dim[key_col]."""
    pairs = _bloom_positions(F.col(key_col))
    exploded = dim.select(
        F.explode(
            F.array(*[F.struct(w.alias("word"), m.alias("mask")) for w, m in pairs])
        ).alias("p")
    )
    words = exploded.groupBy(F.col("p.word").alias("word")).agg(
        F.bit_or("p.mask").alias("bits")
    )
    return words.agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("word", "bits")))
        ).alias("bf")
    )


def bloom_might_contain(bf, key):
    """True iff all d positions are set (no false negatives)."""
    cond = F.lit(True)
    for w, m in _bloom_positions(key):
        cond = cond & (
            F.coalesce(F.element_at(bf, w), F.lit(0).cast("long")).bitwiseAND(m) != 0
        )
    return cond


@query(
    "q_join_bloom",
    f"""
    SELECT c.c_mktsegment AS mktsegment,
           COUNT(*) AS n_orders,
           {sql_sum("o.o_totalprice")} AS sum_price
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_mktsegment = 'BUILDING' AND c.c_acctbal > 1000.0
    GROUP BY c.c_mktsegment
    """,
)
def q_join_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders ⋈ (selective customer subset) with a bloom-filter
    pre-filter on the fact side — the explicit spelling of runtime
    semi-join pushdown (see module comment above this query).

    The bloom is built with one partial-aggregated groupBy over the dim
    keys, broadcast as a single map row, and probed map-side with JVM
    bit arithmetic; the exact join then removes false positives, so the
    output is identical to the plain join and shares its oracle."""
    orders = load(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    dim = (
        load(spark, sf_dir, "customer")
        .filter((F.col("c_mktsegment") == "BUILDING") & (F.col("c_acctbal") > 1000.0))
        .select("c_custkey", "c_mktsegment")
    )
    bf = bloom_build(dim, "c_custkey")
    pre = orders.join(broadcast(bf)).filter(
        bloom_might_contain(F.col("bf"), F.col("o_custkey"))
    )
    return (
        pre.join(dim, pre.o_custkey == dim.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("mktsegment"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            exact_sum("o_totalprice").alias("sum_price"),
        )
    )


@query(
    "q_join_lateral",
    """
    SELECT c_custkey, c_mktsegment, o_orderkey, o_totalprice
    FROM customer,
         LATERAL (SELECT o_orderkey, o_totalprice
                  FROM orders
                  WHERE o_custkey = c_custkey
                  ORDER BY o_totalprice DESC, o_orderkey ASC
                  LIMIT 2) t
    """,
)
def q_join_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery join: each customer's two priciest
    orders (the top-N-per-group ask in its declarative SQL form).
    Catalyst DECORRELATES the per-row subquery into a ranked window
    join — one shuffle on the correlation key, no per-customer
    re-execution — which is exactly the plan a hand-written
    row_number<=2 would produce; the LATERAL spelling keeps the intent
    declarative and composable.  Customers without orders drop out
    (inner/CROSS APPLY semantics, matching the oracle)."""
    load(spark, sf_dir, "customer").createOrReplaceTempView("sfs_lat_customer")
    load(spark, sf_dir, "orders").createOrReplaceTempView("sfs_lat_orders")
    return spark.sql(
        """
        SELECT c_custkey, c_mktsegment, o_orderkey, o_totalprice
        FROM sfs_lat_customer,
             LATERAL (SELECT o_orderkey, o_totalprice
                      FROM sfs_lat_orders
                      WHERE o_custkey = c_custkey
                      ORDER BY o_totalprice DESC, o_orderkey ASC
                      LIMIT 2) t
        """
    )


# ---------------------------------------------------------------------------
# Blocked entity resolution — the canonical ER skeleton
# ---------------------------------------------------------------------------

_ER_BLOCK_LEN = 16  # blocking key width over the name
_ER_MAX_DIST = 1

_ER_ORACLE = f"""
    WITH b AS (
        SELECT s_suppkey, s_name, SUBSTRING(s_name, 1, {_ER_BLOCK_LEN}) AS blk
        FROM supplier
    )
    SELECT a.s_suppkey AS supp_a, x.s_suppkey AS supp_b,
           CAST(LEVENSHTEIN(a.s_name, x.s_name) AS BIGINT) AS dist
    FROM b a JOIN b x ON a.blk = x.blk AND a.s_suppkey < x.s_suppkey
    WHERE LEVENSHTEIN(a.s_name, x.s_name) <= {_ER_MAX_DIST}
"""


@query("q_er_blocked", _ER_ORACLE)
def q_er_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked entity resolution over supplier names: candidate pairs
    share a blocking key (the name's first {_ER_BLOCK_LEN} chars), and
    only candidates pay the pairwise edit distance — the two-stage
    skeleton every record-linkage system at scale reduces to (blocking
    bounds the quadratic; the verifier runs on candidates only,
    exactly the MinHash-band-then-verify discipline applied to dirty
    entity strings).  Emits pairs within distance {_ER_MAX_DIST}.

    Scale shape: one shuffle keyed by the block, a within-block
    self-join whose worst bucket is block-size², and LEVENSHTEIN runs
    JVM-side inside codegen — no Python.  Skewed blocks (one giant
    'UNKNOWN' name prefix) are the q_agg_salted case: salt the block
    key or let AQE split it; the fixture's uniform blocks don't need
    it.  A production deployment swaps the prefix for a phonetic or
    q-gram blocking key — one expression, same plan."""
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    b = s.withColumn("blk", F.substring("s_name", 1, _ER_BLOCK_LEN))
    a, x = b.alias("a"), b.alias("x")
    dist = F.levenshtein(F.col("a.s_name"), F.col("x.s_name"))
    return (
        a.join(
            x,
            (F.col("a.blk") == F.col("x.blk"))
            & (F.col("a.s_suppkey") < F.col("x.s_suppkey")),
        )
        .filter(dist <= _ER_MAX_DIST)
        .select(
            F.col("a.s_suppkey").alias("supp_a"),
            F.col("x.s_suppkey").alias("supp_b"),
            dist.cast("bigint").alias("dist"),
        )
    )
