"""TPC-H shapes Q2/Q7/Q8/Q9/Q11/Q12/Q15/Q16/Q17/Q20/Q21/Q22 — the rest
of the 22-query family (Q1/Q3/Q4/Q5/Q6/Q10/Q13/Q14/Q18/Q19 live in
:mod:`.subqueries` and :mod:`.joins`).

The fixtures carry a COLUMN SUBSET of TPC-H (no ``partsupp`` table, no
``l_shipmode``/``l_commitdate``/``l_receiptdate``/``c_phone``/
``p_container``), so the queries marked *adapted* keep the original's
PLAN SHAPE — the thing that matters for the engine — on the columns
that exist; each docstring states the substitution.

Every query here runs ONE SQL text through ``spark.sql`` and hands the
IDENTICAL text to DuckDB as its oracle: the dialect subset used
(joins, CTEs, window functions, EXISTS/IN subqueries, INTERVAL
arithmetic, the ``numerics`` exact-sum spelling) parses and evaluates
bit-identically in both engines, which makes the whole family
hash-checkable with zero drift risk.  Float discipline: all money
aggregates go through :func:`..numerics.sql_sum` (order-independent
integer-scaled sums); predicates over aggregates compare those exact
doubles or pure integers only.

Scale notes: the dimension tables (region/nation/supplier/customer at
TPC-H ratios) sit far under the broadcast threshold, so Catalyst
broadcasts every dim⋈fact here; the fact⋈fact joins (lineitem⋈orders,
lineitem self-joins in Q17/Q21) shuffle on their equi-keys with AQE
handling skew — the same shapes the relational section of `tests/test_plans.py` gates on the
Q1-Q19 half of the family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..numerics import sql_avg, sql_sum
from ..plans.registry import query
from .subqueries import _register

_ALL_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
)


def _sql_query(name: str, tables: tuple[str, ...], text: str, doc: str):
    """Register a shared-text query: Spark runs `text` over registered
    views; DuckDB runs the same `text` as the oracle."""

    @query(name, text)
    def fn(spark: SparkSession, sf_dir: str, _text=text, _tables=tables) -> DataFrame:
        _register(spark, sf_dir, *_tables)
        return spark.sql(_text)

    fn.__name__ = name
    fn.__doc__ = doc
    return fn


_REV = "l_extendedprice * (1 - l_discount)"


q_tpch_q2 = _sql_query(
    "q_tpch_q2",
    _ALL_TABLES,
    f"""
    WITH shipped AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
    eligible AS (
        SELECT p.p_partkey, p.p_name, s.s_suppkey, s.s_name, s.s_acctbal,
               n.n_name,
               ROW_NUMBER() OVER (PARTITION BY p.p_partkey
                                  ORDER BY s.s_acctbal ASC, s.s_suppkey ASC)
                   AS rn
        FROM shipped
        JOIN part p     ON p.p_partkey = shipped.l_partkey
        JOIN supplier s ON s.s_suppkey = shipped.l_suppkey
        JOIN nation n   ON n.n_nationkey = s.s_nationkey
        JOIN region r   ON r.r_regionkey = n.n_regionkey
        WHERE p.p_size BETWEEN 10 AND 20 AND r.r_name = 'EUROPE'
    )
    SELECT p_partkey, p_name, s_suppkey, s_name, s_acctbal, n_name
    FROM eligible WHERE rn = 1
    """,
    """TPC-H Q2 shape (adapted: no partsupp, so "supplied parts" =
    distinct (part, supplier) pairs observed in lineitem, and the
    min-cost correlation runs on s_acctbal): per qualifying part, the
    single best EUROPE supplier.  The correlated-min is a window
    ROW_NUMBER over a co-partitioned join — one shuffle keyed by
    p_partkey, ties broken on s_suppkey for determinism.""",
)


q_tpch_q7 = _sql_query(
    "q_tpch_q7",
    _ALL_TABLES,
    f"""
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           year(l.l_shipdate) AS l_year,
           {sql_sum(_REV)} AS revenue
    FROM lineitem l
    JOIN orders o    ON o.o_orderkey = l.l_orderkey
    JOIN customer c  ON c.c_custkey = o.o_custkey
    JOIN supplier s  ON s.s_suppkey = l.l_suppkey
    JOIN nation sn   ON sn.n_nationkey = s.s_nationkey
    JOIN nation cn   ON cn.n_nationkey = c.c_nationkey
    WHERE ((sn.n_nationkey < 5 AND cn.n_nationkey >= 20)
        OR (sn.n_nationkey >= 20 AND cn.n_nationkey < 5))
      AND l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY sn.n_name, cn.n_name, year(l.l_shipdate)
    """,
    """TPC-H Q7 (volume shipping): revenue flowing between two nation
    groups by ship year (nation-key bands stand in for the spec's two
    named nations so the smoke fixture keeps nonzero rows).  Plan:
    lineitem⋈orders shuffle join, everything else broadcast dims,
    partial agg before the final group-by shuffle.""",
)


q_tpch_q8 = _sql_query(
    "q_tpch_q8",
    _ALL_TABLES,
    f"""
    WITH base AS (
        SELECT year(o.o_orderdate) AS o_year,
               {_REV} AS volume,
               sn.n_nationkey AS supp_nkey
        FROM lineitem l
        JOIN part p     ON p.p_partkey = l.l_partkey
        JOIN orders o   ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation cn  ON cn.n_nationkey = c.c_nationkey
        JOIN region r   ON r.r_regionkey = cn.n_regionkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation sn  ON sn.n_nationkey = s.s_nationkey
        WHERE r.r_name = 'AMERICA' AND p.p_type = 'ECONOMY'
          AND o.o_orderdate >= TIMESTAMP '1996-01-01'
          AND o.o_orderdate <  TIMESTAMP '1998-01-01'
    )
    SELECT o_year,
           {sql_sum("CASE WHEN supp_nkey = 5 THEN volume ELSE 0 END")}
               / {sql_sum("volume")} AS mkt_share
    FROM base GROUP BY o_year
    """,
    """TPC-H Q8 (national market share): nation 5's share of ECONOMY-part
    revenue delivered into AMERICA, by order year.  The share divides
    two order-independent exact sums — bit-identical numerator and
    denominator in both engines, hence a bit-identical quotient.""",
)


q_tpch_q9 = _sql_query(
    "q_tpch_q9",
    ("lineitem", "part", "supplier", "nation"),
    f"""
    SELECT sn.n_name AS nation, year(l.l_shipdate) AS o_year,
           {sql_sum(_REV)} AS sum_profit
    FROM lineitem l
    JOIN part p     ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation sn  ON sn.n_nationkey = s.s_nationkey
    WHERE p.p_name LIKE '%red%'
    GROUP BY sn.n_name, year(l.l_shipdate)
    """,
    """TPC-H Q9 shape (adapted: profit omits the ps_supplycost term —
    no partsupp table in the fixtures): revenue on name-matched parts
    per supplier nation per ship year.  The LIKE filter reaches the
    part scan; part/supplier/nation broadcast into the lineitem
    pass.""",
)


q_tpch_q11 = _sql_query(
    "q_tpch_q11",
    ("lineitem", "supplier", "nation"),
    f"""
    SELECT l.l_partkey, {sql_sum("l.l_extendedprice * l.l_quantity")} AS value
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    WHERE n.n_nationkey < 5
    GROUP BY l.l_partkey
    HAVING {sql_sum("l.l_extendedprice * l.l_quantity")} >
           (SELECT {sql_sum("i.l_extendedprice * i.l_quantity")} * 0.001
            FROM lineitem i
            JOIN supplier s2 ON s2.s_suppkey = i.l_suppkey
            JOIN nation n2   ON n2.n_nationkey = s2.s_nationkey
            WHERE n2.n_nationkey < 5)
    """,
    """TPC-H Q11 shape (adapted: "stock value" = traded value
    l_extendedprice*l_quantity from lineitem — no partsupp): parts
    whose value through a nation band exceeds 0.1% of that band's
    total.  The HAVING compares two exact scaled-integer sums, so the
    threshold cut is engine-independent; the scalar subquery
    decorrelates into a one-row broadcast.""",
)


q_tpch_q12 = _sql_query(
    "q_tpch_q12",
    ("lineitem", "orders"),
    """
    SELECT o.o_orderpriority,
           CAST(SUM(CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
           COUNT(*) AS n_lines
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderpriority
    """,
    """TPC-H Q12 shape (adapted: the fixtures have no
    l_shipmode/l_commitdate/l_receiptdate, so "late" = shipped more
    than 90 days after the order date, grouped by order priority).
    One fact⋈fact shuffle join + conditional counting, all-integer
    output.""",
)


q_tpch_q15 = _sql_query(
    "q_tpch_q15",
    ("lineitem", "supplier"),
    f"""
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no, {sql_sum(_REV)} AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1996-04-01'
        GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
    """TPC-H Q15 (top supplier): supplier(s) with the maximum quarterly
    revenue.  The equality against MAX is safe ONLY because
    total_revenue is the order-independent exact sum — a naive double
    SUM would make `= MAX(...)` flap between engines.""",
)


q_tpch_q16 = _sql_query(
    "q_tpch_q16",
    ("lineitem", "part", "supplier"),
    """
    SELECT p.p_brand, p.p_type, p.p_size,
           CAST(COUNT(DISTINCT sp.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) sp
    JOIN part p ON p.p_partkey = sp.l_partkey
    WHERE p.p_brand <> 'Brand#5'
      AND p.p_size IN (1, 7, 9, 14, 19, 23, 36, 45)
      AND sp.l_suppkey NOT IN
          (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p.p_brand, p.p_type, p.p_size
    """,
    """TPC-H Q16 shape (adapted: supplier-part pairs from lineitem, and
    the "complaints" NOT IN exclusion keyed on negative s_acctbal):
    distinct supplier counts per (brand, type, size).  NOT IN over a
    guaranteed-non-null key plans as a null-aware anti join; the
    distinct pairs pre-aggregate before the dimension join.""",
)


q_tpch_q17 = _sql_query(
    "q_tpch_q17",
    ("lineitem", "part"),
    f"""
    SELECT {sql_sum("l.l_extendedprice")} / 7.0 AS avg_yearly
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#23' AND p.p_size < 10
      AND l.l_quantity * 5 *
            (SELECT COUNT(*) FROM lineitem i
             WHERE i.l_partkey = l.l_partkey)
          < (SELECT SUM(i.l_quantity) FROM lineitem i
             WHERE i.l_partkey = l.l_partkey)
    """,
    """TPC-H Q17 (small-quantity revenue; p_size stands in for the
    missing p_container): revenue from lines under 1/5 of their part's
    average quantity, scaled to a yearly figure.  The 0.2*avg predicate
    is cross-multiplied into pure integers (qty*5*count < sum of
    whole-number quantities) — no float boundary to disagree on; the
    two correlated scalar subqueries decorrelate into one aggregate
    join on l_partkey.""",
)


q_tpch_q20 = _sql_query(
    "q_tpch_q20",
    ("lineitem", "part", "supplier", "nation"),
    """
    SELECT s.s_suppkey, s.s_name, n.n_name
    FROM supplier s JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE n.n_nationkey < 10
      AND s.s_suppkey IN (
        SELECT l.l_suppkey
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        WHERE p.p_name LIKE 'small%'
          AND l.l_shipdate >= TIMESTAMP '1996-01-01'
          AND l.l_shipdate <  TIMESTAMP '1997-01-01'
        GROUP BY l.l_suppkey
        HAVING SUM(l.l_quantity) > 50
      )
    """,
    """TPC-H Q20 shape (adapted: "has excess stock to promote" =
    shipped more than 50 units of name-matched parts in the year — no
    partsupp availqty): nested IN over a grouped/HAVING subquery plans
    as aggregate -> left-semi join into the supplier dim.  Quantity
    sums are whole-number-exact.""",
)


q_tpch_q21 = _sql_query(
    "q_tpch_q21",
    ("lineitem", "orders", "supplier"),
    """
    SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON l1.l_suppkey = s.s_suppkey
    JOIN orders o    ON o.o_orderkey = l1.l_orderkey
    WHERE o.o_orderstatus = 'F'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > l1.l_shipdate)
    GROUP BY s.s_name
    """,
    """TPC-H Q21 shape (adapted: "kept the order waiting" = shipped
    last — strictly no other supplier shipped later — among
    multi-supplier finished orders; the fixtures lack
    commit/receipt dates).  The EXISTS/NOT-EXISTS pair plans as a
    left-semi plus a left-anti self-join of lineitem on l_orderkey —
    the classic Q21 double-correlation shape.""",
)


q_tpch_q22 = _sql_query(
    "q_tpch_q22",
    ("customer", "orders", "nation"),
    f"""
    SELECT n.n_name AS cntrycode,
           CAST(COUNT(*) AS BIGINT) AS numcust,
           {sql_sum("c.c_acctbal")} AS totacctbal
    FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE c.c_acctbal > (SELECT {sql_avg("i.c_acctbal")}
                         FROM customer i WHERE i.c_acctbal > 0.0)
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '1999-01-01')
    GROUP BY n.n_name
    """,
    """TPC-H Q22 (global sales opportunity; nation stands in for the
    missing c_phone country code, and "never ordered" is scoped to the
    recent period — the dense fixtures give every customer SOME order):
    well-funded, recently-inactive customers per nation.  The
    average-balance scalar subquery uses the exact-sum/count spelling
    so the > cut is engine-independent; the NOT EXISTS plans as a
    left-anti join against the date-pruned orders scan.""",
)
