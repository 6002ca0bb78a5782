"""Graph analytics — PageRank over the customer↔supplier graph.

Completes the iterative-algorithm family (connected components in
:mod:`.dedup`, Lloyd k-means and the GD trainer in :mod:`.similarity` /
:mod:`.regression`) with the canonical power-iteration pattern: ranks
flow along edges, one keyed shuffle per iteration.

Graph: the bipartite trade graph — an undirected edge between customer
c and supplier s for every distinct (c, s) pair that shares a lineitem
(suppliers offset by 2^40 into a shared node-id space).  PageRank per
Brin & Page 1998 with damping 0.85, two unrolled iterations from a
uniform start.

Integer-exact discipline (the k-means/GD recipe): ranks live as
integers scaled by 1e9; every per-step operation is integer floor
division / multiplication (`div` in Spark, `//` in DuckDB — identical
on non-negative operands), so the final ranks are bit-identical across
engines with no float fold to reconcile.  Real deployments run float
ranks; the quantized spelling changes nothing structural (ranks stay a
DataFrame, never visit the driver).

Scale shape per iteration: edges ⋈ ranks (shuffle on src — at 100 TB
the edge table is partitioned by src once and REUSED, so each
iteration's join is co-located) → contributions groupBy(dst) with
map-side partial sums → join back to the nodes frame.  The iteration
count is the only serial dimension; everything inside an iteration is
one pass over edges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from ..io import load
from ..plans.registry import query
from ..session import pin

PR_SCALE = 1_000_000_000
# supplier ids shift into a disjoint range of the shared node-id space;
# 2^40 keeps customer keys collision-free up to ~10^12 rows (a 1e6
# offset would collide at TPC-H SF >= ~7)
PR_SUPP_OFFSET = 1 << 40
PR_TOP = 20

_PR_ORACLE = f"""
    WITH pairs AS (
        SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    edges AS (
        SELECT c AS src, s + {PR_SUPP_OFFSET} AS dst FROM pairs
        UNION ALL
        SELECT s + {PR_SUPP_OFFSET} AS src, c AS dst FROM pairs
    ),
    deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    nn AS (SELECT COUNT(*) AS n FROM nodes),
    r0 AS (
        SELECT node, {PR_SCALE} // n AS r, n FROM nodes, nn
    ),
    s1 AS (
        SELECT e.dst AS node, SUM(r.r // dg.d) AS contrib
        FROM edges e JOIN r0 r ON e.src = r.node JOIN deg dg ON e.src = dg.src
        GROUP BY e.dst
    ),
    r1 AS (
        SELECT r0.node,
               (15 * ({PR_SCALE} // r0.n)) // 100
                   + (85 * COALESCE(s1.contrib, 0)) // 100 AS r,
               r0.n
        FROM r0 LEFT JOIN s1 ON r0.node = s1.node
    ),
    s2 AS (
        SELECT e.dst AS node, SUM(r.r // dg.d) AS contrib
        FROM edges e JOIN r1 r ON e.src = r.node JOIN deg dg ON e.src = dg.src
        GROUP BY e.dst
    ),
    r2 AS (
        SELECT r1.node,
               (15 * ({PR_SCALE} // r1.n)) // 100
                   + (85 * COALESCE(s2.contrib, 0)) // 100 AS r
        FROM r1 LEFT JOIN s2 ON r1.node = s2.node
    )
    SELECT CASE WHEN node >= {PR_SUPP_OFFSET} THEN 'supplier'
                ELSE 'customer' END AS node_type,
           CASE WHEN node >= {PR_SUPP_OFFSET} THEN node - {PR_SUPP_OFFSET}
                ELSE node END AS node_id,
           CAST(r AS BIGINT) AS rank_scaled
    FROM r2
    ORDER BY r DESC, node ASC
    LIMIT {PR_TOP}
"""


def _pr_step(edges: DataFrame, ranks: DataFrame) -> DataFrame:
    """One power iteration: push rank/deg along edges, damp, re-base.
    `ranks` carries (node, r, n, d) — degree rides WITH the rank so an
    iteration is ONE edges⋈state join (not edges⋈ranks⋈deg), and the
    per-edge contribution r div d is computed before the exchange."""
    contrib = (
        edges.join(
            ranks.select(
                F.col("node").alias("src"), F.expr("r div d").alias("u")
            ),
            "src",
        )
        .groupBy("dst")
        .agg(F.sum("u").alias("contrib"))
    )
    return (
        ranks.join(contrib.withColumnRenamed("dst", "node"), "node", "left")
        .select(
            "node",
            (
                F.expr(f"(15 * ({PR_SCALE} div n)) div 100")
                + F.expr("(85 * coalesce(contrib, 0)) div 100")
            ).alias("r"),
            "n",
            "d",
        )
    )


@query("q_graph_pagerank", _PR_ORACLE)
def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 nodes of the customer↔supplier trade graph by PageRank
    (damping 0.85, two unrolled integer-exact iterations — see module
    docstring for the graph, the quantization, and the per-iteration
    scale shape)."""
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    fwd = pairs.select(
        F.col("c").alias("src"), (F.col("s") + PR_SUPP_OFFSET).alias("dst")
    )
    rev = pairs.select(
        (F.col("s") + PR_SUPP_OFFSET).alias("src"), F.col("c").alias("dst")
    )
    # the edge frame feeds two joins per iteration x two iterations:
    # pin it once, LAZILY (eager=False: constructing the query must not
    # launch a Spark job).  `pin` is localCheckpoint by default and
    # reliable `.checkpoint()` when the session has Spark's checkpoint
    # directory (`spark.checkpoint.dir`) — the cluster-reliability setting
    edges = pin(fwd.unionByName(rev))
    # deg doubles as the node list (every node has an out-edge in the
    # undirected graph) — no separate distinct pass
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("d")
    )
    nn = deg.agg(F.count(F.lit(1)).alias("n"))
    ranks = deg.crossJoin(broadcast(nn)).select(
        "node", F.expr(f"{PR_SCALE} div n").alias("r"), "n", "d"
    )
    for _ in range(2):
        # pin per iteration: _pr_step consumes `ranks` twice (the
        # contribution join and the join-back), so an unpinned state
        # frame re-executes the whole previous iteration per consumer —
        # lineage doubling per round (r13 optimization round, guide
        # §1.2; the same discipline label_propagation / k-means / GD
        # already apply to their per-round state)
        ranks = pin(_pr_step(edges, ranks))
    node_type = F.when(
        F.col("node") >= PR_SUPP_OFFSET, "supplier"
    ).otherwise("customer")
    node_id = F.when(
        F.col("node") >= PR_SUPP_OFFSET, F.col("node") - PR_SUPP_OFFSET
    ).otherwise(F.col("node"))
    return (
        ranks.orderBy(F.desc("r"), F.asc("node"))
        .limit(PR_TOP)
        .select(
            node_type.alias("node_type"),
            node_id.alias("node_id"),
            F.col("r").cast("long").alias("rank_scaled"),
        )
    )


# ---------------------------------------------------------------------------
# Triangle counting (degree-oriented) over the supplier co-supply graph
# ---------------------------------------------------------------------------

# co-supply projection: suppliers are adjacent when they supply the same
# part.  TPC-H's supplier dimension is tiny relative to co-occurrence
# opportunities, so the raw projection is near-complete — a fixture
# artifact, not a property of real co-occurrence graphs.  The graph is
# thinned by NODE COLORING (Pagh & Tsourakakis, "Colorful triangle
# counting and a MapReduce implementation", Inf. Process. Lett. 2012):
# each node gets a deterministic md5-derived color in [0, MOD) and only
# MONOCHROMATIC edges survive.  A triangle survives iff all three nodes
# share a color (probability p² for p = 1/MOD), and a wedge likewise
# survives at p², so sampled_triangles/p² estimates the full count and
# the sampled clustering coefficient estimates the full one with NO
# correction — the property that makes this the standard sampling
# scheme for triangle statistics at scale.  Hashing is O(V) (one md5
# per node, riding the neighbor array), and the per-PAIR survive test
# is one integer compare — an earlier spelling paid a per-pair
# md5-of-concatenated-string, profiled at 3 s of the query's 4.3 s at
# sf0.1 (the projection emits ~15 pairs per co-supply row).
TRI_SAMPLE_MOD = 16
# parts with pathological supplier fan-out would explode the per-part
# C(k,2) pair enumeration; the cap bounds the worst part at CAP² pairs
# (the SHINGLE_DF_CAP discipline from fuzzy dedup).  A no-op on TPC-H
# (suppliers-per-part is spec-bounded) — it exists for the adversarial
# distribution, and the oracle replicates it exactly.
TRI_PART_CAP = 64

_TRI_EDGE_SQL = f"""
        ps AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
        capped AS (
            SELECT p, s FROM (
                SELECT p, s, COUNT(*) OVER (PARTITION BY p) AS nsupp FROM ps
            ) WHERE nsupp <= {TRI_PART_CAP}
        ),
        nh AS (
            SELECT s, CAST(('0x' || SUBSTRING(MD5(
                       CAST(s AS VARCHAR)), 1, 8))::UBIGINT AS BIGINT) AS hs
            FROM (SELECT DISTINCT s FROM capped)
        ),
        pairs AS (
            SELECT DISTINCT a.s AS s1, b.s AS s2
            FROM capped a JOIN capped b ON a.p = b.p AND a.s < b.s
        ),
        edges AS (
            SELECT s1, s2 FROM pairs
            JOIN nh h1 ON h1.s = pairs.s1
            JOIN nh h2 ON h2.s = pairs.s2
            WHERE h1.hs % {TRI_SAMPLE_MOD} = h2.hs % {TRI_SAMPLE_MOD}
        ),
        und AS (
            SELECT s1 AS src, s2 AS dst FROM edges
            UNION ALL
            SELECT s2 AS src, s1 AS dst FROM edges
        ),
        deg AS (SELECT src AS node, COUNT(*) AS d FROM und GROUP BY src)
"""

_TRI_ORACLE = f"""
    WITH {_TRI_EDGE_SQL},
    oriented AS (
        SELECT CASE WHEN (da.d, e.s1) < (db.d, e.s2) THEN e.s1 ELSE e.s2 END AS u,
               CASE WHEN (da.d, e.s1) < (db.d, e.s2) THEN e.s2 ELSE e.s1 END AS v
        FROM edges e
        JOIN deg da ON e.s1 = da.node
        JOIN deg db ON e.s2 = db.node
    ),
    tri AS (
        SELECT COUNT(*) AS n_triangles
        FROM oriented e1
        JOIN oriented e2 ON e1.u = e2.u AND e1.v < e2.v
        JOIN oriented e3 ON e3.u = e1.v AND e3.v = e2.v
    ),
    stats AS (
        SELECT COUNT(*) AS n_nodes,
               CAST(SUM(d * (d - 1) // 2) AS BIGINT) AS n_wedges
        FROM deg
    ),
    ecount AS (SELECT COUNT(*) AS n_edges FROM edges)
    SELECT s.n_nodes, ec.n_edges, s.n_wedges,
           CAST(t.n_triangles AS BIGINT) AS n_triangles,
           CAST(t.n_triangles * {TRI_SAMPLE_MOD * TRI_SAMPLE_MOD} AS BIGINT)
               AS est_triangles,
           CASE WHEN s.n_wedges = 0 THEN 0.0
                ELSE CAST(3 * t.n_triangles AS DOUBLE) / CAST(s.n_wedges AS DOUBLE)
           END AS global_clustering
    FROM stats s, ecount ec, tri t
"""


@query("q_graph_triangles", _TRI_ORACLE)
def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global triangle count + clustering coefficient of the supplier
    co-supply graph, by degree orientation (Chiba–Nishizeki / the
    standard MapReduce triangle recipe): orient each undirected edge
    from its lower-(degree, id) endpoint to the higher, enumerate pairs
    of out-neighbors, and close each wedge against the oriented edge
    list.

    Why orientation matters at 100 TB: out-degree under this order is
    bounded by O(sqrt(m)) (graph arboricity), so the wedge join — the
    only super-linear step — generates Σ C(outdeg, 2) rows instead of
    Σ C(deg, 2): a hub with degree 10⁶ contributes nothing beyond its
    sqrt-bounded out-fan.  All three joins are equi-joins on node ids
    (slim bigint pairs, no payload); the closing join keys on the full
    (u, v) edge, so AQE sizes its shuffle off the wedge count.  The
    final answer is a five-column single row — counts are exact
    integers, the clustering coefficient is one division of two exact
    integers, bit-identical cross-engine.

    Edge build: ONE shuffle.  groupBy(part).collect_set(supplier) fuses
    the (p, s) distinct, the fan-out cap (array size), and the pair
    enumeration (map-side posexplode + slice over the SORTED set — the
    sort gives s1 < s2 for free) that a distinct + window-count +
    self-join spelling paid three exchanges for.  Each node's coloring
    hash rides the array (computed once per part-membership, O(V·parts)
    ≪ O(pairs)), so the per-pair survive test — monochromatic
    endpoints, the Pagh–Tsourakakis sampling scheme (see module
    constants) — is one integer compare."""
    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s")
    )
    grp = (
        li.groupBy("p")
        .agg(F.sort_array(F.collect_set("s")).alias("ss"))
        .filter(F.size("ss") <= TRI_PART_CAP)
    )
    zp = grp.select(
        F.expr(
            "transform(ss, x -> named_struct("
            "  's', x,"
            "  'h', cast(conv(substring(md5(cast(x as string)), 1, 8), 16, 10)"
            "       as bigint))) AS zp"
        )
    )
    edges = (
        zp.select(F.posexplode("zp").alias("i", "a"), "zp")
        .select(
            F.col("a.s").alias("s1"),
            F.col("a.h").alias("h1"),
            F.explode(F.expr("slice(zp, i + 2, size(zp) - i - 1)")).alias("b"),
        )
        .filter(F.expr(f"h1 % {TRI_SAMPLE_MOD} = b.h % {TRI_SAMPLE_MOD}"))
        .select("s1", F.col("b.s").alias("s2"))
        .distinct()
    )
    # the edge frame feeds degree, orientation, and the closing join:
    # pin it lazily (the pagerank recipe) so the projection+thinning
    # runs once, not once per consumer
    edges = pin(edges)
    und = edges.unionByName(
        edges.select(F.col("s2").alias("s1"), F.col("s1").alias("s2"))
    )
    deg = und.groupBy(F.col("s1").alias("node")).agg(
        F.count(F.lit(1)).alias("d")
    )
    oriented = (
        edges.join(deg.select(F.col("node").alias("s1"), F.col("d").alias("d1")), "s1")
        .join(deg.select(F.col("node").alias("s2"), F.col("d").alias("d2")), "s2")
        .select(
            F.when(
                (F.col("d1") < F.col("d2"))
                | ((F.col("d1") == F.col("d2")) & (F.col("s1") < F.col("s2"))),
                F.col("s1"),
            )
            .otherwise(F.col("s2"))
            .alias("u"),
            F.when(
                (F.col("d1") < F.col("d2"))
                | ((F.col("d1") == F.col("d2")) & (F.col("s1") < F.col("s2"))),
                F.col("s2"),
            )
            .otherwise(F.col("s1"))
            .alias("v"),
        )
    )
    oriented = pin(oriented)
    e1, e2, e3 = oriented.alias("e1"), oriented.alias("e2"), oriented.alias("e3")
    tri = (
        e1.join(
            e2,
            (F.col("e1.u") == F.col("e2.u")) & (F.col("e1.v") < F.col("e2.v")),
        )
        .join(
            e3,
            (F.col("e3.u") == F.col("e1.v")) & (F.col("e3.v") == F.col("e2.v")),
        )
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    stats = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum(F.expr("d * (d - 1) div 2")).cast("bigint").alias("n_wedges"),
    )
    ecount = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        stats.crossJoin(broadcast(ecount))
        .crossJoin(broadcast(tri))
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            # n_triangles counts the COLOR-THINNED graph; each triangle
            # of the full graph survives thinning with probability
            # 1/MOD², so the unbiased full-graph estimate is the
            # sampled count × MOD² (Pagh–Tsourakakis) — exposed so a
            # consumer never mistakes the sampled count for the truth
            (F.col("n_triangles") * F.lit(TRI_SAMPLE_MOD * TRI_SAMPLE_MOD))
            .cast("bigint")
            .alias("est_triangles"),
            F.when(F.col("n_wedges") == 0, F.lit(0.0))
            .otherwise(
                (F.lit(3) * F.col("n_triangles")).cast("double")
                / F.col("n_wedges").cast("double")
            )
            .alias("global_clustering"),
        )
    )


# ---------------------------------------------------------------------------
# Degree distribution of the customer↔supplier trade graph
# ---------------------------------------------------------------------------

_DEGREE_ORACLE = f"""
    WITH pairs AS (
        SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    deg AS (
        SELECT node_type, node_id, COUNT(*) AS d FROM (
            SELECT 'customer' AS node_type, c AS node_id, s FROM pairs
            UNION ALL
            SELECT 'supplier' AS node_type, s AS node_id, c FROM pairs
        ) GROUP BY node_type, node_id
    )
    SELECT node_type, d AS degree,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           MIN(node_id) AS min_node
    FROM deg
    GROUP BY node_type, d
"""


@query("q_graph_degree_dist", _DEGREE_ORACLE)
def q_graph_degree_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the customer↔supplier trade graph (the
    pagerank graph), split by node type — the first profiling query run
    against any production graph (power-law check, skew forecast for
    the joins downstream).

    Two stacked aggregates, both with map-side partial combine: per-node
    degree (keyed by node, the natural partitioning the graph ops
    downstream reuse), then a histogram keyed by (type, degree) — the
    second shuffle carries one slim row per DISTINCT degree per
    partition, so the exchange is ~bounded by the degree range, not the
    node count."""
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    # both endpoints of each pair come from ONE explode, not a union of
    # two projections of `pairs` — the union spelling planned the
    # orders⋈lineitem distinct twice (ReusedExchange dedupes the
    # exchange, but the post-exchange distinct aggregate ran per
    # branch); same rows, same values (r13 optimization, guide §2.4)
    both = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("customer").alias("node_type"),
                    F.col("c").alias("node_id"),
                ),
                F.struct(
                    F.lit("supplier").alias("node_type"),
                    F.col("s").alias("node_id"),
                ),
            )
        ).alias("e")
    ).select("e.node_type", "e.node_id")
    deg = both.groupBy("node_type", "node_id").agg(F.count(F.lit(1)).alias("d"))
    return deg.groupBy("node_type", F.col("d").alias("degree")).agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.min("node_id").alias("min_node"),
    )


# ---------------------------------------------------------------------------
# Semi-supervised label propagation over the trade graph
# ---------------------------------------------------------------------------

_LP_ORACLE = f"""
    WITH pairs AS (
        SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    cl AS (SELECT c_custkey AS c, c_nationkey AS lab FROM customer),
    sv AS (
        SELECT p.s, cl.lab, COUNT(*) AS m
        FROM pairs p JOIN cl ON p.c = cl.c
        GROUP BY 1, 2
    ),
    slab AS (
        SELECT s, MAX(m * 1024 + (1023 - lab)) AS pk FROM sv GROUP BY s
    ),
    s1 AS (SELECT s, CAST(1023 - pk % 1024 AS INT) AS slab FROM slab),
    cv AS (
        SELECT p.c, s1.slab AS lab, COUNT(*) AS m
        FROM pairs p JOIN s1 ON p.s = s1.s
        GROUP BY 1, 2
    ),
    cagg AS (
        SELECT c, MAX(m * 1024 + (1023 - lab)) AS pk, MAX(m) AS mx
        FROM cv GROUP BY c
    )
    SELECT cagg.c AS custkey,
           cl.lab AS own_nation,
           CAST(1023 - pk % 1024 AS INT) AS prop_nation,
           CAST(mx AS BIGINT) AS n_votes,
           1023 - pk % 1024 = cl.lab AS agree
    FROM cagg JOIN cl ON cagg.c = cl.c
"""


@query("q_graph_label_prop", _LP_ORACLE)
def q_graph_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two synchronized rounds of majority-label propagation over the
    bipartite trade graph (Raghavan et al. 2007's LPA, one full sweep):
    customers seed their nation as the label, each supplier adopts the
    majority nation of its customers, each customer then adopts the
    majority inferred nation of its suppliers — and the agreement bit
    per customer is the community-consistency signal (a customer whose
    trade neighborhood votes a different nation shops across its
    community boundary).

    Determinism: the argmax rides the q_label_noise packed-integer MAX
    (votes * 1024 + (1023 - label); nationkey < 25 << 1024), so ties
    break on the smallest label in both engines — no ROW_NUMBER over a
    vote table, one aggregate per round.

    Scale shape per round (the PageRank discipline): edges join the
    label frame on its key, then ONE map-side-combining groupBy on the
    receiving vertex — never a window, never a collect.  The edge
    frame would be pinned/bucketed once at 100 TB and reused by every
    propagation round, like the PageRank iterations above."""
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = pin(
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    cl = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("c"), F.col("c_nationkey").alias("lab")
    )
    sv = pairs.join(cl, "c").groupBy("s", "lab").agg(F.count(F.lit(1)).alias("m"))
    s1 = (
        sv.groupBy("s")
        .agg(F.max(F.col("m") * 1024 + (F.lit(1023) - F.col("lab"))).alias("pk"))
        .select("s", (F.lit(1023) - F.col("pk") % 1024).cast("int").alias("slab"))
    )
    cv = (
        pairs.join(s1, "s")
        .groupBy("c", F.col("slab").alias("lab"))
        .agg(F.count(F.lit(1)).alias("m"))
    )
    cagg = cv.groupBy("c").agg(
        F.max(F.col("m") * 1024 + (F.lit(1023) - F.col("lab"))).alias("pk"),
        F.max("m").alias("mx"),
    )
    prop = (F.lit(1023) - F.col("pk") % 1024).cast("int")
    return cagg.join(cl, "c").select(
        F.col("c").alias("custkey"),
        F.col("lab").alias("own_nation"),
        prop.alias("prop_nation"),
        F.col("mx").cast("bigint").alias("n_votes"),
        (prop == F.col("lab")).alias("agree"),
    )
