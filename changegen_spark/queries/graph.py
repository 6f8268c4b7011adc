"""Iterative graph scoring: fixed-iteration PageRank in exact integer math.

Training-data pipelines rank crawl domains by link authority (PageRank /
harmonic centrality over the web graph) and keep or weight documents by
their host's score.  This module runs the same computation Spark-first on
the graph this dataset carries: the bipartite customer<->supplier graph
projected from orders x lineitem (distinct trading pairs, both directions,
so every node has out-degree >= 1 and no dangling-mass term is needed).

Determinism is the interesting part: float PageRank sums contributions in
nondeterministic order, so Spark and DuckDB would drift in the last ulp.
Every quantity here is therefore a SCALED INTEGER (e9 ranks):

    share(u->v)  = rank_e9(u) div outdeg(u)          -- integer division
    rank_e9'(v)  = 0.15e9 + (85 * sum(shares) + 50) div 100

Integer sums are associative bit-for-bit, so any shuffle order, AQE
re-plan, or engine gives the identical result — the same scaled-integer
discipline the TPC-H money aggregates use (queries/__init__ conventions).

Scale design (100 TB web graph, 1000 executors): the edge list is FENCED
(lazily) before iterating, so the graph is derived once, not
re-scanned per step.  Ranks carry the static out-degree, so each iteration
is ONE |E|-sized equi-join on ``src`` (pre-bucketing edges by src makes it
map-side) plus one ``groupBy(dst)`` whose integer SUM combines map-side;
re-attaching the out-degree costs a |V|-sized join, skipped on the final
step.  The loop is unrolled a FIXED number of times (3), keeping
Catalyst's plan finite; a production run at higher iteration counts
inserts an eager fence every ~5 iterations to cut lineage, exactly
like functions/clustering's component loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# aliased: pagerank's ``fence`` flag would shadow the function
from changegen_spark.operators.fence import fence as _fence, fence_observed
from changegen_spark.sources.tables import load_table

PR_ITERS = 3
INIT_E9 = 1_000_000_000  # mean-1 normalization: every node starts at 1.0


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct customer->supplier trading pairs, mirrored to make the
    graph undirected-as-two-arcs (no dangling nodes)."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.concat(F.lit("c"), F.col("o_custkey")).alias("cnode"),
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("snode"),
        )
        .distinct()
    )
    return pairs.select(
        F.col("cnode").alias("src"), F.col("snode").alias("dst")
    ).unionAll(pairs.select(F.col("snode").alias("src"), F.col("cnode").alias("dst")))


def pagerank(
    edges: DataFrame,
    iters: int = PR_ITERS,
    fence: bool = True,
    checkpoint_every: int | None = 5,
) -> DataFrame:
    """(src, dst) arcs -> (node, rank_e9) after ``iters`` exact-integer
    PageRank steps.  Every node must appear as a src (callers mirror arcs);
    with mirrored arcs the dst set equals the node set, so each step's
    aggregation re-emits every node.

    ``fence`` cuts the edge lineage with a lazy fence before
    iterating — the same fence idiom as the pipeline's junction stage.
    Without it every iteration re-derives the edge list from source scans
    (measured at sf0.1: 28 FileScans and zero exchange reuse in the
    3-iteration plan; 0 FileScans with the fence).  Local wall time is
    stage-overhead-bound either way (~4.5 s at sf0.1 on local[32]), but at
    100 TB re-scanning the graph per iteration is the difference between
    an iterative algorithm and an accident.

    ``checkpoint_every`` bounds PLAN growth at depth: every N iterations
    the rank frame is eagerly fenced, cutting both the lineage
    (a 20-iteration unrolled join tree otherwise re-optimizes and
    re-codegens the whole prefix each AQE re-plan) and the driver's
    per-iteration Catalyst cost from O(iters^2) to O(iters).  Ranks are
    a |V|-sized frame, so the materialization is the cheap side of the
    trade — the standard iterative-algorithm discipline (same idiom as
    functions/clustering's component loop)."""
    if fence:
        edges = edges.transform(_fence, "pagerank edges", eager=False)
    weighted = "w" in edges.columns
    # out-degree generalizes to out-strength (sum of edge weights) on a
    # weighted graph; share(u->v) = (rank * w_uv) div strength_u — still
    # all-integer, so the exactness argument is unchanged.
    if weighted:
        outdeg = edges.groupBy("src").agg(F.sum("w").alias("od"))
        share = F.expr("(rank_e9 * w) div od")
    else:
        outdeg = edges.groupBy("src").agg(F.count("*").alias("od"))
        share = F.expr("rank_e9 div od")
    # ranks CARRIES the (static) out-degree so each iteration needs one
    # |E|-sized join (edges x ranks), not two — re-attaching od after the
    # aggregation is a |V|-sized join, and the final iteration skips it.
    ranks = outdeg.select(
        F.col("src").alias("node"),
        "od",
        F.lit(INIT_E9).cast("long").alias("rank_e9"),
    )
    for it in range(iters):
        sums = (
            edges.join(ranks, edges.src == ranks.node)
            .select(F.col("dst"), share.alias("share"))
            .groupBy("dst")
            .agg(F.sum("share").alias("s"))
        )
        new_rank = F.expr("CAST(150000000 + (85 * s + 50) div 100 AS BIGINT)")
        if it + 1 < iters:
            ranks = sums.join(outdeg, sums.dst == outdeg.src).select(
                F.col("dst").alias("node"), "od", new_rank.alias("rank_e9")
            )
        else:
            ranks = sums.select(
                F.col("dst").alias("node"), new_rank.alias("rank_e9")
            )
        if checkpoint_every and (it + 1) % checkpoint_every == 0 and it + 1 < iters:
            ranks = ranks.transform(_fence, "pagerank ranks")
    return ranks


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All node ranks after PR_ITERS (3) integer-exact PageRank iterations
    over the mirrored customer<->supplier graph."""
    return pagerank(_edges(spark, sf_dir)).orderBy("node")


def _edges_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trading pairs weighted by distinct order count — hub strength now
    reflects volume, not mere adjacency."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.concat(F.lit("c"), F.col("o_custkey")).alias("cnode"),
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("snode"),
            "o_orderkey",
        )
        .groupBy("cnode", "snode")
        .agg(F.count_distinct("o_orderkey").alias("w"))
    )
    return pairs.select(
        F.col("cnode").alias("src"), F.col("snode").alias("dst"), "w"
    ).unionAll(
        pairs.select(F.col("snode").alias("src"), F.col("cnode").alias("dst"), "w")
    )


def q_pagerank_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-weighted PageRank: identical recurrence with
    share = (rank * w) div strength — integer-exact like the uniform
    variant."""
    return pagerank(_edges_weighted(spark, sf_dir)).orderBy("node")


def _it_sql(prev: str) -> str:
    return f"""
  SELECT e.dst AS node,
         CAST(150000000 + (85 * sum(r.rank_e9 // o.od) + 50) // 100 AS BIGINT)
           AS rank_e9
  FROM edges e
  JOIN {prev} r ON e.src = r.node
  JOIN outdeg o ON e.src = o.src
  GROUP BY e.dst"""


Q_PAGERANK_SQL = f"""
WITH pairs AS (
  SELECT DISTINCT 'c' || o.o_custkey AS cnode, 's' || l.l_suppkey AS snode
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
), edges AS (
  SELECT cnode AS src, snode AS dst FROM pairs
  UNION ALL
  SELECT snode AS src, cnode AS dst FROM pairs
), outdeg AS (
  SELECT src, count(*) AS od FROM edges GROUP BY src
), r0 AS (
  SELECT src AS node, CAST({INIT_E9} AS BIGINT) AS rank_e9 FROM outdeg
), r1 AS ({_it_sql('r0')}
), r2 AS ({_it_sql('r1')}
), r3 AS ({_it_sql('r2')}
)
SELECT node, rank_e9 FROM r3 ORDER BY node
"""


def _it_w_sql(prev: str) -> str:
    return f"""
  SELECT e.dst AS node,
         CAST(150000000 + (85 * sum((r.rank_e9 * e.w) // o.od) + 50) // 100
              AS BIGINT) AS rank_e9
  FROM edges e
  JOIN {prev} r ON e.src = r.node
  JOIN outdeg o ON e.src = o.src
  GROUP BY e.dst"""


Q_PAGERANK_WEIGHTED_SQL = f"""
WITH pairs AS (
  SELECT 'c' || o.o_custkey AS cnode, 's' || l.l_suppkey AS snode,
         count(DISTINCT o.o_orderkey) AS w
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  GROUP BY cnode, snode
), edges AS (
  SELECT cnode AS src, snode AS dst, w FROM pairs
  UNION ALL
  SELECT snode AS src, cnode AS dst, w FROM pairs
), outdeg AS (
  SELECT src, CAST(sum(w) AS BIGINT) AS od FROM edges GROUP BY src
), r0 AS (
  SELECT src AS node, CAST({INIT_E9} AS BIGINT) AS rank_e9 FROM outdeg
), r1 AS ({_it_w_sql('r0')}
), r2 AS ({_it_w_sql('r1')}
), r3 AS ({_it_w_sql('r2')}
)
SELECT node, rank_e9 FROM r3 ORDER BY node
"""


# --- triangle counting (degree-oriented enumeration) -------------------------


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected part co-purchase graph: distinct (p1 < p2) pairs of parts
    appearing in the same order.  Unlike the supplier co-order graph (which
    is near-complete at every SF — measured), this one stays sparse as data
    grows: edges ~ orders x (parts-per-order choose 2) over a quadratically
    growing part domain."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("p1"), F.col("b.l_partkey").alias("p2")
        )
        .distinct()
    )


def q_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part triangle participation counts in the co-purchase graph:
    (p_partkey, n_triangles) for every part in >= 1 triangle.

    Algorithm: degree-oriented triangle enumeration — every edge is
    directed from the endpoint with the smaller (degree, node) key to the
    larger, wedges (a->x, a->y) are enumerated with x before y in that
    SAME total order, and the closing edge is then always the oriented
    (x->y).  Each triangle is found exactly once, and the out-degree of
    any vertex is O(sqrt(|E|)) regardless of its raw degree (the classic
    arboricity bound), so the wedge join cannot blow up on hub nodes —
    THE property that makes triangle enumeration survive a 100x scale-up
    where naive neighbor-pair expansion dies on skew.  All joins are
    equi-joins on vertex keys; the (degree, node) comparisons ride along
    as join filters — no global rank, no window over an unpartitioned
    frame, no driver-side state."""
    return (
        triangle_counts(_copurchase_edges(spark, sf_dir))
        .withColumnRenamed("node", "p_partkey")
        .orderBy("p_partkey")
    )


def triangle_counts(e: DataFrame) -> DataFrame:
    """(p1, p2) undirected distinct edges -> (node, n_triangles) for every
    node in >= 1 triangle, each triangle counted once per vertex.  See
    q_triangle_counts for the orientation argument."""
    deg = (
        e.select(F.col("p1").alias("p"))
        .unionAll(e.select(F.col("p2").alias("p")))
        .groupBy("p")
        .agg(F.count("*").alias("d"))
    )
    # orient by the (degree, node) total order; carry the head's order key
    # so the wedge join never re-fetches degrees
    k1 = F.struct(F.col("d1").alias("d"), F.col("p1").alias("p"))
    k2 = F.struct(F.col("d2").alias("d"), F.col("p2").alias("p"))
    ed = (
        e.join(deg.withColumnRenamed("p", "p1").withColumnRenamed("d", "d1"), "p1")
        .join(deg.withColumnRenamed("p", "p2").withColumnRenamed("d", "d2"), "p2")
        .select(
            F.when(k1 < k2, F.col("p1")).otherwise(F.col("p2")).alias("a"),
            F.when(k1 < k2, F.col("p2")).otherwise(F.col("p1")).alias("b"),
            F.when(k1 < k2, k2).otherwise(k1).alias("kb"),
        )
        # NO fence here, deliberately: the three consumers (both wedge
        # sides + the closing-edge probe) are identical subtrees, so
        # ReuseExchange already deduplicates the derivation — a lazy
        # fence measured SLOWER (8.9 s → 11.2 s at sf0.1: the
        # RDD fence blocks whole-stage codegen fusion and adds a
        # materialization, while saving nothing that wasn't already
        # reused).  Contrast with pagerank/setsim, whose consumers differ.
    )
    e1, e2, e3 = ed.alias("e1"), ed.alias("e2"), ed.alias("e3")
    tri = (
        e1.join(
            e2,
            (F.col("e1.a") == F.col("e2.a")) & (F.col("e1.kb") < F.col("e2.kb")),
        )
        .select(
            F.col("e1.a").alias("ta"),
            F.col("e1.b").alias("tx"),
            F.col("e2.b").alias("ty"),
        )
        .join(
            e3,
            (F.col("tx") == F.col("e3.a")) & (F.col("ty") == F.col("e3.b")),
        )
        .select("ta", "tx", "ty")
    )
    return (
        tri.select(F.explode(F.array("ta", "tx", "ty")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("n_triangles"))
    )


Q_TRIANGLES_SQL = """
WITH e AS (
  SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
  FROM lineitem a
  JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
), deg AS (
  SELECT p, count(*) AS d
  FROM (SELECT p1 AS p FROM e UNION ALL SELECT p2 FROM e)
  GROUP BY p
), o AS (
  SELECT CASE WHEN (d1.d, e.p1) < (d2.d, e.p2) THEN e.p1 ELSE e.p2 END AS a,
         CASE WHEN (d1.d, e.p1) < (d2.d, e.p2) THEN e.p2 ELSE e.p1 END AS b,
         CASE WHEN (d1.d, e.p1) < (d2.d, e.p2) THEN d2.d ELSE d1.d END AS db
  FROM e JOIN deg d1 ON e.p1 = d1.p JOIN deg d2 ON e.p2 = d2.p
), tri AS (
  SELECT e1.a AS ta, e1.b AS tx, e2.b AS ty
  FROM o e1
  JOIN o e2 ON e1.a = e2.a AND (e1.db, e1.b) < (e2.db, e2.b)
  JOIN o e3 ON e3.a = e1.b AND e3.b = e2.b
)
SELECT p_partkey, count(*) AS n_triangles
FROM (SELECT ta AS p_partkey FROM tri
      UNION ALL SELECT tx FROM tri
      UNION ALL SELECT ty FROM tri)
GROUP BY p_partkey
ORDER BY p_partkey
"""


def q_degree_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """log2-bucket degree histogram of the co-purchase graph:
    (bucket, n_parts, min_degree, max_degree) where bucket =
    floor(log2(degree)).  The one-line summary a pipeline checks before
    choosing a join strategy on graph data (hub detection)."""
    e = _copurchase_edges(spark, sf_dir)
    deg = (
        e.select(F.col("p1").alias("p"))
        .unionAll(e.select(F.col("p2").alias("p")))
        .groupBy("p")
        .agg(F.count("*").alias("d"))
    )
    bucket = F.floor(F.log2("d")).cast("long")
    return (
        deg.groupBy(bucket.alias("bucket"))
        .agg(
            F.count("*").alias("n_parts"),
            F.min("d").alias("min_degree"),
            F.max("d").alias("max_degree"),
        )
        .orderBy("bucket")
    )


Q_DEGREE_HIST_SQL = """
WITH e AS (
  SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
  FROM lineitem a
  JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
), deg AS (
  SELECT p, count(*) AS d
  FROM (SELECT p1 AS p FROM e UNION ALL SELECT p2 FROM e)
  GROUP BY p
)
SELECT CAST(floor(log2(d)) AS BIGINT) AS bucket, count(*) AS n_parts,
       min(d) AS min_degree, max(d) AS max_degree
FROM deg
GROUP BY bucket
ORDER BY bucket
"""


# --- BFS hop distances (graph traversal) -------------------------------------

BFS_SOURCE = "c1"
BFS_MAX_HOPS = 4


def bfs_hops(
    edges: DataFrame, source: str, max_hops: int = BFS_MAX_HOPS
) -> DataFrame:
    """(node, hops) for every node reachable from ``source`` in at most
    ``max_hops`` arcs — hops is the exact shortest distance.

    Iterative frontier expansion: each hop is ONE |frontier ⋈ edges|
    equi-join on src, then a left-anti against the visited set so the
    frontier carries only newly discovered nodes (work per hop is
    proportional to the NEW frontier, the textbook distributed BFS).
    Both accumulators are |V|-bounded and eagerly fenced per hop —
    bounded lineage, same discipline as pagerank(checkpoint_every); the
    frontier's fence job also counts it, so the stop test runs no job."""
    visited = edges.sparkSession.createDataFrame(
        [(source, 0)], "node string, hops int"
    )
    frontier = visited
    for hop in range(1, max_hops + 1):
        nxt = (
            frontier.join(edges, frontier.node == edges.src)
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("hops", F.lit(hop))
        )
        nxt, seen = fence_observed(nxt, "bfs_hops frontier", n=F.count("*"))
        if not seen["n"]:
            break
        visited = visited.unionByName(nxt).transform(_fence, "bfs_hops visited")
        frontier = nxt
    return visited


def q_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shortest hop distance from customer node {BFS_SOURCE} to every node
    within {BFS_MAX_HOPS} hops of the mirrored trading graph."""
    return bfs_hops(_edges(spark, sf_dir), BFS_SOURCE).orderBy("node")


Q_BFS_SQL = f"""
WITH RECURSIVE pairs AS (
  SELECT DISTINCT 'c' || o.o_custkey AS cnode, 's' || l.l_suppkey AS snode
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
), edges AS (
  SELECT cnode AS src, snode AS dst FROM pairs
  UNION ALL
  SELECT snode AS src, cnode AS dst FROM pairs
), walk AS (
  SELECT '{BFS_SOURCE}' AS node, 0 AS hops
  UNION
  SELECT e.dst AS node, w.hops + 1
  FROM walk w JOIN edges e ON w.node = e.src
  WHERE w.hops < {BFS_MAX_HOPS}
)
SELECT node, CAST(min(hops) AS INT) AS hops
FROM walk GROUP BY node
ORDER BY node
"""


QUERIES = {
    "q_pagerank": q_pagerank,
    "q_bfs_hops": q_bfs_hops,
    "q_pagerank_weighted": q_pagerank_weighted,
    "q_triangle_counts": q_triangle_counts,
    "q_degree_hist": q_degree_hist,
}
ORACLES = {
    "q_pagerank": Q_PAGERANK_SQL,
    "q_bfs_hops": Q_BFS_SQL,
    "q_pagerank_weighted": Q_PAGERANK_WEIGHTED_SQL,
    "q_triangle_counts": Q_TRIANGLES_SQL,
    "q_degree_hist": Q_DEGREE_HIST_SQL,
}
