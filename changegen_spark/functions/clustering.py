"""Connected components over candidate-pair graphs — the last stage of a
real dedup pipeline (LSH pairs → duplicate CLUSTERS → one kept doc each).

Alternating large-star / small-star rounds (Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC 2014) on DataFrames.  The graph
is a set of oriented edges (a, b), a ≤ b; each round rewires it, without
changing its components, towards a forest of stars whose centres are the
components' minimum ids:

- large-star: every neighbour above a node is linked to the least id in
  the node's closed neighbourhood;
- small-star: every neighbour below a node, and the node itself, is
  linked to the least of those neighbours.

The paper bounds the rounds by O(log² n) whatever the order of the ids
(a shuffled 1,000-node path takes 9 rounds).  Each step is one window
``min`` keyed by node, so a hub's neighbourhood never becomes one array;
each round ends in one eager fence, whose job also counts the edges that
the round added, so the fixpoint test costs no second job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from changegen_spark.operators.fence import fence_observed


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 20,
    stats: dict | None = None,
) -> DataFrame:
    """(node, component) for every node in the edge list; component = min
    node id of the connected component.  ``stats``, if given, receives
    {"rounds": n} — the rounds executed, including the last one, which
    changes nothing and so proves the fixpoint.  A fixpoint is observable
    only one round after it is reached, so a graph still changing after
    ``max_iter`` rounds gets one more to confirm it; if that round changes
    the graph too, the call raises instead of returning split clusters.
    """
    a, b, m = F.col("a"), F.col("b"), F.col("m")
    # every edge oriented low → high, plus a self-loop on its low end, so
    # every node is some edge's b (the invariant each round keeps, and
    # what makes the last graph read off as labels).  Fenced once: the
    # rounds read it three times, and the upstream candidate plan behind
    # `edges` must run only once
    pairs = edges.select(F.least(src, dst).alias("a"), F.greatest(src, dst).alias("b"))
    graph, seen = fence_observed(
        pairs.unionByName(pairs.select("a", a.alias("b"))).distinct(),
        "connected_components edges",
        edges=F.count("*"),
    )
    for rounds in range(1, max_iter + 2):
        size = seen["edges"]
        # large-star over both directions of each edge: link (b, m) for
        # every neighbour b above a, m the least id in a's closed
        # neighbourhood.  A self-loop survives only where m is a itself:
        # that keeps an isolated node in the graph without adding an
        # edge per node per round
        sym = graph.unionByName(graph.where(a < b).select(b.alias("a"), a.alias("b")))
        large = (
            sym.withColumn("m", F.least(a, F.min(b).over(Window.partitionBy("a"))))
            .where((b > a) | ((b == a) & (m == a)))
            .select(b.alias("u"), m.alias("v"))
        )
        # small-star: large's edges (u, v) have v ≤ u, so a node's lower
        # neighbours are its v's; link each of them, and u, to their least
        star = large.withColumn(
            "a", F.min("v").over(Window.partitionBy("u"))
        ).select("a", F.explode(F.array("v", "u")).alias("b"))
        # one aggregate dedups the new edges and marks the ones the old
        # graph lacked: no new edge added and no edge count change means
        # the graph is unchanged
        graph, seen = fence_observed(
            star.withColumn("old", F.lit(False))
            .unionByName(graph.withColumn("old", F.lit(True)))
            .groupBy("a", "b")
            .agg(F.min("old").alias("dropped"), F.max("old").alias("kept"))
            .where(~F.col("dropped")),
            "connected_components round",
            added=F.count_if(~F.col("kept")),
            edges=F.count("*"),
        )
        graph = graph.select("a", "b")
        if seen["added"] == 0 and seen["edges"] == size:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds; "
            f"the last round added {seen['added']} edges — refusing to "
            "return silently split clusters"
        )
    if stats is not None:
        stats["rounds"] = rounds
    # a star forest: each node is the b of exactly one edge, from its centre
    return graph.select(b.alias("node"), a.alias("comp"))


def dedup_keep_list(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Full dedup decision: cluster candidate pairs, keep the min-id doc of
    each cluster, pass through unpaired docs.  Output: (doc_id, cluster,
    keep)."""
    comp = connected_components(pairs)
    out = docs.select(F.col(id_col).alias("doc_id")).join(
        comp, F.col("doc_id") == comp.node, "left"
    )
    cluster = F.coalesce(F.col("comp"), F.col("doc_id"))
    return out.select(
        "doc_id",
        cluster.alias("cluster"),
        (F.col("doc_id") == cluster).alias("keep"),
    )
