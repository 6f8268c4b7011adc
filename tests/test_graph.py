"""Integer-exact PageRank tests: Spark vs an independent dict-based
reference implementation, plus the invariants the integer formulation
guarantees (determinism across partitionings, rank bounds)."""

from changegen_spark.queries.graph import INIT_E9, pagerank


def _ref_pagerank(arcs, iters):
    """Straight-line dict implementation of the same integer recurrence."""
    outdeg = {}
    for s, _d in arcs:
        outdeg[s] = outdeg.get(s, 0) + 1
    ranks = {n: INIT_E9 for n in outdeg}
    for _ in range(iters):
        sums = {}
        for s, d in arcs:
            sums[d] = sums.get(d, 0) + ranks[s] // outdeg[s]
        ranks = {n: 150_000_000 + (85 * v + 50) // 100 for n, v in sums.items()}
    return ranks


ARCS = [
    ("a", "b"), ("b", "a"),
    ("a", "c"), ("c", "a"),
    ("b", "c"), ("c", "b"),
    ("c", "d"), ("d", "c"),
    ("d", "e"), ("e", "d"),
]


def test_pagerank_matches_reference(spark):
    df = spark.createDataFrame(ARCS, "src string, dst string")
    got = {r["node"]: r["rank_e9"] for r in pagerank(df, iters=3).collect()}
    assert got == _ref_pagerank(ARCS, 3)
    # hub c (degree 3) outranks the periphery; leaf e is lowest
    assert got["c"] == max(got.values())
    assert got["e"] == min(got.values())


def test_pagerank_partitioning_invariant(spark):
    """Integer arithmetic makes the result independent of shuffle order:
    1 partition and 7 partitions must agree bit-for-bit."""
    df1 = spark.createDataFrame(ARCS, "src string, dst string").coalesce(1)
    df7 = spark.createDataFrame(ARCS, "src string, dst string").repartition(7)
    r1 = sorted(map(tuple, pagerank(df1, iters=2).collect()))
    r7 = sorted(map(tuple, pagerank(df7, iters=2).collect()))
    assert r1 == r7


def test_pagerank_regular_graph_is_uniform(spark):
    """On a k-regular graph every node keeps exactly the same rank, and the
    closed form is representable exactly in the integer recurrence."""
    cycle = [("n%d" % i, "n%d" % ((i + 1) % 4)) for i in range(4)]
    arcs = cycle + [(d, s) for s, d in cycle]
    df = spark.createDataFrame(arcs, "src string, dst string")
    got = {r["node"]: r["rank_e9"] for r in pagerank(df, iters=3).collect()}
    assert len(set(got.values())) == 1  # symmetry preserved exactly
    assert got == _ref_pagerank(arcs, 3)


def test_weighted_pagerank_matches_reference(spark):
    """Weighted recurrence vs an independent dict implementation; a heavy
    edge must pull rank toward its endpoint relative to the uniform run."""
    arcs_w = [(s, d, 1) for s, d in ARCS]
    # overweight the a<->b link 5x
    arcs_w = [
        (s, d, 5 if {s, d} == {"a", "b"} else w) for s, d, w in arcs_w
    ]

    def ref(arcs, iters):
        strength = {}
        for s, _d, w in arcs:
            strength[s] = strength.get(s, 0) + w
        ranks = {n: 1_000_000_000 for n in strength}
        for _ in range(iters):
            sums = {}
            for s, d, w in arcs:
                sums[d] = sums.get(d, 0) + (ranks[s] * w) // strength[s]
            ranks = {
                n: 150_000_000 + (85 * v + 50) // 100 for n, v in sums.items()
            }
        return ranks

    from changegen_spark.queries.graph import pagerank

    df = spark.createDataFrame(arcs_w, "src string, dst string, w long")
    got = {r["node"]: r["rank_e9"] for r in pagerank(df, iters=3).collect()}
    assert got == ref(arcs_w, 3)
    # uniform ranks for comparison: b gains from the heavy a-link
    uni = {r["node"]: r["rank_e9"] for r in pagerank(
        spark.createDataFrame(ARCS, "src string, dst string"), iters=3
    ).collect()}
    assert got["b"] > uni["b"]


def test_triangle_counts_known_graphs(spark):
    from changegen_spark.queries.graph import triangle_counts

    def run(pairs):
        df = spark.createDataFrame(pairs, "p1 long, p2 long")
        return {r["node"]: r["n_triangles"] for r in triangle_counts(df).collect()}

    # K4: every one of the 4 triangles hits 3 of the 4 vertices
    k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    assert run(k4) == {1: 3, 2: 3, 3: 3, 4: 3}
    # path graph: no triangles at all
    assert run([(1, 2), (2, 3), (3, 4)]) == {}
    # hub-and-spoke plus one rim edge: exactly one triangle (hub, 2, 3) —
    # the hub's high degree must not multiply the count (orientation bound)
    hub = [(10, 2), (10, 3), (10, 4), (10, 5), (10, 6), (2, 3)]
    assert run(hub) == {10: 1, 2: 1, 3: 1}


def test_triangle_counts_partitioning_invariant(spark):
    from changegen_spark.queries.graph import triangle_counts

    k5 = [(a, b) for a in range(1, 6) for b in range(a + 1, 6)]
    df1 = spark.createDataFrame(k5, "p1 long, p2 long").coalesce(1)
    df7 = spark.createDataFrame(k5, "p1 long, p2 long").repartition(7)
    r1 = sorted(map(tuple, triangle_counts(df1).collect()))
    r7 = sorted(map(tuple, triangle_counts(df7).collect()))
    # K5 has C(4,2)=6 triangles through each vertex
    assert r1 == r7 == [(n, 6) for n in range(1, 6)]


def test_pagerank_deep_with_checkpoints(spark):
    """12 iterations with checkpoint_every=4 must equal the straight-line
    reference — checkpointing changes the plan, never the numbers — and
    the lineage fence must actually truncate the plan depth."""
    df = spark.createDataFrame(ARCS, "src string, dst string")
    got = {
        r["node"]: r["rank_e9"]
        for r in pagerank(df, iters=12, checkpoint_every=4).collect()
    }
    assert got == _ref_pagerank(ARCS, 12)


def test_bfs_hops_shortest_distances(spark):
    """BFS must report SHORTEST hop counts (a node reachable at hop 1 and
    again at hop 3 reports 1), stop at max_hops, and exclude unreachable
    components."""
    from changegen_spark.queries.graph import bfs_hops

    arcs = (
        ARCS
        + [("x", "y"), ("y", "x")]  # disconnected component
        + [("e", "f"), ("f", "e")]  # f is 3 hops from a (a-c-d-e-f = 4)
    )
    df = spark.createDataFrame(arcs, "src string, dst string")
    got = {r["node"]: r["hops"] for r in bfs_hops(df, "a", max_hops=3).collect()}
    assert got == {"a": 0, "b": 1, "c": 1, "d": 2, "e": 3}
    assert "x" not in got and "f" not in got
    # depth 4 reaches f
    got4 = {r["node"]: r["hops"] for r in bfs_hops(df, "a", max_hops=4).collect()}
    assert got4["f"] == 4
