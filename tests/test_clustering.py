"""Connected-components / dedup keep-list unit tests."""


import pytest

def test_connected_components(spark):
    from changegen_spark.functions.clustering import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (8, 9), (9, 1)], "id_a long, id_b long"
    )
    comp = {r["node"]: r["comp"] for r in connected_components(edges).collect()}
    # {1,2,3,8,9} merge through 9-1; {5,6} separate
    assert comp[1] == comp[2] == comp[3] == comp[8] == comp[9] == 1
    assert comp[5] == comp[6] == 5


def test_dedup_keep_list(spark):
    from changegen_spark.functions.clustering import dedup_keep_list

    docs = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
    pairs = spark.createDataFrame([(0, 3), (3, 4)], "id_a long, id_b long")
    rows = {r["doc_id"]: r for r in dedup_keep_list(docs, pairs).collect()}
    assert rows[0]["keep"] and rows[0]["cluster"] == 0
    assert not rows[3]["keep"] and rows[3]["cluster"] == 0
    assert not rows[4]["keep"] and rows[4]["cluster"] == 0
    for solo in (1, 2, 5):
        assert rows[solo]["keep"] and rows[solo]["cluster"] == solo


def test_keep_best_prefers_longest_then_min_id(spark):
    """q_dedup_keep_best keeps the longest cluster member; equal lengths
    break to the smaller doc_id."""
    from pyspark.sql import functions as F

    import changegen_spark.queries.textops as tx

    near = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (1, near),                      # cluster A, len ties with 2
        (2, near),                      # -> doc 1 kept (min id on tie)
        (3, near + " plus extra tail"), # longest in cluster A -> kept
        (9, "zz completely different unrelated text body here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string").withColumn(
        "lang", F.lit("en")
    ).withColumn("source", F.lit("s")).withColumn("n_chars", F.length("text"))
    orig = tx._docs
    tx._docs = lambda _s, _d: df
    try:
        got = {r["doc_id"]: r for r in tx.q_dedup_keep_best(spark, "u").collect()}
    finally:
        tx._docs = orig
    assert set(got) == {1, 2, 3}  # doc 9 unclustered
    assert got[3]["keep"] is True
    assert got[1]["keep"] is False and got[2]["keep"] is False


@pytest.mark.slow
def test_cc_deep_chain_converges_and_cap_raises(spark):
    """A deep path graph converges within the default cap (rounds are
    bounded by O(log² n), not by the diameter); a cap too small to
    converge must RAISE, never return wrong labels."""
    import pytest
    from pyspark.sql import functions as F

    from changegen_spark.functions.clustering import connected_components

    chain = spark.range(999).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    st = {}
    comp = connected_components(chain, stats=st)
    assert comp.select("comp").distinct().count() == 1
    assert comp.count() == 1000
    assert st["rounds"] <= 20
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=4)


def _jobs_started(spark, fn):
    """(fn(), number of Spark jobs fn started on this thread)."""
    import uuid

    sc = spark.sparkContext
    group = f"cc-jobs-{uuid.uuid4().hex}"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_cc_round_counts_moves_in_its_fence_job(spark):
    """A 6-node chain, an 8-node star and one pair reach the star forest
    on round 3, so the call runs 4 rounds.  Each round is two windows and
    one aggregate behind one fence whose job also counts the edges the
    round added, so no round runs a second job to test the fixpoint."""
    from changegen_spark.functions.clustering import connected_components

    chain = [(i, i + 1) for i in range(1, 6)]
    star = [(10, leaf) for leaf in range(11, 18)]
    edges = spark.createDataFrame(chain + star + [(20, 21)], "id_a long, id_b long")
    st = {}
    comp, jobs = _jobs_started(
        spark, lambda: connected_components(edges, stats=st)
    )
    assert st["rounds"] == 4
    assert jobs <= 40, jobs
    assert {r["node"]: r["comp"] for r in comp.collect()} == {
        **{i: 1 for i in range(1, 7)},
        **{i: 10 for i in range(10, 18)},
        20: 20,
        21: 20,
    }


def _union_find(edges):
    """{node: min node id of its component}, computed without Spark."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def _cc_labels(spark, edges, **kw):
    from changegen_spark.functions.clustering import connected_components

    got = connected_components(
        spark.createDataFrame(edges, "id_a long, id_b long"), **kw
    )
    return {r["node"]: r["comp"] for r in got.collect()}


def test_cc_deep_path_matches_union_find(spark):
    """A 40-node path beside two small components: the labels must equal
    a plain union-find's (component = min node id)."""
    path = [(100 + i, 101 + i) for i in range(39)]
    edges = path + [(7, 9), (9, 3), (50, 60)]
    assert _cc_labels(spark, edges) == _union_find(edges)


@pytest.mark.parametrize("n,id_range", [(40, 400), (1000, 100_000)])
def test_cc_shuffled_deep_path_matches_union_find(spark, n, id_range):
    """A path whose ids are shuffled converges at the default max_iter:
    the star rounds' bound does not depend on the order of the ids along
    a path (6 rounds for 40 nodes, 9 for 1,000)."""
    import random

    ids = random.Random(0).sample(range(id_range), n)
    edges = list(zip(ids, ids[1:]))
    assert _cc_labels(spark, edges) == _union_find(edges)


def test_cc_self_loop_and_empty(spark):
    """A node whose only edge is a self-loop is its own component; an
    empty edge list gives no labels."""
    edges = [(5, 5), (1, 2)]
    assert _cc_labels(spark, edges) == {1: 1, 2: 1, 5: 5}
    st = {}
    assert _cc_labels(spark, [], stats=st) == {}
    assert st["rounds"] == 1
