"""Bucketed co-located join: the join over identically-bucketed tables must
plan with NO shuffle (Exchange) on either side."""

import pytest

from pyspark.sql import functions as F


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    from changegen_spark.sources.bucketed import write_bucketed
    from changegen_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    # bucket both fact tables identically on the order key
    write_bucketed(li, "colocated_lineitem", "l_orderkey", 8)
    write_bucketed(orders, "colocated_orders", "o_orderkey", 8)
    bli, bord = spark.table("colocated_lineitem"), spark.table("colocated_orders")

    # disable auto-broadcast so the big-big (sort-merge) case is exercised —
    # that's the join shape bucketing exists for
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bli.join(bord, bli.l_orderkey == bord.o_orderkey).groupBy(
            "o_orderstatus"
        ).agg(F.count("*").alias("n"))
        result = sorted(map(tuple, joined.collect()))
        plan = joined._jdf.queryExecution().executedPlan().toString()
        plan = plan.split("== Initial Plan ==")[0]  # final AQE plan only
        join_section = plan.split("SortMergeJoin", 1)[-1]
        assert "SortMergeJoin" in plan
        assert "SelectedBucketsCount: 8 out of 8" in plan
        # the join inputs come straight from bucketed scans: no Exchange
        # below the join (the only shuffle allowed is the post-join agg)
        assert join_section.count("Exchange") == 0, join_section
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    # and the answer matches the unbucketed plan
    plain = li.join(orders, li.l_orderkey == orders.o_orderkey).groupBy(
        "o_orderstatus"
    ).agg(F.count("*").alias("n"))
    assert result == sorted(map(tuple, plain.collect()))


@pytest.mark.slow
def test_incremental_dedup_persisted_corpus_no_corpus_shuffle(spark, sf_dir):
    """The daily-increment dedup against the PERSISTED bucketed corpus
    (r2 verdict item #8): the corpus side of both the exact-hash semi-join
    and the LSH band join must read its bucketed layout with zero
    Exchange — only the (small) batch side shuffles.  Verdicts must equal
    the inline-corpus oracle query's."""
    from changegen_spark.queries.scale import (
        incremental_dedup_flags,
        persist_dedup_corpus,
        q_incremental_dedup,
    )
    from changegen_spark.sources.tables import load_table

    d = load_table(spark, str(sf_dir), "documents")
    is_batch = F.col("doc_id") % 10 >= 8
    corpus, batch = d.filter(~is_batch), d.filter(is_batch)
    ch, cb = persist_dedup_corpus(spark, corpus, prefix="t_dedup", num_buckets=8)

    # plant one exact duplicate (a corpus doc re-sent in the batch) so
    # AQE's empty-relation propagation cannot prune the exact-hash
    # semi-join out of the final plan
    planted = batch.unionByName(
        corpus.orderBy("doc_id").limit(1).withColumn(
            "doc_id", F.col("doc_id") + 1_000_000
        )
    )

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = incremental_dedup_flags(planted, ch, cb)
        rows = {r["doc_id"]: r for r in out.collect()}
        assert rows[1_000_000].status == "dup_exact"  # semi-join exercised
        plan = out._jdf.queryExecution().executedPlan().toString()
        plan = plan.split("== Initial Plan ==")[0]
        lines = plan.splitlines()
        # both corpus scans must read their bucketed layout...
        scans = [
            i
            for i, l in enumerate(lines)
            if "SelectedBucketsCount" in l and "t_dedup_" in l
        ]
        # both artifacts read their bucketed layout (a subtree may be
        # planned twice; every occurrence must be a bucketed scan)
        assert {
            "hashes" if "t_dedup_hashes" in lines[i] else "bands" for i in scans
        } == {"hashes", "bands"}, plan
        # ...and have NO Exchange between the scan and their join: climb
        # the ancestor path (the nearest line above at strictly smaller
        # operator indent is the parent; anything else belongs to a
        # sibling subtree) — the first Join-or-Exchange ancestor must be
        # the Join itself
        import re

        def op_depth(line):
            m = re.search(r"[+:]- ", line)
            return m.start() if m else None

        for i in scans:
            depth = op_depth(lines[i])
            j = i
            while j > 0:
                j -= 1
                dj = op_depth(lines[j])
                if dj is None or dj >= depth:
                    continue
                if "Join" in lines[j] or "Exchange" in lines[j]:
                    assert "Join" in lines[j], lines[j]
                    break
                depth = dj  # non-join parent: keep climbing the path
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    # verdicts from the persisted-corpus path match the inline oracle query
    got = [tuple(r) for r in incremental_dedup_flags(batch, ch, cb).collect()]
    want = [tuple(r) for r in q_incremental_dedup(spark, str(sf_dir)).collect()]
    assert got == want


def test_pagerank_bucketed_edges_no_src_exchange(spark, sf_dir):
    """The SCALE.md claim for iterative graph scoring: pre-bucketing the
    edge list by ``src`` satisfies BOTH per-iteration distributions keyed
    on src (the out-degree aggregate and the edges x ranks join) from the
    bucketed layout — no Exchange keyed on src anywhere in the plan; the
    only shuffles left are keyed on dst (the contribution sums).  Results
    must equal the unbucketed plan's bit for bit."""
    from changegen_spark.queries.graph import _edges, pagerank
    from changegen_spark.sources.bucketed import write_bucketed

    edges = _edges(spark, str(sf_dir))
    write_bucketed(edges, "t_pr_edges", "src", num_buckets=8)
    bedges = spark.table("t_pr_edges")

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # fence=False: the bucketed table IS the materialized artifact —
        # fencing through an RDD would erase the bucket metadata Catalyst
        # needs to drop the src exchanges
        pr = pagerank(bedges, iters=2, fence=False)
        rows = sorted(map(tuple, pr.collect()))
        plan = pr._jdf.queryExecution().executedPlan().toString()
        plan = plan.split("== Initial Plan ==")[0]
        assert "Exchange hashpartitioning(src" not in plan, plan
        assert "Exchange hashpartitioning(dst" in plan  # the real shuffle
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    plain = sorted(map(tuple, pagerank(edges, iters=2, fence=False).collect()))
    assert rows == plain
