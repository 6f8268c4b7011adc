"""Plan-quality tests: the optimizer behaviors the engine depends on at
100 TB must hold in the physical plan, not just in intent (task brief:
"would this plan survive a 100× scale-up?")."""

import pytest

from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_q01_scan_prunes_and_pushes(spark, sf_dir):
    """Column pruning + predicate pushdown must reach the parquet scan."""
    from changegen_spark.queries.relational import q01_pricing_summary

    plan = _plan(q01_pricing_summary(spark, sf_dir))
    scan = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    # 7 of 11 lineitem columns read
    assert "l_orderkey" not in scan and "l_partkey" not in scan
    assert "l_returnflag" in scan and "l_shipdate" in scan
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_q05_joins_broadcast_dimensions(spark, sf_dir):
    """Every dimension join resolves to a broadcast hash join — no
    sort-merge shuffle of the fact table against small sides."""
    from changegen_spark.queries.relational import q05_region_revenue

    plan = _plan(q05_region_revenue(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") == 5
    assert "SortMergeJoin" not in plan


def test_q03_filters_orders_before_lineitem_join(spark, sf_dir):
    """The broadcast BUILDING-customer join must execute BELOW the
    lineitem⋈orders join (r7 verdict #4): the big shuffle probe then
    carries only the ~1/5 of orders in the segment.  In the printed plan
    tree, deeper operators appear later — so the o_custkey join line must
    come after the l_orderkey join line."""
    from changegen_spark.queries.relational import q03_top_orders

    plan = _plan(q03_top_orders(spark, sf_dir))
    lines = plan.splitlines()
    orderkey_join = next(
        i for i, l in enumerate(lines) if "Join" in l and "o_orderkey" in l
    )
    custkey_join = next(
        i for i, l in enumerate(lines) if "Join" in l and "c_custkey" in l
    )
    assert custkey_join > orderkey_join, (
        "customer filter join must sit below the lineitem join"
    )
    assert "BroadcastHashJoin" in lines[custkey_join]


def test_semi_join_stays_semi(spark, sf_dir):
    from changegen_spark.queries.relational import q_semi_join

    plan = _plan(q_semi_join(spark, sf_dir))
    assert "LeftSemi" in plan


def test_grid_join_is_equi_join_not_cartesian(spark):
    """The spatial join must plan as a hash equi-join on grid cells —
    never BroadcastNestedLoop/Cartesian, which would die at scale."""
    from changegen_spark.geo.join import grid_distance_join

    df = spark.range(0, 1000).select(
        F.col("id").alias("pid"),
        (F.col("id") % 97).cast("double").alias("x"),
        (F.col("id") % 89).cast("double").alias("y"),
    )
    plan = _plan(grid_distance_join(df, df, 1.0, exclude_equal=True))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bbox_join_is_equi_join_not_cartesian(spark, sf_dir):
    """The MBR overlap join must pair candidates through the grid-cell
    hash equi-join, not a nested-loop over the inequality predicate."""
    from changegen_spark.queries.geo import q_bbox_join

    plan = _plan(q_bbox_join(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ann_broadcasts_query_side(spark, sf_dir):
    from changegen_spark.functions.similarity import brute_force_topk
    from changegen_spark.sources.tables import load_table

    v = load_table(spark, sf_dir, "embeddings")
    q = v.limit(3).withColumnRenamed("vec_id", "query_id")
    plan = _plan(brute_force_topk(v, q, k=5))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_partition_pruning(spark, sf_dir, tmp_path):
    """Writing date-partitioned parquet and filtering on the partition
    column must prune partitions at the scan (PartitionFilters), not read
    everything — the storage-layout lever for time-series at scale."""
    import os

    from changegen_spark.sources.tables import load_table

    ev = load_table(spark, str(sf_dir), "events").withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    out = os.path.join(tmp_path, "events_by_day")
    ev.write.partitionBy("day").mode("overwrite").parquet(out)

    back = spark.read.parquet(out).filter(F.col("day") == "2024-01-02")
    plan = _plan(back)
    assert "PartitionFilters: [isnotnull(day" in plan or "PartitionFilters: [" in plan
    scan_line = next(l for l in plan.splitlines() if "FileScan" in l)
    assert "day" in scan_line
    # count matches an unpartitioned filter → pruning lost no rows
    expected = ev.filter(F.col("day") == "2024-01-02").count()
    assert back.count() == expected
    assert expected > 0


def test_correctness_window_all_oracle_backed():
    """The driver checks the FIRST 50 registry entries; every slot must
    carry a hash-checkable (oracle-backed) query.  Guards the window
    against registry-order regressions (round-1 postmortem: the e2e parity
    family silently fell outside the checked window)."""
    from changegen_spark.queries import all_oracles, all_queries

    names = list(all_queries())
    oracles = all_oracles()
    assert len(names) >= 50
    missing = [n for n in names[:50] if n not in oracles]
    assert missing == []
    # r9 window contract: the STANDING set (changegen parity core) never
    # rotates out; every rotating slot follows the POST-EXHAUSTION
    # least-recently-direct policy (r8 verdict #1 — the never-direct
    # pool is empty as of this rotation): a rotated name's most recent
    # driver row across all PRIOR rounds must be >= 2 rounds old.
    # Displaced families stay transitively green via the digest shards.
    from changegen_spark.queries import ROTATED_IN, ROTATION_ROUND, STANDING

    window = set(names[:50])
    for must in STANDING:
        assert must in window, must
    # ≥25 entries new to the window vs the previous round's gate, and
    # the LRU policy itself.  "Prior" means rounds strictly before
    # ROTATION_ROUND: the driver's artifact for the CURRENT round
    # contains the current window by definition, so globbing it would
    # make this pin self-breaking the moment each round's artifact
    # lands (the r7 postmortem — the suite was red at judging time).
    import glob
    import json
    import os

    here = os.path.dirname(__file__)
    prev_path = os.path.join(
        here, "..", f"CORRECTNESS_r{ROTATION_ROUND - 1:02d}.json"
    )
    prev = set(json.load(open(prev_path)))
    assert len(window - prev) >= 25, sorted(window - prev)
    artifacts = glob.glob(os.path.join(here, "..", "CORRECTNESS_r*.json"))
    stale = _rotation_pin_violations(artifacts, ROTATION_ROUND, ROTATED_IN)
    assert stale == [], stale


def _artifact_round(path) -> int:
    """Round number encoded in a CORRECTNESS_r{NN}.json filename."""
    import os
    import re

    m = re.search(r"CORRECTNESS_r(\d+)\.json$", os.path.basename(path))
    return int(m.group(1)) if m else -1


def _rotation_pin_violations(artifact_paths, rotation_round, rotated_in):
    """Names from ``rotated_in`` whose most recent driver row is too
    FRESH under the post-exhaustion least-recently-direct policy (r8
    verdict #1): a rotated slot's last appearance in any prior round's
    window must be >= 2 rounds old (last round <= rotation_round - 2);
    a name with no prior row at all (never-direct, or new this round)
    is infinitely old and always admissible.  Artifacts from the
    current round (or later) are excluded: they contain the live window
    by definition and must not fail the pin that shipped it."""
    import json

    last = {}
    for p in artifact_paths:
        rnd = _artifact_round(p)
        if 0 <= rnd < rotation_round:
            for n in json.load(open(p)):
                last[n] = max(last.get(n, 0), rnd)
    return [n for n in rotated_in if last.get(n, 0) > rotation_round - 2]


def test_rotation_pin_survives_current_round_artifact(tmp_path):
    """Meta-test for the r7 postmortem: when the driver drops THIS
    round's CORRECTNESS artifact (which contains the live window), the
    rotation pin must stay green — and a genuinely stale rotation (name
    present in a prior round's artifact) must still be caught."""
    import json

    from changegen_spark.queries import ROTATED_IN, ROTATION_ROUND

    cur = tmp_path / f"CORRECTNESS_r{ROTATION_ROUND:02d}.json"
    cur.write_text(json.dumps({n: {"ok": True} for n in ROTATED_IN}))
    assert (
        _rotation_pin_violations([str(cur)], ROTATION_ROUND, ROTATED_IN) == []
    ), "pin must ignore the current round's own artifact"

    prev = tmp_path / f"CORRECTNESS_r{ROTATION_ROUND - 1:02d}.json"
    prev.write_text(json.dumps({ROTATED_IN[0]: {"ok": True}}))
    assert _rotation_pin_violations(
        [str(cur), str(prev)], ROTATION_ROUND, ROTATED_IN
    ) == [ROTATED_IN[0]], "a genuinely stale rotation must still fail"


def test_lm_score_joins_aggregated_frame(spark, sf_dir):
    """The bigram-count / unigram-count joins must probe the
    (doc_id, w1, w2, c) PRE-AGGREGATED frame, never raw occurrences —
    the r2 verdict's #1 scale hazard (hot bigrams as skew keys × probe-side
    row multiplication).  The aggregation happens map-side inside the Arrow
    UDF (bigram_counts_pandas), so the plan must show the UDF stage, the
    count column ``c`` projected out of the exploded struct (counts exist
    BEFORE any join), and no occurrence-level (doc_id, w1, w2) exchange."""
    import re

    from changegen_spark.queries.lm import q_lm_score

    plan = _plan(q_lm_score(spark, sf_dir))
    assert "ArrowEvalPython" in plan, "per-doc bigram pre-count UDF missing"
    assert re.search(r"bg#\d+\.c", plan), "pre-aggregated count not in join input"
    assert not re.search(
        r"HashAggregate\(keys=\[doc_id#\d+L?, w1#\d+, w2#\d+\]", plan
    ), "occurrence-level regroup should not exist (counts are map-side)"
    assert "CartesianProduct" not in plan


def test_dup_spans_single_explode(spark, sf_dir):
    """The positioned-n-gram explode must be materialized exactly once:
    the corpus-wide frequency is a window count over the gram hash, not a
    groupBy + semi-join pair that re-runs the explode per consumer."""
    from changegen_spark.queries.lm import q_dup_spans

    plan = _plan(q_dup_spans(spark, sf_dir))
    assert plan.count("Generate explode") + plan.count("Generate posexplode") == 1


def test_q10_broadcasts_dimensions(spark, sf_dir):
    """Q10's customer/nation dimension joins must broadcast (no shuffle of
    the fact side for dim enrichment)."""
    from changegen_spark.queries.tpch_extra import q10_returned_items

    plan = _plan(q10_returned_items(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q06_pushes_filters_to_scan(spark, sf_dir):
    """Q6 is the pushdown showcase: the shipdate/quantity predicates must
    reach the parquet reader as PushedFilters."""
    from changegen_spark.queries.tpch_extra import q06_forecast_revenue

    plan = _plan(q06_forecast_revenue(spark, sf_dir))
    scan = next(l for l in plan.splitlines() if "FileScan" in l or "PushedFilters" in l)
    assert "PushedFilters" in plan
    assert "l_shipdate" in plan[plan.index("PushedFilters"):][:400]


def test_q07_dims_broadcast_no_cartesian(spark, sf_dir):
    """Q7's two nation-resolution chains must broadcast their dims; the
    fact-fact orderkey join is the only shuffle-worthy join."""
    from changegen_spark.queries.tpch_full import q07_volume_shipping

    plan = _plan(q07_volume_shipping(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 4
    assert "CartesianProduct" not in plan


def test_q11_threshold_is_broadcast_not_collect(spark, sf_dir):
    """Q11's 1/1000-of-total threshold must appear as a broadcast of a
    1-row aggregate (BroadcastNestedLoopJoin over one row is fine) — the
    scalar subquery never becomes a driver collect in the operator code."""
    from changegen_spark.queries.tpch_full import q11_important_stock

    plan = _plan(q11_important_stock(spark, sf_dir))
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_q21_decorrelates_to_equi_joins(spark, sf_dir):
    """Q21's EXISTS / NOT-EXISTS pair must run as aggregate + equi-joins —
    no nested-loop per-order probing."""
    from changegen_spark.queries.tpch_full import q21_suppliers_waiting

    plan = _plan(q21_suppliers_waiting(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_skipgram_pairs_plan_is_join_free(spark, sf_dir):
    """Skip-gram contexts come from array offsets on the tokenized row —
    the plan must contain NO join of any kind; the only exchange is the
    final pair count (plus its top-k sort)."""
    from changegen_spark.queries.features import q_skipgram_pairs

    plan = _plan(q_skipgram_pairs(spark, sf_dir))
    assert "Join" not in plan  # matches SortMergeJoin/BroadcastHashJoin/...
    assert "CartesianProduct" not in plan


def test_feature_hash_single_aggregation(spark, sf_dir):
    """The hashing trick needs no vocabulary pass: exactly one aggregate
    (with a map-side partial) over the exploded tokens, no join."""
    from changegen_spark.queries.features import q_feature_hash

    plan = _plan(q_feature_hash(spark, sf_dir))
    assert "Join" not in plan
    assert plan.count("HashAggregate") == 2  # partial + final


def test_pagerank_iterations_use_partial_aggregation(spark, sf_dir):
    """Each PageRank step's integer SUM must combine map-side (partial +
    final HashAggregate per iteration), and the rank/edge joins must be
    equi-joins — never nested-loop."""
    from changegen_spark.queries.graph import q_pagerank

    plan = _plan(q_pagerank(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # 3 iterations x (partial + final) for the contribution sums, plus the
    # outdegree aggregate pair
    assert plan.count("HashAggregate") >= 8


def test_bm25_broadcasts_stats_not_corpus(spark, sf_dir):
    """BM25's document-frequency and corpus-stat frames must reach the
    scoring join as broadcasts — no corpus-sized shuffle join side."""
    from changegen_spark.queries.search import q_bm25_search

    plan = _plan(q_bm25_search(spark, sf_dir))
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_assoc_rules_pair_expansion_is_equi_join(spark, sf_dir):
    """The basket pair expansion must be an equi-join on l_orderkey —
    never a nested-loop over the catalog."""
    from changegen_spark.queries.quality import q_assoc_rules

    plan = _plan(q_assoc_rules(spark, sf_dir))
    assert "CartesianProduct" not in plan
    # the basket expansion is a hash equi-join on the order key
    assert any(
        "Join" in l and "l_orderkey" in l and "Cross" not in l
        for l in plan.splitlines()
    )
    # the only nested-loop is the deliberate 1-row n_orders broadcast cross
    assert plan.count("BroadcastNestedLoopJoin") <= 1


def test_markov_single_user_shuffle(spark, sf_dir):
    """The Markov pass shuffles once by user (the lag window) and once for
    the tiny (prev, next) aggregate — no joins at all."""
    from changegen_spark.queries.timeseries import q_markov_transitions

    plan = _plan(q_markov_transitions(spark, sf_dir))
    assert "Join" not in plan


def test_winnow_pairs_equi_join_on_selected_fps(spark, sf_dir):
    """The winnowing pair join must be a hash equi-join on fingerprint
    hashes — never a cartesian/nested-loop — and winnowing selection must
    add no shuffle at all: it runs inside the per-document Arrow gram-hash
    pass (r13), so no Window operator and no doc_id exchange may appear."""
    from changegen_spark.queries.winnow import q_winnow_pairs

    plan = _plan(q_winnow_pairs(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" not in plan


def test_cdc_chunker_is_single_map_pass(spark, sf_dir):
    """CDC chunking must stay map-only — one Arrow UDF projection, no
    positional explode of characters — and the chunk frame must sit
    behind the lazy-checkpoint fence so its three consumers (shared-hash
    filter, dup flags, per-doc stats) trigger exactly ONE chunker run:
    the fenced final plan reads ExistingRDD, not re-evaluated UDFs."""
    from changegen_spark.queries.cdc import _doc_chunks, q_cdc_chunks

    pre = _plan(_doc_chunks(spark, sf_dir))
    assert pre.count("MapInArrow") == 1  # flat rows, no explode needed
    assert "Generate" not in pre and "ArrowEvalPython" not in pre

    plan = _plan(q_cdc_chunks(spark, sf_dir))
    assert "MapInArrow" not in plan and "ArrowEvalPython" not in plan
    assert "ExistingRDD" in plan
    assert "CartesianProduct" not in plan


def test_stratified_split_broadcasts_frames_no_stratum_sort(spark, sf_dir):
    """The offset frame, which also carries each stratum's size, must
    broadcast (it is tiny) — one join, no second frame for the totals —
    and the rank must come from the range partition — no global single-
    partition sort of the data."""
    from changegen_spark.queries.mlprep import q_stratified_split

    plan = _plan(q_stratified_split(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") == 1
    # r9: the (lang, hk) range exchange sits BELOW a localCheckpoint
    # fence (correctness — the ids.py double-execution hazard), so
    # explain shows its materialized form (existingrdd scan) instead of
    # rangepartitioning(lang.  The plan-visible contract is therefore:
    # the data-sized rank is the PARTITION-LOCAL window over
    # (__part, lang) — never a stratum-global window — and nothing
    # collapses the data to a single partition.
    assert "windowspecdefinition(__part" in plan
    assert "scan existingrdd" in plan.lower()
    assert "RoundRobinPartitioning(1)" not in plan


def test_group_topk_pushes_partial_window_limit(spark, sf_dir):
    """Per-group top-k must plan with WindowGroupLimit on BOTH sides of
    the exchange: each map task keeps its local top-3 per group before
    shuffling, so the exchange carries O(k x groups x partitions) rows
    rather than the whole table."""
    from changegen_spark.queries.relational import q_group_topk

    plan = _plan(q_group_topk(spark, sf_dir))
    assert plan.count("WindowGroupLimit") == 2


def test_haversine_pairing_is_range_partitioned(spark, sf_dir):
    """Consecutive-pair lag must run inside the pid range partitions (the
    r3 verdict's single-partition scan is gone): the data-sized window is
    partitioned by __part, and no round-robin collapse to one partition
    feeds it.  The only partition-less window is the <=8-row bounds
    frame."""
    from changegen_spark.queries.geo import q_haversine

    plan = _plan(q_haversine(spark, sf_dir))
    assert "rangepartitioning(pid" in plan.lower()
    assert "windowspecdefinition(__part" in plan
    assert "RoundRobinPartitioning(1)" not in plan


def test_dsir_broadcasts_ratio_and_takeordered_selection(spark, sf_dir):
    """DSIR weighting must join the 4096-row log-ratio table as a
    broadcast and select the top-k via TakeOrdered — no shuffle join
    against the bucket table, no global sort of the corpus."""
    from changegen_spark.queries.mlprep import q_dsir_weights

    plan = _plan(q_dsir_weights(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_dsir_single_corpus_scan_behind_fence(spark, sf_dir):
    """r14: every DSIR consumer (both distributions, the per-doc
    weighting, the top-k self-reference) must read the ONE fenced
    (doc_id, source, bucket, count) histogram — the r13 plan re-planned
    the corpus tokenize+explode ~10 times across its duplicated
    aggregate subtrees.  The fence shows as ExistingRDD; no parquet scan
    may survive outside it."""
    from changegen_spark.queries.mlprep import q_dsir_weights

    plan = _plan(q_dsir_weights(spark, sf_dir))
    assert "ExistingRDD" in plan
    assert "Scan parquet" not in plan


def test_hard_negatives_lsh_broadcasts_anchors_no_cartesian(spark, sf_dir):
    """The LSH hard-negative scale path must resolve every anchor-side
    join as a broadcast (the anchor sample is corpus/100 rows) and the
    band candidate joins as bucket equi-joins — no cartesian product and
    no corpus-vs-corpus sort-merge join anywhere in the plan."""
    from changegen_spark.queries.vectors import q_hard_negatives_lsh

    plan = _plan(q_hard_negatives_lsh(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_reservoir_per_source_pushes_window_group_limit(spark, sf_dir):
    """The per-group sampler must push a partial WindowGroupLimit below
    the shuffle: each map task forwards at most k rows per source
    instead of its whole partition."""
    from changegen_spark.queries.mlprep import q_reservoir_per_source

    plan = q_reservoir_per_source(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("WindowGroupLimit") >= 2  # partial + final


def test_embedding_dedup_lsh_plan_is_equi_join(spark, sf_dir):
    """The dedup scale path must pair candidates through the (band, bucket)
    hash equi-join — never the BroadcastNestedLoopJoin the exact query's
    vec_id > id_a theta join plans as (r4 verdict: the last all-pairs join)."""
    from changegen_spark.queries.vectors import q_embedding_dedup_lsh

    plan = _plan(q_embedding_dedup_lsh(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_corpus_cli_pipeline_has_no_global_sort(spark, sf_dir):
    """The sort=False corpus_pipeline (what the corpus CLI executes before
    the shard sink) must contain NO range-partitioning exchange — at 100 TB
    a full-output presentation sort is a real shuffle whose only purpose is
    display determinism, and the shard sink fixes within-shard order itself
    (sortWithinPartitions).  The contract query keeps its orderBy (and the
    range exchange), pinned here so the two shapes can't silently converge."""
    from changegen_spark.queries.mlprep import corpus_pipeline
    from changegen_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    plan = _plan(corpus_pipeline(docs, sort=False))
    assert "rangepartitioning" not in plan
    assert "rangepartitioning" in _plan(corpus_pipeline(docs))


def test_q17_stats_aggregate_sees_only_brand_parts(spark, sf_dir):
    """r6-verdict #7: Q17's per-part avg-quantity stats must aggregate the
    SEMI-JOINED lineitem (Brand#9 part keys only), not the whole table —
    at 100× the full-key stats exchange is the query's cost.  Pin: every
    lineitem branch in the plan carries a LeftSemi broadcast join against
    the part keys, and the brand filter is pushed to the part scan."""
    from changegen_spark.queries.tpch_full import q17_small_quantity

    plan = _plan(q17_small_quantity(spark, sf_dir))
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    # the p_brand predicate reaches the part parquet scan
    import re

    part_scans = [
        l for l in plan.splitlines() if "FileScan" in l and "part" in l
    ]
    assert any("p_brand" in l for l in part_scans)
    # the stats aggregate (sum_qty/cnt_qty) sits ABOVE a LeftSemi join in
    # the operator tree: the partial aggregate must not consume a raw
    # lineitem scan directly
    lines = plan.splitlines()
    agg_i = next(
        i for i, l in enumerate(lines) if "HashAggregate" in l and "sum_qty" in l
    )
    assert any("LeftSemi" in l for l in lines[agg_i:]), (
        "per-part stats aggregate is not fed by the semi-joined lineitem"
    )


def test_media_mih_candidates_are_equi_joins(spark):
    """r6-verdict #1: the 10^9-asset image-dedup path must plan every join
    as a hash/sort-merge EQUI-join — probe keys against exact half keys,
    then two id re-attach joins — with no cartesian or nested-loop
    anywhere, and the probe enumeration as expression work (no Python eval
    feeding the join keys)."""
    from changegen_spark.multimodal.assets import dhash_images
    from changegen_spark.queries.media import dup_pairs_mih, _assets

    d = dhash_images(_assets(spark)).filter("ok").select("asset_id", "dhash")
    plan = _plan(dup_pairs_mih(d))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the candidate join keys (h, key) come from Generate/explode over
    # pure expressions — no BatchEvalPython/ArrowEvalPython between the
    # explode and the join (the dhash UDF runs below, on the scan side)
    joins = [l for l in plan.splitlines() if "Join" in l]
    assert joins, plan


def test_related_docs_join_is_hash_equi_join(spark, sf_dir):
    """The relatedness self-join must pair documents through the term
    hash equi-join — never a nested loop.  (The Arrow tf pre-count and
    the kept-index join sit behind lazy localCheckpoint fences, so the
    final plan roots at their RDD scans; the candidate join, norm joins,
    and top-k window are what remain visible.)"""
    from changegen_spark.queries.relatedness import q_related_docs

    plan = _plan(q_related_docs(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_win_matrix_is_join_free(spark, sf_dir):
    """The preference win matrix is pure aggregation: judgment
    derivation is expression work and the matrix is one groupBy — a
    join anywhere would mean the log is being paired with itself."""
    from changegen_spark.queries.prefs import q_win_matrix

    plan = _plan(q_win_matrix(spark, sf_dir))
    assert "Join" not in plan
    assert "ArrowEvalPython" not in plan  # h60 judgments stay JVM-side


@pytest.mark.slow
def test_two_phase_rank_sites_are_fenced(spark, sf_dir):
    """r9 postmortem pin: every two-phase rank/prefix site must keep its
    localCheckpoint fence (scan ExistingRDD in the plan) — without it,
    the per-partition counts and the offset join can execute against
    DIFFERENTLY-SAMPLED range boundaries and the ranks stop being a
    permutation (measured: SN pair counts wobbled ~0.01% per run at
    100k).  A fence silently removed in a refactor would pass every
    gate-scale oracle (2k-row fixtures are fully sampled, boundaries
    stable) and only corrupt results at scale, so the plan shape is the
    pin."""
    from changegen_spark.queries.curation import q_ccnet_buckets
    from changegen_spark.queries.er import q_er_pairs_sn, q_er_pairs_sn_suffix
    from changegen_spark.queries.geo import q_haversine
    from changegen_spark.queries.misc import q_gini
    from changegen_spark.queries.mlprep import (
        q_stratified_split,
        q_weighted_sample,
    )
    from changegen_spark.queries.suffix import q_suffix_ranks

    # r10 strengthening (r9 advice): presence of SOME ExistingRDD scan is
    # not enough — q_er_pairs_sn's _window_pairs checkpoint injects one
    # even with the critical _sn_ranked fence deleted.  Pin the EXACT
    # count of materialized scans per site, so removing any single fence
    # (count drops by one) fails, and pin that the only surviving
    # rangepartitioning exchange is the final presentation orderBy
    # (single-action, no re-sampling hazard) — at most one.  Every rank
    # site goes through operators/ids.prefix_sum, whose fenced rows are
    # read twice (block sums, join probe); q_stratified_split and
    # q_weighted_sample read them a third time for their totals until
    # prefix_sum's offset frame carried the totals.
    for name, fn, n_scans in (
        ("q_er_pairs_sn", q_er_pairs_sn, 2),
        # three rank fences + three _window_pairs fences (r10 suffix pass)
        ("q_er_pairs_sn_suffix", q_er_pairs_sn_suffix, 6),
        ("q_ccnet_buckets", q_ccnet_buckets, 2),
        ("q_stratified_split", q_stratified_split, 2),
        ("q_weighted_sample", q_weighted_sample, 2),
        ("q_suffix_ranks", q_suffix_ranks, 1),
        ("q_gini", q_gini, 2),
        ("q_haversine", q_haversine, 2),
    ):
        plan = _plan(fn(spark, sf_dir)).lower()
        got = plan.count("scan existingrdd")
        assert got == n_scans, f"{name}: {got} fences, want {n_scans}"
        assert plan.count("rangepartitioning") <= 1, (
            f"{name}: unfenced range exchange feeding a consumer"
        )


def test_changegen_elements_join_the_id_fence_at_most_twice(spark):
    """The changegen element plan reads its eager id fence in two joins:
    one resolves every way and relation member ref, one gives every
    element its id.  A join per element frame (nine call sites) put 13
    reads of the fence into the sink's single execution."""
    import re

    from changegen_spark.pipeline import generate_changes
    from changegen_spark.sources.osm import fixture_tables

    elements = generate_changes(spark, fixture_tables(spark), id_offset=20_000)
    plan = elements._jdf.queryExecution().optimizedPlan().toString()
    id_fence = re.findall(r"LogicalRDD \[korder#\d+, skey#\d+, new_id#\d+L\]", plan)
    assert 1 <= len(id_fence) <= 2, plan


def test_osc_sinks_plan_no_python_node(spark, tmp_path):
    """Both .osc writers render every element's XML in the JVM: no SQL
    execution either writer starts has a Python node in its physical plan
    (the sharded writer once serialized through mapInPandas)."""
    import os

    from changegen_spark.sinks.oscxml import (
        ELEMENT_SCHEMA,
        write_osmchange,
        write_osmchange_sharded,
    )

    store = spark._jsparkSession.sharedState().statusStore()

    def execution_plans():
        it = store.executionsList().iterator()
        plans = {}
        while it.hasNext():
            e = it.next()
            plans[e.executionId()] = e.physicalPlanDescription()
        return plans

    df = spark.createDataFrame(
        [
            ("create", "node", 1, 1, 1.5, 2.5, None, None, {"a": "b"}),
            ("create", "way", 2, 1, None, None, [1], None, None),
            ("modify", "relation", 3, 2, None, None, None, [(2, "way", "outer")], None),
            ("delete", "node", 4, 1, None, None, None, None, None),
        ],
        ELEMENT_SCHEMA,
    )
    before = set(execution_plans())
    write_osmchange(df, os.path.join(tmp_path, "a.osc"))
    write_osmchange_sharded(df, os.path.join(tmp_path, "b.osc"), shards_per_block=2)
    ran = {i: p for i, p in execution_plans().items() if i not in before}
    assert len(ran) >= 4  # driver stream + counts + one write per block
    for plan in ran.values():
        for node in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython", "PythonUDF"):
            assert node.lower() not in plan.lower(), plan


def test_never_direct_propose_respects_lru_policy():
    """The mechanical rotation proposal (tools/never_direct.py --propose)
    must only pick names the window pin would accept: never-direct
    first, then LRU names whose last driver row is >= 2 rounds old."""
    import os
    import sys

    sys.path.insert(
        0, os.path.join(os.path.dirname(__file__), "..", "tools")
    )
    from never_direct import ledger, propose

    from changegen_spark.queries import ROTATION_ROUND

    repo = os.path.join(os.path.dirname(__file__), "..")
    led = ledger(repo=repo)
    nxt = ROTATION_ROUND + 1
    picked = propose(led, 40, 2, nxt)
    assert picked, "proposal must not be empty"
    assert len(picked) == len(set(picked))
    for nm in picked:
        assert led["last"].get(nm, 0) <= nxt - 2, nm
    # never-direct names (if any) lead the list
    nd = set(led["never_direct"])
    if nd:
        assert set(picked[: len(nd & set(picked))]) <= nd
