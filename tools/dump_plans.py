"""Dump formatted physical plans of the headline queries to PLANS.md —
the reviewable evidence that the optimizer behaviors the engine depends on
(pushdown, pruning, broadcast selection, whole-stage codegen spans, AQE)
actually hold, not just in intent.  Regenerate after plan-shape changes:

    python tools/dump_plans.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"

# headline subset with one-line "what to look for" annotations
ANNOTATED = {
    "q01_pricing_summary": "date filter pushed to parquet; 7 of 11 lineitem columns read; partial+final hash aggregate",
    "q05_region_revenue": "all five dimension joins resolve to BroadcastHashJoin — no fact-table sort-merge",
    "q_distance_join": "grid-cell equi-join (no cartesian/nested-loop); refine filter after the hash join",
    "q_lsh_pairs": "one Arrow signature eval; banded self-join is an equi-join on (band, hash)",
    "q_ann_bruteforce": "query side broadcast; corpus scan shuffle-free",
    "q_decontaminate": "single distinct n-gram exchange reused by all three consumers",
    "q_dup_spans": "ONE positioned-gram UDF eval; window count over the 16-byte hash; r13: conditional doc_id spread below the UDF parallelizes the Python pass on small scans (no-op at scale)",
    "q_lm_score": "per-doc AGGREGATED bigram frame, never occurrences; r13: the corpus count cb is a window sum over (w1, w2) — single UDF eval, one exchange, no bc aggregate+self-join; the uni join probes aggregated rows",
    "q_bm25_search": "term filter before any shuffle; df/stats broadcast; top-k limit, no global sort",
    "q_interval_overlap": "bucketized overlap: hash equi-join on the bucket key, no BroadcastNestedLoopJoin",
    "q_resample": "rollup aggregate before the dense spine; windows over the spine only",
    "q_hybrid_search": "two k-sized pools fused; no corpus-sized join side",
    "q_phrase_search": "MAP-ONLY: postings intersection inside the token array — no Generate/explode, no Exchange before the final order",
    "q_hll_distinct": "register build is one partial+final hash aggregate on (grp, bucket); estimate folds KB-sized state",
    "q_semantic_dedup": "Arrow cell assignment (ArrowEvalPython, no k×dim literal tree); within-cell pair join is a hash equi-join on cell",
    "q_dsir_weights": "4096-row log-ratio table broadcast; top-k via TakeOrderedAndProject — no corpus-wide sort or shuffle join",
    "q_hard_negatives_lsh": "band collisions are bucket equi-joins with the anchor side broadcast; no cartesian, scoring only collided candidates",
    "q_embedding_dedup_lsh": "candidates from the (band, bucket) signature equi-join — the exact twin's BroadcastNestedLoopJoin is gone; exact rescoring only on collisions",
    "q_ccnet_buckets": "no ntile/per-lang window: range-partitioned rank payload, row_number per (range-partition, lang), broadcast prefix-offset stitch; tercile assignment map-side — a dominant language spans many tasks (r6 de-skew).  r9: the (lang, nll) range exchange and the q_lm_score subplan below it sit under a localCheckpoint fence (scan ExistingRDD here) — correctness, not caching: the two-phase rank double-executes its input and repartitionByRange re-samples boundaries per execution (ids.py hazard note); the fenced subplan's own optimization is unchanged and its shape is pinned by the r6-r8 PLANS.md history",
    "q_er_pairs": "phonetic block key computed map-side (regexp chains, no UDF); refine is a hash equi-join on the block key — no cartesian; candidate volume = Σ block², audited by q_er_blocks",
    "q_sq8_recall": "dim stats one 64-row aggregate broadcast back; byte codes map-side; both rankings window per query over the broadcast-query score frame",
    "q_skew_profile": "aggregate-only: one groupBy per key column + KB finishing aggregates; no Sort/Window touches the base table",
    "q_url_canonical": "canonicalization is pure expression work fused into the scan's codegen span — no Exchange, no Python eval before the presentation sort",
    "q_mv_delete_repair": "affected-group filter is a broadcast LeftSemi on the group-id frame; untouched groups served from the MV via the anti-join branch — the base table is never shuffled for the filter",
    "q17_small_quantity": "per-part stats aggregate consumes the LeftSemi-pruned lineitem (Brand#9 keys broadcast) — the stats exchange carries ~1/25 of the partkeys, not all of them (r7 fix, verdict #7)",
    "q_media_dup_pairs_mih": "multi-index Hamming: radius-1 probe keys equi-joined against exact 32-bit half keys (ids only through the shuffle), hashes re-attached by id, exact 64-bit refine — no cartesian/nested-loop; candidate volume ~linear (r7, verdict #1)",
    "q_er_ambiguous_resolve": "r12 pool drain: both passes (base probe, golden re-probe) are candidate-key hash equi-joins; survivorship is two-level hash aggregates; the only windows are partitioned by the probe id — no cartesian, no data-sized single-partition stage",
    "q_mv_join_refresh": "r12 delta-join view maintenance: every delta term is an equi-join with one small side (broadcastable at real delta sizes); the audit's full recompute is the only base⋈base join and exists solely to prove the shortcut",
    "q_mv_join_update": "r13 upsert through the view: touched rows shed by two broadcast LeftAnti joins on the CDC keys; each re-insert term joins one update-sized side; no base⋈base outside the audit branch",
    "q_er_drain_policy": "r13 policy table: ONE re-probe execution (the same candidate-key hash equi-joins as the drain) fanned into four policy projections map-side — no per-policy re-probe, no cartesian",
}

# Static audit note prepended to the generated file (r4 verdict #5).
PRESENTATION_SORT_NOTE = """
## Presentation sorts — audit (r5)

Many per-doc contract queries end in a full-result `orderBy` (e.g.
`q_pii_scrub`, `q_repetition`, `q_hash_sample` in queries/mlprep.py).
These sorts exist for HUMAN-readable, deterministic display of oracle
rows; the driver's correctness compare is order-insensitive, and at
100 TB a final total sort is a real range-exchange.  Decision, per the
r4 verdict:

* **Contract queries KEEP their orderBy** — they are the registry's
  display/debug surface, sized by their oracle rows, and the sort also
  documents each query's canonical order.
* **Programmatic/scale entry points take a no-sort path** — everything
  the corpus CLI executes is pinned sort-free end to end:
  `corpus_pipeline(sort=False)` (no rangepartitioning exchange —
  tests/test_plans.py::test_corpus_cli_pipeline_has_no_global_sort),
  `incremental_dedup_flags(sort=False)` (fenced once, verdict counts
  from the flags frame), and the shard sink's `sortWithinPartitions`
  (per-partition order, no global exchange) with its KB-sized manifest
  aggregate as the only `orderBy`.
"""


def main() -> None:
    from changegen_spark.queries import all_queries
    from changegen_spark.session import get_spark

    spark = get_spark("plan-dump")
    qs = all_queries()
    out = [
        "# PLANS — formatted physical plans of the headline queries",
        "",
        f"Generated by tools/dump_plans.py at {SF_DIR} (regenerate after",
        "plan-shape changes; tests/test_plans.py pins the load-bearing",
        "properties, this file is the human-readable evidence).",
        PRESENTATION_SORT_NOTE,
    ]
    for name, note in ANNOTATED.items():
        df = qs[name](spark, SF_DIR)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        # strip volatile ids so regeneration diffs stay readable
        plan = re.sub(r"#\d+L?", "#x", plan)
        plan = re.sub(r"plan_id=\d+", "plan_id=x", plan)
        out += [f"## {name}", "", f"*Look for: {note}*", "", "```", plan.rstrip(), "```", ""]
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(path, "w") as f:
        f.write("\n".join(out))
    print(f"wrote {path} ({len(ANNOTATED)} plans)")


if __name__ == "__main__":
    main()
