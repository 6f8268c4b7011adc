"""On-demand scaling ladders: how the engine's cost grows with data, one
ladder per scaling claim.  ``bench.py`` times the headline set and its sf1
block only; these ladders are the one-off measurements SCALE.md cites.

Usage: python tools/ladders.py [ladder ...]   (no names: every ladder)

Ladders (run in this order):
  sf       representative queries at sf0.001 / sf0.01 / sf0.1 (the
           siblings of ``$SPARK_GRAFT_SF_DIR``), warm min-of-3
  scaleup  a wider query list at sf0.1 and at the 10× replication the
           bench's sf1 block builds, warm min-of-2
  media    banded and multi-index image dedup at 2k / 20k assets
  er       blocked entity resolution at 10k / 100k / 1M entities, plus
           the adversarial, deep-CC and lifecycle cells
  web      URL canonicalization + dedup at 100k / 1M rows
  corpus   relatedness + fuzzy-decon candidate volumes at 5k / 50k docs
  bm25     batched BM25 at 8 / 32 / 1000 queries and a wider vocabulary
  layout   clustered vs scattered parquet layout of sf0.1 lineitem

Each timed cell is one untimed warm run, then ``bench.warm_min`` into the
noop sink (or a count), unless its comment says otherwise.  Every ladder's
block is written under ``<name>_ladder`` in ``ladders_out.json`` at the
repo root, merged into the blocks already there, and printed as one JSON
line.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import time
from datetime import date

REPO = os.path.abspath(os.path.join(os.path.dirname(__file__), ".."))
sys.path.insert(0, REPO)

from bench import (  # noqa: E402
    SF1_DIR,
    SF1_WARM_RUNS,
    SF_DIR,
    noop,
    time_queries,
    warm_min,
)

# sf ladder: 10× the rows costing well under 10× the time at these sizes
# means fixed per-stage overhead (shuffle setup, Python/JVM handoff, plan
# execution bootstrap) still dominates — the marginal per-row cost the
# figure exposes is what a 1000-executor run multiplies out.
SF_LADDER_SFS = ["0.001", "0.01", "0.1"]
SF_LADDER_QUERIES = [
    "q01_pricing_summary",
    "q_exact_dedup",
    "q_lsh_pairs",
    "q_dup_spans",
    "q_lm_score",
    "q_winnow_pairs",
    "q_cdc_chunks",
    "q_ann_bruteforce",
    "q_sessionize",
    "q_group_topk",
]
SF_LADDER_RUNS = 3

# scaleup ladder: one more decade (lineitem ~600k → ~6M rows, documents
# 5k → 50k).  Replication keeps distributions and key relationships
# (orderkeys/doc_ids get disjoint offset ranges per copy), so per-query work
# scales like real data growth for scan/agg/window/text queries; join
# fan-outs whose selectivity depends on cross-copy collisions (l_partkey
# keeps its original domain) are noted per query in SCALE.md.
SCALEUP_COPIES = 10
SCALEUP_QUERIES = [
    "q01_pricing_summary",
    "q_exact_dedup",
    "q_group_topk",
    "q_sessionize",
    "q_hll_distinct",
    "q_sample_quantiles",
    "q_hrw_shards",
    "q_phrase_search",
    "q_nb_classifier",
    "q_token_count",
    "q_lm_score",
    "q_dup_spans",
    # r4 additions: rewritten CDC chunker, de-bottlenecked haversine
    # pairing, DSIR selection, hard-negative mining
    "q_cdc_chunks",
    "q_haversine",
    "q_dsir_weights",
    "q_hard_negatives",
    # late-r4: the LSH scale path replacing the exact quadratic, and the
    # one-map weighted reservoir sampler
    "q_hard_negatives_lsh",
    "q_reservoir_sample",
]


def sf_ladder(spark, queries):
    """Warm wall time of SF_LADDER_QUERIES per scale factor, with the
    0.01→0.1 growth factor per query (SCALE.md "Measured scaling — query
    families ladder")."""
    root = os.path.dirname(SF_DIR.rstrip("/"))
    timings: dict[str, dict[str, float]] = {}
    for sf in SF_LADDER_SFS:
        t = time_queries(
            spark, queries, SF_LADDER_QUERIES, os.path.join(root, f"sf{sf}"),
            SF_LADDER_RUNS,
        )
        for name, sec in t.items():
            timings.setdefault(name, {})[sf] = sec
    return {
        "metric": "sf_ladder_warm_min",
        "unit": "sec",
        "timings": timings,
        "growth_0p01_to_0p1": {
            n: round(t["0.1"] / t["0.01"], 2) if t.get("0.01") else None
            for n, t in timings.items()
        },
        "warm_runs": SF_LADDER_RUNS,
    }


def scaleup_ladder(spark, queries):
    """SCALEUP_QUERIES at sf0.1 and at its SCALEUP_COPIES× replication (the
    directory the bench's sf1 block builds), with 0.1→1 growth factors
    (SCALE.md "One more decade")."""
    from changegen_spark.sources.scaleup import build_scaled_dir

    t0 = time.time()
    build_scaled_dir(spark, SF_DIR, SF1_DIR, copies=SCALEUP_COPIES)
    build_s = round(time.time() - t0, 1)
    base_t = time_queries(spark, queries, SCALEUP_QUERIES, SF_DIR, SF1_WARM_RUNS)
    up_t = time_queries(spark, queries, SCALEUP_QUERIES, SF1_DIR, SF1_WARM_RUNS)
    return {
        "metric": "scaleup_10x_warm_min",
        "unit": "sec",
        "copies": SCALEUP_COPIES,
        "build_s": build_s,
        "base_sf0_1": base_t,
        "scaled": up_t,
        "growth_10x": {n: round(up_t[n] / base_t[n], 2) for n in SCALEUP_QUERIES},
        "warm_runs": SF1_WARM_RUNS,
    }


def media_ladder(spark, queries):
    """media ladder (r5 verdict #4): the banded image-dedup join at
    O(10^3) and O(10^4) synthesized assets with planted near-dups
    (sources/scaleup.build_media_assets — exact controlled Hamming).
    Records wall growth for 10× assets AND candidate volume per band
    width: 8×8-bit banding is pigeonhole-complete at ham≤7 but costs
    ~n²/64 candidates on uncorrelated hashes, 4×16-bit is complete at
    ham≤3 for ~n²/16384 — the dial SCALE.md documents.
    """
    from changegen_spark.multimodal.assets import dhash_images
    from changegen_spark.queries.media import (
        banded_candidates,
        dup_pairs_from_dhash,
        dup_pairs_mih,
        mih_candidates,
    )
    from changegen_spark.sources.scaleup import build_media_assets

    media_dir = os.environ.get(
        "SPARK_GRAFT_MEDIA_DIR", "/tmp/changegen_spark_media"
    )
    media = {"n": {}, "build_s": 0.0}
    for n_assets in (2_000, 20_000):
        t0 = time.time()
        path = build_media_assets(spark, media_dir, n_assets=n_assets)
        media["build_s"] += time.time() - t0
        assets = spark.read.parquet(path)
        stats = {}

        def hashes():
            return dhash_images(assets).filter("ok").select("asset_id", "dhash")

        def banded():
            stats["n_pairs"] = dup_pairs_from_dhash(hashes(), ham=7, band_hex=2).count()

        def mih():
            stats["n_pairs_mih"] = dup_pairs_mih(hashes()).count()

        banded()  # warm
        stats["wall_s"] = round(warm_min(banded, SF1_WARM_RUNS), 3)
        d = hashes()
        stats["cand_8bit"] = banded_candidates(d, band_hex=2).count()
        stats["cand_16bit"] = banded_candidates(d, band_hex=4).count()
        # r7 scale path: multi-index Hamming search (complete at ≤3) —
        # candidate volume should grow ~linearly with assets because
        # the random-collision term is n²·66/2^32
        mih()  # warm
        stats["wall_mih_s"] = round(warm_min(mih, SF1_WARM_RUNS), 3)
        stats["cand_mih"] = mih_candidates(d).count()
        media["n"][str(n_assets)] = stats
    media["build_s"] = round(media["build_s"], 1)
    small, big = media["n"]["2000"], media["n"]["20000"]
    media["growth_wall_10x"] = round(big["wall_s"] / small["wall_s"], 2)
    media["cand_growth_8bit_10x"] = round(
        big["cand_8bit"] / max(small["cand_8bit"], 1), 1
    )
    media["cand_growth_16bit_10x"] = round(
        big["cand_16bit"] / max(small["cand_16bit"], 1), 1
    )
    media["cand_growth_mih_10x"] = round(
        big["cand_mih"] / max(small["cand_mih"], 1), 1
    )
    media["growth_wall_mih_10x"] = round(
        big["wall_mih_s"] / small["wall_mih_s"], 2
    )
    return media


def _wrong_taxonomy(jm, arrivals, base):
    """Split a truth-joined assignment's wrong merges: the true base
    record never became a candidate (key/city miss), or it did and a
    stranger is strictly closer in edit distance."""
    from pyspark.sql import functions as F

    from changegen_spark.queries.er import _inc_refined

    surv = jm.filter(
        "matched_entity >= 0 AND matched_entity <> entity_id"
    ).select("rec_id", "entity_id", "lev")
    truecand = _inc_refined(arrivals, base).select(
        F.col("a_id").alias("rec_id"),
        F.col("b_id").alias("entity_id"),
        F.col("lev").alias("true_lev"),
    )
    sj = surv.join(truecand, ["rec_id", "entity_id"], "left")
    return {
        "wrong_true_not_candidate": sj.filter("true_lev IS NULL").count(),
        "wrong_stranger_strictly_closer": sj.filter(
            "true_lev IS NOT NULL AND true_lev > lev"
        ).count(),
    }


def _policy_cells(outcomes, adv_lo=None):
    """Per drain policy, the disposition counts of a truth-joined
    ``drain_policy_outcomes`` frame; with ``adv_lo`` (the first
    adversarial arrival id) also the adversarial arrivals merged wrongly."""
    from pyspark.sql import functions as F

    m, e = F.col("matched_entity"), F.col("entity_id")
    cases = {"resolved": m >= 0, "resolved_correct": (m >= 0) & (m == e)}
    if adv_lo is not None:
        cases["adv_resolved_wrong"] = (F.col("rec_id") >= adv_lo) & (m >= 0) & (m != e)
    cases.update(resolve_new=m == -1, still_ambiguous=m == -2)
    rows = (
        outcomes.groupBy("policy")
        .agg(*[F.count(F.when(c, 1)).alias(k) for k, c in cases.items()])
        .collect()
    )
    return {r.policy: {k: r[k] for k in cases} for r in rows}


def er_ladder(spark, queries):
    """ER ladder (r6): the blocked Levenshtein join over synthesized
    people records at 10k and 100k entities, with BOTH blocking
    schemes — phonetic(last)+initial alone vs + city.  The single-key
    scheme's pair mass is quadratic in name frequency (its entropy
    stops scaling with n); the two-field scheme stays ~linear.  The
    ladder records both so the scale lesson is a measured table.
    """
    from pyspark.sql import functions as _F

    from changegen_spark.functions.clustering import connected_components
    from changegen_spark.queries.er import (
        DRAIN_POLICY,
        bcubed_from_pairs,
        drain_policy_outcomes,
        er_pairs_for,
        er_pairs_sn,
        er_pairs_sn_multi,
        er_pairs_sn_suffix,
        incremental_assign,
        incremental_assign_margin,
        resolve_ambiguous,
    )
    from changegen_spark.sources.scaleup import build_er_adversarial, build_er_records
    from changegen_spark.streaming.er import (
        lifecycle_stream,
        rehome_touched,
        stage_lifecycle_frames,
    )

    er_dir = os.environ.get("SPARK_GRAFT_ER_DIR", "/tmp/changegen_spark_er")
    # r8 verdict #3: the regime rule's headline numbers must be
    # reproducible from the committed artifact, so the ladder now has
    # the 1M rung — with a documented budget: at 1M, one timed run
    # after the warm run (not min-of-3), name_only is skipped (its
    # refine wall is 364 s — the measured one-off in SCALE.md; paying
    # it per round buys nothing), and CC clusters are skipped (14.9 s
    # one-off, same reasoning).  Recall rides along at every rung:
    # each scheme's pairs are truth-joined against the planted
    # entity_id so quality regime changes (the SN density collapse)
    # are in the artifact, not prose.
    er = {
        "n": {},
        "budget_note": (
            "1M rung: 1 timed run, name_only skipped (364 s one-off "
            "in SCALE.md); clusters at 1M run over the production "
            "sn_suffix_refine pairs (~190k edges), not with_city "
            "(whose 2.9M-edge CC is the 14.9 s one-off) — scheme "
            "field names the edge set per rung"
        ),
    }
    for n_ent in (10_000, 100_000, 1_000_000):
        big = n_ent >= 1_000_000
        runs = 1 if big else SF1_WARM_RUNS
        path = build_er_records(spark, er_dir, n_entities=n_ent)
        ppl = spark.read.parquet(path)
        ta = ppl.select(
            _F.col("rec_id").alias("rec_a"), _F.col("entity_id").alias("ea")
        )
        tb = ppl.select(
            _F.col("rec_id").alias("rec_b"), _F.col("entity_id").alias("eb")
        )
        truth = (
            ta.join(tb, [ta.ea == tb.eb, ta.rec_a < tb.rec_b])
            .select("rec_a", "rec_b")
            .localCheckpoint()
        )
        n_true = truth.count()
        row = {"n_true_pairs": n_true}

        def timed(build):
            # r10 postmortem: time a FRESH frame per run.  A
            # DataFrame whose plan embeds a localCheckpoint fence
            # keeps the materialized RDD across actions, so timing
            # the same object repeatedly re-times only the stages
            # ABOVE the fence — fenced SN schemes under-reported
            # ~1.9× (sn_multi_refine at 1M: 2.3 s same-frame in
            # the r9 artifact vs 4.4 s fresh-frame in the r10
            # artifact; unfenced with_city unchanged).  The warm
            # pass stays: it absorbs JVM codegen compile.  Probe
            # scripts must use get_spark(), not a bare session —
            # the broadcast-threshold difference alone changes the
            # rank-join physical plan ~3× (SCALE.md postmortem).
            # The frames are built before the clock starts, one per run.
            build().count()  # warm
            frames = [build() for _ in range(runs)]
            pending, counts = iter(frames), []
            best = warm_min(lambda: counts.append(next(pending).count()), runs)
            n_pairs, last = counts[-1], frames[-1]
            # tp is CORRECTNESS, not timing — reusing the last timed
            # frame (fences already materialized) is free and fine
            tp = last.select("rec_a", "rec_b").join(
                truth, ["rec_a", "rec_b"]
            ).count()
            return {
                "pairs": n_pairs,
                "wall_s": round(best, 3),
                "tp": tp,
                "precision_pct": round(100 * tp / max(n_pairs, 1), 1),
                "recall_pct": round(100 * tp / max(n_true, 1), 1),
            }

        if not big:
            row["name_only"] = timed(lambda: er_pairs_for(ppl, ()))
        row["with_city"] = timed(lambda: er_pairs_for(ppl, ("city",)))
        # r8: sorted-neighborhood — the quadratic-proof scheme whose
        # candidate budget is n·(window-1) at ANY key distribution
        row["sorted_neighborhood"] = timed(lambda: er_pairs_sn(ppl))
        # ...city check in the REFINE stage (cuts false matches,
        # cannot reintroduce quadratic candidates)
        row["sn_city_refine"] = timed(
            lambda: er_pairs_sn(ppl, refine_cols=("city",))
        )
        # r9: the production SN point — two passes for recall, city
        # refine for precision (SCALE.md's four-scheme table)
        row["sn_multi_refine"] = timed(
            lambda: er_pairs_sn_multi(ppl, refine_cols=("city",))
        )
        # r10 (r9 verdict #7): the taxonomy-driven third pass — the
        # suffix sort order reaches the block-key-broken class that
        # dominates the 1M misses (SCALE.md taxonomy table)
        row["sn_suffix_refine"] = timed(
            lambda: er_pairs_sn_suffix(ppl, refine_cols=("city",))
        )
        # r10: the batch-append regime — assign the planted arrivals
        # against the base WITHOUT re-clustering.  Fresh frame per
        # timed run (same-frame postmortem); accuracy rides along so
        # the key-collision cost of density is in the artifact.
        base_side = ppl.filter(_F.col("rec_id") < n_ent)
        arr_side = ppl.filter(_F.col("rec_id") >= n_ent)
        # r11 postmortem: the r10 rung timed .count() on the final
        # LEFT JOIN against a grouped-by key — Catalyst ELIMINATES
        # that join for a count (grouped keys are provably unique),
        # so the 0.32 s r10 artifact number never executed the
        # candidate join at all.  A noop sink consumes every column
        # and cannot be join-eliminated.
        def _inc_noop():
            noop(incremental_assign(arr_side, base_side))

        _inc_noop()  # warm
        best_inc = warm_min(_inc_noop, runs)
        n_arr = arr_side.count()
        inc = incremental_assign(arr_side, base_side)
        j = inc.join(
            arr_side.select("rec_id", "entity_id"), "rec_id"
        )
        row["incremental"] = {
            "arrivals": n_arr,
            "wall_s": round(best_inc, 3),
            "correct": j.filter(
                "matched_entity = entity_id"
            ).count(),
            "wrong": j.filter(
                "matched_entity <> -1 AND matched_entity <> entity_id"
            ).count(),
            "unmatched": j.filter("matched_entity = -1").count(),
        }
        # r11 (r10 verdict #1): margin-based abstention — route
        # best-vs-runner-up near-ties to ambiguous (−2) instead of
        # a blind merge.  The per-margin columns ARE the tie
        # measurement the verdict asked for: wrong@margin1 vs
        # wrong@margin0 is exactly the wrong merges whose best and
        # runner-up were tied.  Timed at margin 1 (the shipped
        # operating point); margin 2 accuracy rides along untimed.
        # No warm run of its own: the incremental rung above warmed it.
        best_m1 = warm_min(
            lambda: noop(incremental_assign_margin(arr_side, base_side, margin=1)),
            runs,
        )
        for mg in (1, 2):
            jm = incremental_assign_margin(
                arr_side, base_side, margin=mg
            ).join(arr_side.select("rec_id", "entity_id"), "rec_id")
            cell = {
                "correct": jm.filter(
                    "matched_entity = entity_id"
                ).count(),
                "wrong": jm.filter(
                    "matched_entity >= 0 AND matched_entity <> entity_id"
                ).count(),
                "ambiguous": jm.filter("matched_entity = -2").count(),
                "unmatched": jm.filter("matched_entity = -1").count(),
            }
            if mg == 1:
                cell["wall_s"] = round(best_m1, 3)
                # taxonomy of the wrongs that SURVIVE margin-1
                # abstention (margin can only catch ties): either
                # the true base record never became a candidate
                # (key/city miss) or it did but a stranger is
                # strictly closer in edit distance
                cell.update(_wrong_taxonomy(jm, arr_side, base_side))
            row["incremental"][f"margin{mg}"] = cell
        # r12 (r11 verdict #1): drain the pool — re-probe the
        # margin-1 abstentions against the UPDATED golden names
        # (confident merges flip survivor modes, breaking first-pass
        # ties), so every arrival reaches a terminal disposition.
        # r13 (r12 verdict #1): resolution precision is measured PER
        # ACCEPTANCE POLICY as first-class columns — the r12 'gap'
        # rule resolved 21 parked arrivals at this table's 1M rung
        # with only 10 correct (11 wrong merges where the first pass
        # shipped 0); the shipped default ('toward': the winner's
        # survivor name must move strictly closer than the parked
        # lev) must keep wrong-via-drain at 0.  One re-probe
        # execution feeds all four policies (drain_policy_outcomes).
        am1 = (
            incremental_assign_margin(arr_side, base_side, margin=1)
            .select("rec_id", "matched_entity", "lev")
            .localCheckpoint(eager=True)
        )

        def _resolve_noop():
            noop(resolve_ambiguous(arr_side, base_side, margin=1, assigned=am1))

        _resolve_noop()  # warm (codegen compile dominates the cold run)
        resolve_wall = round(warm_min(_resolve_noop, 1), 3)
        dj = (
            drain_policy_outcomes(
                arr_side, base_side, margin=1, assigned=am1
            )
            .join(arr_side.select("rec_id", "entity_id"), "rec_id")
            .localCheckpoint(eager=True)
        )
        pol_cells = _policy_cells(dj)
        row["incremental"]["margin1"].update(pol_cells[DRAIN_POLICY])
        row["incremental"]["margin1"].update(
            {
                "resolve_wall_s": resolve_wall,
                "drain_policy": DRAIN_POLICY,
                "drain_policies": pol_cells,
            }
        )
        # The cluster stage and the retraction below use the rung's own
        # pair rule.  r7 (r6 verdict #8): checkpointed connected
        # components over the with_city pairs after a warm run; rounds
        # track component DIAMETER, the flat-for-10× number.  r10 (r9
        # verdict #6): at the 1M density-regime rung, the production
        # composition's sn_suffix_refine edge set, single timed run with
        # no warm run (budget_note).  r13 (r12 advice): the retraction
        # rehomes under the SAME rule that built the membership —
        # otherwise the timed subgraph belongs to a pipeline nobody
        # maintains.
        def rung_pairs_fn(p):
            if big:
                return er_pairs_sn_suffix(p, refine_cols=("city",))
            return er_pairs_for(p, ("city",))

        cpairs = rung_pairs_fn(ppl)
        if not big:
            connected_components(cpairs, src="rec_a", dst="rec_b").count()
        st = {}
        t0 = time.time()
        labels = connected_components(cpairs, src="rec_a", dst="rec_b", stats=st)
        n_rec = labels.count()
        row["clusters"] = {
            "scheme": "sn_suffix_refine" if big else "with_city",
            "records": n_rec,
            "cc_rounds": st.get("rounds"),
            "wall_s": round(time.time() - t0, 3),
        }
        # r12: RETRACTION at scale — the touched-entities-only
        # contract MEASURED, not asserted: delete the same absolute
        # batch (1,000 records) at every rung and time the
        # retraction CORE (rehome_touched: touched members → subset
        # pair regen → subgraph CC → re-head).  If the contract
        # holds, the wall tracks the TOUCHED size (≈ constant across
        # rungs), not the base size; the full-membership snapshot
        # write the fixture-scale stream does is passthrough, not
        # work, and is excluded by construction.
        membership = (
            ppl.select("rec_id")
            .join(
                labels.withColumnRenamed("node", "rec_id"),
                "rec_id",
                "left",
            )
            .select(
                "rec_id",
                _F.coalesce("comp", _F.col("rec_id")).alias("entity"),
            )
            .localCheckpoint(eager=True)
        )
        r_dels = ppl.filter(_F.col("rec_id") < 1000).select("rec_id")

        def _retract_noop():
            noop(rehome_touched(membership, r_dels, ppl, pairs_fn=rung_pairs_fn))

        _retract_noop()  # warm
        retract_wall = round(warm_min(_retract_noop, 1), 3)
        touched_n = (
            membership.join(r_dels, "rec_id")
            .select("entity")
            .distinct()
            .count()
        )
        row["retract"] = {
            "n_deletes": 1000,
            "touched_entities": touched_n,
            "wall_s": retract_wall,
        }
        # r11 (r10 verdict #2): entity-level B³ per scheme — pair
        # recall understates a transitive scheme (cluster-recovered
        # pairs) and pair precision understates chain cost; B³
        # averages per RECORD, the number survivorship actually
        # inherits.  The two production candidates of the regime
        # rule are graded at every rung; untimed (CC rides inside).
        row["bcubed"] = {}
        for scheme, pairs_fn in (
            ("with_city", lambda: er_pairs_for(ppl, ("city",))),
            (
                "sn_suffix_refine",
                lambda: er_pairs_sn_suffix(ppl, refine_cols=("city",)),
            ),
        ):
            n_rec, n_pred, n_true, p_e6, r_e6, f1_e6 = bcubed_from_pairs(
                ppl, pairs_fn()
            )
            row["bcubed"][scheme] = {
                "b3_precision_pct": round(p_e6 / 1e4, 2),
                "b3_recall_pct": round(r_e6 / 1e4, 2),
                "b3_f1_pct": round(f1_e6 / 1e4, 2),
                "n_pred_clusters": n_pred,
            }
        er["n"][str(n_ent)] = row
    for scheme in ("name_only", "with_city"):
        er[f"growth_wall_10x_{scheme}"] = round(
            er["n"]["100000"][scheme]["wall_s"]
            / er["n"]["10000"][scheme]["wall_s"],
            2,
        )
    # top-decade growth (100k → 1M) for the schemes measured there
    for scheme in (
        "with_city",
        "sorted_neighborhood",
        "sn_multi_refine",
        "sn_suffix_refine",
        "incremental",
    ):
        er[f"growth_wall_100k_1m_{scheme}"] = round(
            er["n"]["1000000"][scheme]["wall_s"]
            / er["n"]["100000"][scheme]["wall_s"],
            2,
        )
    er["growth_wall_10x_clusters"] = round(
        er["n"]["100000"]["clusters"]["wall_s"]
        / er["n"]["10000"]["clusters"]["wall_s"],
        2,
    )
    # the retraction contract in one number: same 1,000-record
    # delete batch at 10× the base should cost ~1× the wall
    er["growth_wall_100k_1m_retract"] = round(
        er["n"]["1000000"]["retract"]["wall_s"]
        / er["n"]["100000"]["retract"]["wall_s"],
        2,
    )
    # r12 (r11 verdict #2): the ADVERSARIAL rung — the standard
    # generator's wrong merges are all exact ties (margin 1 removes
    # every one; both taxonomy columns were zero at every rung), so
    # the strictly-closer-impostor path was unexercised.
    # build_er_adversarial plants twin entities one vowel-edit apart
    # and arrivals one edit from the IMPOSTOR: plain AND margin-1
    # merge them wrongly (gap 1, taxonomy goes non-zero by
    # construction); margin 2 is the measured mitigation (the
    # impostor merges become abstentions).  Accuracy-only cells —
    # the timing story is the main rungs'.
    a_n, a_adv = 100_000, 2_500
    apath = build_er_adversarial(
        spark, er_dir, n_entities=a_n, n_adv=a_adv
    )
    appl = spark.read.parquet(apath)
    abase = appl.filter(_F.col("rec_id") < a_n)
    aarr = appl.filter(_F.col("rec_id") >= a_n)
    adv_lo = a_n + int(a_n * 0.15)  # adversarial arrivals start here
    arow = {"n_entities": a_n, "n_adversarial": a_adv}
    for mg in (0, 1, 2):
        assign = (
            incremental_assign(aarr, abase)
            if mg == 0
            else incremental_assign_margin(aarr, abase, margin=mg)
        )
        jm = assign.join(
            aarr.select("rec_id", "entity_id"), "rec_id"
        ).localCheckpoint(eager=True)
        cell = {
            "correct": jm.filter("matched_entity = entity_id").count(),
            "wrong": jm.filter(
                "matched_entity >= 0 AND matched_entity <> entity_id"
            ).count(),
            "ambiguous": jm.filter("matched_entity = -2").count(),
            "unmatched": jm.filter("matched_entity = -1").count(),
            "adv_wrong": jm.filter(
                f"rec_id >= {adv_lo} AND matched_entity >= 0 "
                "AND matched_entity <> entity_id"
            ).count(),
            "adv_ambiguous": jm.filter(
                f"rec_id >= {adv_lo} AND matched_entity = -2"
            ).count(),
        }
        if mg == 1:
            cell.update(_wrong_taxonomy(jm, aarr, abase))
        arow[f"margin{mg}"] = cell
        if mg == 2:
            # r13 (r12 verdict #2): drain x adversarial — margin 2
            # parks ~3k arrivals here, 2,500 of them PLANTED
            # impostor ties; measure whether the drain leaks them
            # back in as `resolved` under each policy.  The shipped
            # default must keep adversarial wrongs at 0 post-drain.
            adp = (
                drain_policy_outcomes(
                    aarr,
                    abase,
                    margin=mg,
                    assigned=assign.select(
                        "rec_id", "matched_entity", "lev"
                    ).localCheckpoint(eager=True),
                )
                .join(aarr.select("rec_id", "entity_id"), "rec_id")
                .localCheckpoint(eager=True)
            )
            cell["drain_policy"] = DRAIN_POLICY
            cell["drain_policies"] = _policy_cells(adp, adv_lo)
    er["adversarial_100k"] = arow
    # deep-component CC at bench scale — a 100k-node CHAIN (the
    # versioned-page near-dup model: each revision near-dups its
    # neighbors only), diameter 10^5.  Large/small-star rounds are
    # bounded by O(log² n), not by the diameter, so it converges well
    # inside max_iter=40.  Single run; rounds + wall + component count in the
    # artifact.
    chain_n = 100_000
    chain_edges = spark.range(chain_n - 1).select(
        _F.col("id").alias("id_a"), (_F.col("id") + 1).alias("id_b")
    )
    st = {}
    t0 = time.time()
    n_comp = (
        connected_components(chain_edges, max_iter=40, stats=st)
        .select("comp")
        .distinct()
        .count()
    )
    er["deep_cc"] = {
        "chain_nodes": chain_n,
        "rounds": st.get("rounds"),
        "components": n_comp,
        "wall_s": round(time.time() - t0, 3),
        "note": (
            "one-hop min-label needed 10^5 rounds here and returned "
            "SPLIT clusters at any real budget; large/small-star rounds "
            "(clustering.py, Kiveris et al. 2014) converge in O(log^2 n) "
            "rounds whatever the order of the ids"
        ),
    }

    # r13: SUSTAINED lifecycle throughput — the composed stream
    # (retraction + assignment + pool drain + golden maintenance
    # over ONE maintained store, streaming/er.py lifecycle_stream)
    # has only ever run at fixture scale; this rung drives it at
    # the 100k corpus over 8 interleaved micro-batches (6 arrival
    # batches x ~2.5k + 2 keyed delete batches x ~500) and records
    # what a maintained pipeline operator would watch: per-batch
    # wall (from the batch-keyed snapshot mtimes — zero
    # instrumentation in the stream itself), the parked-pool
    # trajectory (does it drain or accrete under the default
    # 'toward' policy?), terminal-disposition counts, and
    # end-to-end merge PURITY against the planted truth (an
    # arrival is wrong iff its final entity mixes truths).  A
    # second short run with pool_ttl_batches=3 measures the
    # bounded-state dial: aged entries escalate to review instead
    # of riding the carried pool forever.

    lc_path = build_er_records(spark, er_dir, n_entities=100_000)
    lc_ppl = spark.read.parquet(lc_path)
    lc_base = lc_ppl.filter("rec_id < 100000").select(
        "rec_id", "name", "city"
    )
    n_arr_batches = 6
    arr_frames = [
        lc_ppl.filter("rec_id >= 100000")
        .filter(_F.pmod("rec_id", _F.lit(n_arr_batches)) == i)
        .select(_F.lit("arrive").alias("kind"), "rec_id", "name", "city")
        for i in range(n_arr_batches)
    ]
    del_frames = [
        lc_base.filter(f"rec_id % {mod} = {res}").select(
            _F.lit("delete").alias("kind"),
            "rec_id",
            _F.lit(None).cast("string").alias("name"),
            _F.lit(None).cast("string").alias("city"),
        )
        for mod, res in ((199, 3), (211, 5))
    ]
    # A A D A A D A A — deletes land mid-sequence so later
    # assignment and drain probe a post-retraction golden table
    lc_frames = [
        arr_frames[0],
        arr_frames[1],
        del_frames[0],
        arr_frames[2],
        arr_frames[3],
        del_frames[1],
        arr_frames[4],
        arr_frames[5],
    ]
    lc_stage = os.path.join(er_dir, "lifecycle_events_100k")
    shutil.rmtree(lc_stage, ignore_errors=True)
    stage_lifecycle_frames(
        spark, lc_stage, lc_frames, os.stat(lc_path).st_mtime + 10
    )

    def _lifecycle_run(ttl, tombstone_window=None):
        lc_state = os.path.join(er_dir, "lifecycle_state_100k")
        shutil.rmtree(lc_state, ignore_errors=True)
        t0 = time.time()
        q = lifecycle_stream(
            spark,
            lc_state,
            lc_stage,
            base=lc_base,
            seed_key=lc_path,
            pool_ttl_batches=ttl,
            tombstone_window=tombstone_window,
        )
        q.awaitTermination(1800)
        wall = round(time.time() - t0, 3)
        batches = sorted(
            glob.glob(lc_state + "/records/batch=*"),
            key=lambda p: int(p.rsplit("=", 1)[1]),
        )
        mts = [os.path.getmtime(p) for p in batches]
        per_batch = [
            round(b - a, 3) for a, b in zip(mts, mts[1:])
        ]
        pool_traj = []
        for p in sorted(
            glob.glob(lc_state + "/pool/batch=*"),
            key=lambda s: int(s.rsplit("=", 1)[1]),
        ):
            spark.catalog.refreshByPath(p)
            pool_traj.append(spark.read.parquet(p).count())
        statuses = {}
        for p in glob.glob(lc_state + "/drained/batch=*"):
            spark.catalog.refreshByPath(p)
            for r in (
                spark.read.parquet(p).groupBy("status").count().collect()
            ):
                statuses[r.status] = statuses.get(r.status, 0) + r["count"]
        spark.catalog.refreshByPath(batches[-1])
        fin = spark.read.parquet(batches[-1])
        truthed = fin.join(
            lc_ppl.select("rec_id", "entity_id"), "rec_id"
        ).select(
            "rec_id",
            "entity",
            _F.when(_F.col("rec_id") < 100_000, _F.col("rec_id"))
            .otherwise(_F.col("entity_id"))
            .alias("truth"),
        )
        impure = (
            truthed.groupBy("entity")
            .agg(_F.countDistinct("truth").alias("nt"))
            .filter("nt > 1")
        )
        wrong = (
            truthed.join(impure, "entity")
            .filter("rec_id >= 100000")
            .count()
        )
        merged = fin.filter(
            "rec_id >= 100000 AND entity < 100000"
        ).count()
        return {
            "wall_s": wall,
            "per_batch_s": per_batch,
            "pool_after_each_batch": pool_traj,
            "drained_statuses": statuses,
            "arrivals_merged_into_base": merged,
            "wrong_in_impure_entities": wrong,
            "pool_ttl_batches": ttl,
            "tombstone_window": tombstone_window,
        }

    _dial_keys = (
        "wall_s",
        "pool_after_each_batch",
        "drained_statuses",
        "arrivals_merged_into_base",
        "wrong_in_impure_entities",
        "pool_ttl_batches",
        "tombstone_window",
    )
    lrow = _lifecycle_run(None)
    lrow["ttl_run"] = {
        k: v for k, v in _lifecycle_run(3).items() if k in _dial_keys
    }
    # retraction-shadow guard: the purity audit's one wrong merge
    # (arrival after its true entity's retraction, near-twin
    # surviving) must go to 0, at the cost of the shadowed parks
    lrow["tombstone_run"] = {
        k: v
        for k, v in _lifecycle_run(3, tombstone_window=4).items()
        if k in _dial_keys
    }
    er["lifecycle_100k"] = lrow
    return er


def web_ladder(spark, queries):
    """web ladder (r6): URL canonicalization + dedup throughput at 100k
    and 1M synthesized crawl rows (sources/scaleup.build_web_urls —
    expression-only generation, every variant canonicalizes to its
    base).  An exact correctness check rides along: n_pages groups of
    exactly 2 spellings, 1 doc each — bad_groups must be 0.  The whole
    stage is map work + one hash shuffle, so growth should track the
    shuffle, not the canonicalizer.
    """
    from pyspark.sql import functions as _F

    from changegen_spark.queries.web import with_canonical
    from changegen_spark.sources.scaleup import build_web_urls

    web_dir = os.environ.get(
        "SPARK_GRAFT_WEB_DIR", "/tmp/changegen_spark_web"
    )
    web = {"n": {}}
    for n_urls in (100_000, 1_000_000):
        path = build_web_urls(spark, web_dir, n_urls)

        def web_dedup():
            # fresh frame per run (r10 same-frame postmortem)
            return (
                with_canonical(spark.read.parquet(path))
                .groupBy("canonical")
                .agg(
                    _F.count("*").alias("n_urls"),
                    _F.countDistinct("doc_id").alias("n_docs"),
                )
            )

        bad = web_dedup().filter(
            "n_urls <> 2 OR n_docs <> 1"
        ).count()  # warm
        best = warm_min(lambda: noop(web_dedup()), SF1_WARM_RUNS)
        web["n"][str(n_urls)] = {
            "wall_s": round(best, 3),
            "urls_per_s": int(n_urls / best),
            "bad_groups": bad,
        }
    web["growth_wall_10x"] = round(
        web["n"]["1000000"]["wall_s"] / web["n"]["100000"]["wall_s"], 2
    )
    return web


def corpus_ladder(spark, queries):
    """corpus ladder (r8, r7 verdict #2/#6): relatedness + fuzzy-decon
    candidate volumes at 5k and 50k documents on a purpose-built corpus
    (sources/scaleup.build_corpus_docs — NEW docs per rung, same
    boilerplate share and dup rate; build_scaled_dir replication would
    multiply every term's df by the copy count and measure the wrong
    regime).  Decisive columns: Σ df²_kept under the absolute
    REL_DF_CAP (must grow ~linearly) vs under the RETIRED fractional
    n/20 cap (the measured negative — it keeps the df≈256 phrase pool
    once n > 5120), and the fuzzy (k,mh) bucket-join candidates with vs
    without FUZZY_BUCKET_CAP (the boilerplate hot-bucket hazard).
    """
    from pyspark.sql import functions as _F

    from changegen_spark.queries.mlprep import (
        fuzzy_decon_candidates,
        q_fuzzy_decontaminate,
    )
    from changegen_spark.queries.relatedness import (
        REL_DF_CAP,
        _term_freqs,
        q_related_docs,
    )
    from changegen_spark.sources.scaleup import build_corpus_docs

    corpus_dir = os.environ.get(
        "SPARK_GRAFT_CORPUS_DIR", "/tmp/changegen_spark_corpus"
    )
    corpus = {"n": {}}
    for n_docs in (5_000, 50_000):
        path = build_corpus_docs(spark, corpus_dir, n_docs)
        st = {}
        # absolute-cap audit + the fractional-cap counterfactual
        tfs = _term_freqs(spark, path)
        nd = tfs.select("doc_id").distinct().count()
        dfr = tfs.groupBy("term").agg(_F.count("*").alias("df"))
        row = dfr.agg(
            _F.sum(
                _F.when(
                    (_F.col("df") >= 2) & (_F.col("df") <= REL_DF_CAP),
                    _F.col("df") * _F.col("df"),
                ).otherwise(0)
            ).alias("kept_abs"),
            _F.sum(
                _F.when(
                    (_F.col("df") >= 2) & (_F.col("df") <= nd // 20),
                    _F.col("df") * _F.col("df"),
                ).otherwise(0)
            ).alias("kept_frac"),
        ).collect()[0]
        st["sum_df2_abs_cap"] = int(row.kept_abs or 0)
        st["sum_df2_frac_n20"] = int(row.kept_frac or 0)
        related = lambda: noop(q_related_docs(spark, path))  # noqa: E731
        related()  # warm
        st["related_wall_s"] = round(warm_min(related, SF1_WARM_RUNS), 3)
        st.update(fuzzy_decon_candidates(spark, path))
        fuzzy = lambda: noop(q_fuzzy_decontaminate(spark, path))  # noqa: E731
        fuzzy()  # warm
        st["fuzzy_wall_s"] = round(warm_min(fuzzy, SF1_WARM_RUNS), 3)
        corpus["n"][str(n_docs)] = st
    small, big = corpus["n"]["5000"], corpus["n"]["50000"]
    corpus["growth_df2_abs_10x"] = round(
        big["sum_df2_abs_cap"] / max(small["sum_df2_abs_cap"], 1), 2
    )
    corpus["growth_df2_frac_10x"] = round(
        big["sum_df2_frac_n20"] / max(small["sum_df2_frac_n20"], 1), 2
    )
    corpus["growth_fuzzy_cand_10x"] = round(
        big["cand_capped"] / max(small["cand_capped"], 1), 2
    )
    corpus["growth_fuzzy_cand_uncapped_10x"] = round(
        big["cand_uncapped"] / max(small["cand_uncapped"], 1), 2
    )
    corpus["growth_related_wall_10x"] = round(
        big["related_wall_s"] / small["related_wall_s"], 2
    )
    corpus["growth_fuzzy_wall_10x"] = round(
        big["fuzzy_wall_s"] / small["fuzzy_wall_s"], 2
    )
    return corpus


def bm25_ladder(spark, queries):
    """bm25 ladder (r10, r9 verdict #4): the batched-BM25 scaling claim,
    measured — wall must track MATCHED POSTINGS, not queries × corpus.
    Three configs on the sf0.1 documents table: the 8-query base batch;
    32 queries over the SAME vocabulary (4× queries, identical tf pass
    — wall must stay ~flat); 8 queries over a 3× vocabulary (more
    matched postings — wall may grow, and postings is the column that
    explains it).  matched_postings = rows of the (doc, term) tf frame,
    i.e. the only corpus-dependent shuffle.
    """
    from pyspark.sql import functions as _F

    from changegen_spark.queries.mlprep import _toks
    from changegen_spark.queries.search import (
        BM25_MULTI,
        BM25_MULTI_TOPK,
        bm25_multi_per_query,
        bm25_multi_scored,
    )
    from changegen_spark.sources.tables import load_table

    base_vocab = sorted({t for _q, ts in BM25_MULTI for t in ts})
    wide_vocab = base_vocab + [
        "data", "row", "table", "stream", "key", "value", "column",
        "big", "small", "agg", "the", "a", "line", "scan", "group",
        "customer", "part", "order", "window", "query",
    ]
    q32 = tuple(
        (qid * 4 + k, ts)
        for qid, ts in BM25_MULTI
        for k in range(4)
    )
    # r11 (r10 verdict #5): a real corpus-slicing pipeline runs
    # THOUSANDS of queries at once — 1,000 queries over the same
    # vocabulary.  The corpus-side tf pass is query-count-invariant;
    # what grows is the per-(query, doc) fan-out (the broadcast
    # (query, term) table is 4k rows — nowhere near the broadcast
    # limit) and the per-query top-k shuffle, both proportional to
    # fanout_rows below, NOT to queries × corpus.
    q1000 = tuple(
        (qid * 125 + k, ts)
        for qid, ts in BM25_MULTI
        for k in range(125)
    )
    q8_wide = tuple(
        (i + 1, tuple(wide_vocab[j % len(wide_vocab)]
                      for j in range(i * 4, i * 4 + 4)))
        for i in range(8)
    )
    bm25 = {"configs": {}}
    for key, qset in (
        ("q8_base", BM25_MULTI),
        ("q32_same_vocab", q32),
        ("q1000_same_vocab", q1000),
        ("q8_wide_vocab", q8_wide),
    ):
        frame = bm25_multi_scored(spark, SF_DIR, qset, BM25_MULTI_TOPK)
        # matched postings: the tf frame the corpus explode shuffles
        terms = sorted({t for _q, ts in qset for t in ts})
        postings = (
            load_table(spark, SF_DIR, "documents")
            .select(_F.explode(_toks(_F.col("text"))).alias("w"))
            .filter(_F.col("w").isin(terms))
            .count()
        )
        noop(frame)  # warm
        # fresh frame per run, build inside the clock — the headline
        # methodology (r10 same-frame postmortem)
        best = warm_min(
            lambda: noop(bm25_multi_scored(spark, SF_DIR, qset, BM25_MULTI_TOPK)),
            SF1_WARM_RUNS,
        )
        bm25["configs"][key] = {
            "n_queries": len(qset),
            "n_terms": len(terms),
            "matched_postings": postings,
            "fanout_rows": bm25_multi_per_query(
                spark, SF_DIR, qset
            ).count(),
            "wall_s": round(best, 3),
        }
    c = bm25["configs"]
    bm25["wall_growth_4x_queries"] = round(
        c["q32_same_vocab"]["wall_s"] / c["q8_base"]["wall_s"], 2
    )
    bm25["wall_growth_125x_queries"] = round(
        c["q1000_same_vocab"]["wall_s"] / c["q8_base"]["wall_s"], 2
    )
    bm25["fanout_growth_125x_queries"] = round(
        c["q1000_same_vocab"]["fanout_rows"]
        / max(c["q8_base"]["fanout_rows"], 1), 2
    )
    bm25["wall_growth_wide_vocab"] = round(
        c["q8_wide_vocab"]["wall_s"] / c["q8_base"]["wall_s"], 2
    )
    bm25["postings_growth_wide_vocab"] = round(
        c["q8_wide_vocab"]["matched_postings"]
        / max(c["q8_base"]["matched_postings"], 1), 2
    )
    return bm25


def layout_ladder(spark, queries):
    """layout ladder (r6): the optimization no query plan shows — range-
    clustered vs scattered parquet layout of the SAME sf0.1 lineitem
    rows, a ~1/80-selectivity date predicate on both.  The decisive
    number is the FOOTER-level truth (row groups / rows a min/max-
    pruning reader skips): rows_read is the I/O a cluster pays.  The
    warm wall is reported too but is NOT the scale signal here — at
    600k page-cached rows the scan is scheduling-bound and the
    clustered copy concentrates all matching rows in ONE task while
    scattered spreads the (free) read across 32, so wall parity or a
    small inversion is expected locally; SCALE.md documents it.
    """
    from pyspark.sql import functions as _F

    from changegen_spark.sources.layout import (
        rowgroup_prune_stats,
        write_clustered,
        write_scattered,
    )
    from changegen_spark.sources.tables import load_table

    lay_dir = os.environ.get(
        "SPARK_GRAFT_LAYOUT_DIR", "/tmp/changegen_spark_layout"
    )
    li = load_table(spark, SF_DIR, "lineitem").select(
        "l_orderkey",
        _F.to_date("l_shipdate").alias("ship_date"),
        "l_quantity",
        "l_extendedprice",
    )
    t0 = time.time()
    paths = {
        "clustered": os.path.join(lay_dir, "clustered"),
        "scattered": os.path.join(lay_dir, "scattered"),
    }
    write_clustered(li, paths["clustered"], by="ship_date", partitions=32)
    write_scattered(li, paths["scattered"], partitions=32)
    build_s = round(time.time() - t0, 1)
    lo, hi = date(1997, 3, 1), date(1997, 3, 31)
    layout = {"build_s": build_s, "layouts": {}}
    for kind, path in paths.items():
        q = (
            spark.read.parquet(path)
            .filter(_F.col("ship_date").between("1997-03-01", "1997-03-31"))
            .agg(
                _F.count("*").alias("n"),
                _F.sum("l_quantity").alias("s"),
            )
        )
        noop(q)  # warm
        best = warm_min(lambda: noop(q), SF1_WARM_RUNS)
        st = rowgroup_prune_stats(path, "ship_date", lo, hi)
        layout["layouts"][kind] = {
            "scan_wall_s": round(best, 3),
            "row_groups": st["row_groups"],
            "row_groups_read": st["row_groups_read"],
            "rows_read": st["rows_read"],
            "rows_total": st["rows_total"],
            "prune_pct": st["prune_pct"],
        }
    cl, sc = layout["layouts"]["clustered"], layout["layouts"]["scattered"]
    layout["io_reduction_x"] = round(
        sc["rows_read"] / max(cl["rows_read"], 1), 1
    )
    return layout


LADDERS = {
    "sf": sf_ladder,
    "scaleup": scaleup_ladder,
    "media": media_ladder,
    "er": er_ladder,
    "web": web_ladder,
    "corpus": corpus_ladder,
    "bm25": bm25_ladder,
    "layout": layout_ladder,
}


def main(argv: list[str]) -> None:
    names = argv or list(LADDERS)
    unknown = [n for n in names if n not in LADDERS]
    if unknown:
        raise SystemExit(f"unknown ladder {unknown}; choose from {list(LADDERS)}")
    from changegen_spark.queries import all_queries
    from changegen_spark.session import get_spark

    spark = get_spark("changegen_spark-ladders")
    queries = all_queries()
    results = {f"{n}_ladder": LADDERS[n](spark, queries) for n in names}
    path = os.path.join(REPO, "ladders_out.json")
    merged = {}
    if os.path.exists(path):
        with open(path) as f:
            merged = json.load(f)
    merged.update(results)
    with open(path, "w") as f:
        json.dump(merged, f, indent=1)
        f.write("\n")
    print(json.dumps(results))


if __name__ == "__main__":
    main(sys.argv[1:])
