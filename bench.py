"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is fully materialized through the noop sink (no driver collect,
no result-size bias) — wall time measures the distributed plan, which is
what must hold at 100 TB.

This harness times the headline set and the sf1 block and nothing else;
the one-off scaling ladders live in ``tools/ladders.py``, which reuses
``warm_min``, ``noop`` and ``time_queries`` from here.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# where the sf1 block builds its 10× replication of sf0.1
SF1_DIR = os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/changegen_spark_sf1")

# Headline set: one per operator family — scan/agg, join+topk, multi-join,
# spatial join, dedup-LSH, ANN, temporal joins, sessionization, exact dedup,
# text scan.  (r2: q_lsh_pairs_fast left the headline — the xxhash64
# experiment's premise was disproven once the default signature moved to the
# Arrow UDF, making the "fast" twin the slower redundant variant; the query
# and the xxhash64 MinHash path were later deleted, GAPS.md keeps the
# negative result.  Its slot carries the as-of + range joins.)
# Per-query wall-clock ceilings (sec, sf0.1 warm): 1.3× the BENCH_r02
# recording, except the two r3-rewritten queries which get the verdict's
# explicit < 4 s targets.  bench.py reports violations in the JSON line
# ("over_budget") so round-over-round drift is visible at the source
# instead of surfacing two rounds later as a verdict regression note.
BUDGETS = {
    "q01_pricing_summary": 2.1,
    "q_snapshot_diff": 2.2,
    "q03_top_orders": 1.6,
    "q05_region_revenue": 1.9,
    "q_distance_join": 1.6,
    "q_grid_dedup": 0.8,
    "q_lsh_pairs": 3.1,
    "q_ann_bruteforce": 2.1,
    "q_asof_join": 1.2,
    "q_range_join": 1.6,
    "q_sessionize": 0.7,
    "q_event_windows": 0.6,
    "q_exact_dedup": 0.6,
    "q_token_count": 0.5,
    "q_way_chunking": 0.7,
    "q_decontaminate": 1.9,
    "q_pack_sequences": 0.6,
    "q_corpus_pipeline": 2.3,
    "q_dup_spans": 2.7,  # r3 Arrow positioned-gram rewrite: ~2.0 s warm
    "q_lm_score": 4.0,
    "q_feature_hash": 1.0,
    # r3 late additions (measured warm min-of-3 at sf0.1: 0.73 / 0.74 / 0.39)
    "q_resample": 1.1,
    "q_hybrid_search": 1.1,
    # r7 re-budget with measurement (r6 verdict #5): code untouched since
    # r3 and the plan is still the pinned bucket equi-join (3 exchanges,
    # no nested-loop), but the 0.39 s r3 reading is unreproducible at any
    # load: r6 judge idle-normalized 0.685, r7 idle bench-context 0.59-0.63,
    # r7 FRESH-session min-of-3 0.9-1.1 — on a ~0.5 s query the moving part
    # is JVM/code-cache state from the 40-query suite around it, not the
    # operator.  Budgeted at the measured bench-context ceiling + headroom.
    "q_interval_overlap": 0.8,
    # late-r3 dedup granularities (measured warm min-of-3: 1.84 / 2.22)
    "q_winnow_pairs": 2.4,
    "q_cdc_chunks": 2.9,
    # r3.4 additions (measured warm min-of-3 at sf0.1: 1.63 / 1.53 / 0.94 /
    # 0.48) — HLL sketch, SemDeDup with adaptive cells + Arrow kernels,
    # map-only phrase retrieval, stream-stream batch twin
    "q_hll_distinct": 2.2,
    "q_semantic_dedup": 2.1,
    "q_phrase_search": 1.3,
    "q_view_purchase_pairs": 0.8,
    # r4 additions (measured warm min-of-3 at sf0.1: 2.20 / 1.15) — DSIR
    # importance-resampling selection and the banded-LSH hard-negative
    # miner (the scale path; the exact variant is the deliberate quadratic)
    "q_dsir_weights": 2.9,
    # r5: 8-band config (recall@5 0.44 → 0.80); measured 1.73 s warm
    "q_hard_negatives_lsh": 2.3,
    # r5 additions (measured warm min-of-3 at sf0.1: 1.21 / 5.64) — the
    # banded-LSH embedding-dedup scale path (the exact theta-join twin
    # measures 10.95 s on the same data: the last all-pairs join, retired
    # from the scale path per the r4 verdict) and the end-to-end near-dup
    # dedup composite (LSH pairs → connected components → keep list)
    "q_embedding_dedup_lsh": 1.7,
    "q_dedup_clusters": 7.3,
    # r5 curation family representatives (measured warm min-of-3 at
    # sf0.1: 1.25 / 1.90) — first-occurrence n-gram novelty (two hash
    # shuffles) and CCNet perplexity terciles (composes the bigram LM)
    "q_ngram_novelty": 1.7,
    # r7 re-budget with measurement (r6 verdict #5): the r6 de-skew
    # (range-partitioned ranks + broadcast stitch) deliberately costs an
    # exchange over the r5 ntile form; the r7 shave merged the offs/totals
    # aggregates into one window-derived meta frame (raw 3.29 → 2.76 at
    # equal calib) but the range-partition window sort dominates.
    # Measured: r6 judge idle-normalized 2.72, r7 idle raw 2.76-3.29 at
    # calib 0.30-0.37 (normalized 2.9-3.05).
    "q_ccnet_buckets": 3.2,
    # r6 (r5 verdict #7): the three tokenizer encode stages — train on
    # the dir's own docs (one word-count shuffle + bounded driver loop)
    # then Arrow-batched encode.  Measured warm min-of-3 at sf0.1:
    # 1.35 / 1.21 / 3.71 (unigram pays 3 Viterbi-EM rounds driver-side).
    "q_bpe_encode_stats": 2.0,
    "q_wordpiece_encode_stats": 1.8,
    "q_unigram_encode_stats": 5.0,
    # r7: LSH-pooled MMR — ~1.1M collided candidates exactly scored + 3
    # checkpointed greedy rounds (the exact pool scores 3.7M).  Measured
    # 2.73 / 3.47 bench-context and 5.75 fresh-session; budgeted on the
    # bench-context ceiling + headroom.
    "q_mmr_topk_lsh": 5.0,
    # r8 (measured warm min-of-3 idle: 4.8 / 2.0 s — related_docs after
    # the Arrow tf pre-count + tfs/w fences; 6.6 s before)
    "q_related_docs": 7.0,
    "q_bt_scores": 3.0,
    # r9 (measured warm min-of-3 idle: 3.41 raw / 3.25 norm at calib
    # 1.05) — two aggregation passes over the judgment log (kappa
    # sufficient statistics + per-pair label cells) vs q_bt_scores' one
    "q_bt_weighted": 4.5,
    # r10 (measured warm min-of-3, fresh session after a bm25 warmup,
    # load 0.23: 1.57 s) — the single filtered-explode tf pass + the
    # broadcast query fan-out + per-query top-k window
    "q_bm25_multi": 2.2,
}

HEADLINE = [
    "q01_pricing_summary",
    "q_snapshot_diff",
    "q03_top_orders",
    "q05_region_revenue",
    "q_distance_join",
    "q_grid_dedup",
    "q_lsh_pairs",
    "q_ann_bruteforce",
    "q_asof_join",
    "q_range_join",
    "q_sessionize",
    "q_event_windows",
    "q_exact_dedup",
    "q_token_count",
    "q_way_chunking",
    # r2: training-data prep family representatives — the n-gram semi-join
    # (decontamination), the per-source prefix-sum packer, and the
    # end-to-end corpus pipeline (dedup → quality → decon → pack).
    "q_decontaminate",
    "q_pack_sequences",
    "q_corpus_pipeline",
    # r2 continuation: substring-level dedup + LM quality scoring
    "q_dup_spans",
    "q_lm_score",
    # r3: vocabulary-free feature hashing (hashing-trick representative;
    # q_pagerank stays a contract query — its local wall time is fixed
    # stage overhead, not data, see queries/graph.py docstring)
    "q_feature_hash",
    # r3 late additions — one per new family: time-series resample+LOCF,
    # hybrid lexical+vector retrieval (runs BM25 inside), and the
    # bucketized interval-overlap join
    "q_resample",
    "q_hybrid_search",
    "q_interval_overlap",
    # late-r3: the two new dedup granularities — winnowing fingerprint
    # pair join and content-defined chunk dedup
    "q_winnow_pairs",
    "q_cdc_chunks",
    # r3.4: one per new family — mergeable distinct sketch, semantic
    # (embedding-cluster) dedup, positional phrase retrieval, and the
    # time-bounded event-pair join (stream-stream twin)
    "q_hll_distinct",
    "q_semantic_dedup",
    "q_phrase_search",
    "q_view_purchase_pairs",
    # r4: one per new family — DSIR data selection and LSH-banded
    # hard-negative mining
    "q_dsir_weights",
    "q_hard_negatives_lsh",
    # r5: the embedding-dedup scale path and the composite near-dup
    # dedup pipeline (the most scale-critical composite in the LLM surface)
    "q_embedding_dedup_lsh",
    "q_dedup_clusters",
    # r5: curation-family representatives
    "q_ngram_novelty",
    "q_ccnet_buckets",
    # r6: tokenizer encode stages (train + Arrow encode; r5 verdict #7)
    "q_bpe_encode_stats",
    "q_wordpiece_encode_stats",
    "q_unigram_encode_stats",
    # r7 (r6 verdict #3): MMR over the LSH-retrieved pool — the scale
    # path's measured row (the exact crossJoin pool stays a contract query)
    "q_mmr_topk_lsh",
    # r8: one per new family — DF-capped TF-IDF relatedness (the corpus
    # ladder measures its candidate scaling; this is its sf0.1 wall) and
    # Bradley-Terry preference aggregation (one log pass + driver MM)
    "q_related_docs",
    "q_bt_scores",
    # r9: reliability-weighted BT — the kappa pass (one global aggregate)
    # plus the per-pair label-cells pass, MM driver-side
    "q_bt_weighted",
    # r10: batched multi-query BM25 — one filtered-explode tf pass fanned
    # out to 8 queries by a broadcast term table (tools/ladders.py's bm25
    # ladder measures the queries-vs-postings scaling claim)
    "q_bm25_multi",
]


# sf1 scale-sensitive subset: the banded near-dup join, the embedding-
# cluster dedup, the substring dedup, and the composed corpus pipeline —
# the queries whose shuffle/candidate volume grows fastest with data.
SF1_QUERIES = [
    "q_lsh_pairs",
    "q_semantic_dedup",
    "q_dup_spans",
    "q_corpus_pipeline",
    # r5: banded-candidate embedding dedup (growth must stay ~<2.5× for
    # 10× data — the whole point of retiring the theta join) and the
    # iterative-component composite (its rounds-to-fixpoint and per-round
    # shuffle are exactly where lineage costs surface at scale)
    "q_embedding_dedup_lsh",
    "q_dedup_clusters",
    # r6: tokenizer encode at corpus scale — text volume is the axis that
    # matters for the encode stages; growth should track ~linear (the
    # train step's word-count shuffle dedups, so its cost grows slower)
    "q_bpe_encode_stats",
    "q_wordpiece_encode_stats",
    "q_unigram_encode_stats",
]
SF1_WARM_RUNS = 2


def warm_min(run, runs: int) -> float:
    """Minimum wall seconds over ``runs`` timed calls of ``run()``.  The
    caller makes the untimed warm run (or times it as the cold run)."""
    best = float("inf")
    for _ in range(runs):
        t0 = time.perf_counter()
        run()
        best = min(best, time.perf_counter() - t0)
    return best


def noop(df) -> None:
    """Materialize ``df`` fully through the noop sink."""
    df.write.format("noop").mode("overwrite").save()


def time_queries(spark, queries, names, sf_dir: str, runs: int) -> dict[str, float]:
    """Per query: one untimed warm run, then the warm min of ``runs``."""
    out = {}
    for name in names:
        run = lambda: noop(queries[name](spark, sf_dir))  # noqa: E731
        run()
        out[name] = round(warm_min(run, runs), 3)
    return out


# Idle-machine value of _calibration_s() on this box, measured across r4/r5
# idle closes (~0.29-0.35 s; GAPS.md).  calib_ratio = measured/IDLE is the
# ambient-load multiplier the whole run is subject to.
IDLE_CALIB_S = 0.30  # r7: min-of-3 sampling reads ~0.29-0.31 idle (the
# old 0.33 was a single-sample figure that included scheduler jitter)


def _calibration_s() -> float:
    """Fixed single-thread CPU work, timed — a load canary.  On an idle
    machine this constant is stable round over round; ambient load (other
    benchmarks, a concurrent pytest) inflates it roughly in proportion to
    how much it inflates every query below, which makes cross-round BENCH
    deltas attributable (r4 verdict: 27 of 30 untouched queries drifted
    +8-25% with no code change — unjudgeable without a canary).

    min-of-3 (r7): single samples wobbled 0.29-0.41 s on a verified-idle
    box — scheduler jitter on a 0.3 s probe is ±20%, which the ratio
    normalization would inject straight into every query.  The minimum is
    the undisturbed reading by construction."""

    def spin() -> None:
        s = 0
        for i in range(5_000_000):
            s += i * i
        assert s > 0

    return round(warm_min(spin, 3), 3)


# Idle-machine value of _parallel_calibration_s() on this box (r13,
# r12 verdict #6): the single-thread canary reads ~1.0 while the
# headline drifts ±13% across idle runs with movers concentrated in
# Arrow-UDF-heavy queries — multi-core contention, Python-worker pool
# state, and page cache are invisible to a single-thread probe.  This
# canary runs the same machinery the drifting queries run: 32 Arrow
# pandas-UDF tasks across the executor threads.
IDLE_CALIB_PAR_S = 0.76  # min-of-3 after warm, measured idle at r13 (0.756-0.775 across 4 fresh sessions)
IDLE_CALIB_PAR_CPUS = 32  # the defaultParallelism it was measured at


def _parallel_calibration_s(spark) -> float:
    """Fixed 32-task Arrow pandas-UDF micro-job, timed (min-of-3 after
    one warm run) — the MULTI-CORE load canary.  Exercises exactly the
    ambient state the single-thread probe cannot see: task scheduling
    across all executor threads, Arrow serialization, and the Python
    worker pool.  calib_par_ratio = measured/IDLE_CALIB_PAR_S is the
    multiplier to read round-over-round drift in Arrow-UDF-heavy
    queries against."""
    import numpy as np  # noqa: F401 (imported in the UDF body too)
    import pandas as pd
    from pyspark.sql import functions as _F
    from pyspark.sql.functions import pandas_udf

    def _work_body(x):
        import numpy as np
        import pandas as pd

        v = x.to_numpy(dtype="float64") + 1.0
        acc = np.zeros_like(v)
        for _ in range(400):
            acc = np.sqrt(acc + v * 1.0000001)
        return pd.Series(acc)

    # real annotation objects: the module-level `from __future__ import
    # annotations` stringifies inline hints, which pyspark's type-hint
    # inference cannot resolve against this closure's locals
    _work_body.__annotations__ = {"x": pd.Series, "return": pd.Series}
    _work = pandas_udf(_work_body, "double")

    df = spark.range(32 * 200_000, numPartitions=32).select(
        _work(_F.col("id")).alias("y")
    )

    noop(df)  # warm: Python worker spin-up + codegen
    return round(warm_min(lambda: noop(df), 3), 3)


def main() -> None:
    from changegen_spark.queries import all_queries
    from changegen_spark.session import get_spark

    load_before = round(os.getloadavg()[0], 2)
    calib_before = _calibration_s()
    # r5 verdict #5: don't bench into a loaded machine silently.  If the
    # canary reads >20% over idle, wait for the transient (a finishing
    # pytest, the driver's own setup) and re-sample, up to twice; if load
    # persists, proceed — the calib_ratio annotation below makes the run
    # self-normalizing rather than unusable.
    for _ in range(2):
        if calib_before <= IDLE_CALIB_S * 1.2:
            break
        time.sleep(20)
        calib_before = _calibration_s()

    spark = get_spark("changegen_spark-bench")
    queries = all_queries()

    # r14 (r13 verdict #3): the multi-core canary no longer runs BEFORE
    # the sweep.  The r13 placement saturated all 32 cores for several
    # seconds immediately before q01, and on a box with post-load
    # throttling the r13 driver's six worst "regressions" were exactly
    # the first six sweep positions — five of them code-untouched.  Both
    # samples now happen after the sweep (and after the over-budget
    # rechecks, which the r13 post-sweep sample was also contaminating).

    # Steady-state methodology (r3: n=3 warm runs, min reported): run each
    # query once to absorb one-time JVM class-load + whole-stage-codegen
    # compilation + page-cache fill, then time three further runs and keep
    # the minimum — that is the repeated-execution throughput a long-lived
    # cluster delivers, and min-of-3 removes the GC/compile jitter that made
    # sub-2 s queries drift 1.1-1.5× between single-sample rounds (r2
    # verdict).  cold_total is also reported.
    WARM_RUNS = 3
    # r7: global JVM warmup — the first few headline queries' "warm" runs
    # used to execute while the C2 compiler was still busy (~first 20 s of
    # the JVM), so WHICH early query blew its budget varied run to run
    # (q01 3.16 s one run, q03 2.60 s the next, both ~0.8-1.6 s once the
    # JVM is hot).  One untimed pass over the first three queries moves
    # that compile work before any timed run.
    for name in HEADLINE[:3]:
        noop(queries[name](spark, SF_DIR))
    timings: dict[str, float] = {}
    cold: dict[str, float] = {}
    for name in HEADLINE:
        run = lambda: noop(queries[name](spark, SF_DIR))  # noqa: E731
        cold[name] = round(warm_min(run, 1), 3)  # the timed cold run
        timings[name] = round(warm_min(run, WARM_RUNS), 3)

    calib_after = _calibration_s()
    # Ambient-load multiplier for THIS run; queries_norm are the timings a
    # judge should compare across rounds (raw timings retained alongside).
    calib_ratio = max(
        1.0, round(((calib_before + calib_after) / 2) / IDLE_CALIB_S, 3)
    )
    timings_norm = {n: round(t / calib_ratio, 3) for n, t in timings.items()}

    # over_budget is evaluated on NORMALIZED time so a loaded driver
    # machine cannot manufacture spurious entries; each entry carries the
    # raw value and the ratio so nothing is hidden.
    over_budget = {
        n: {
            "sec": timings[n],
            "sec_norm": timings_norm[n],
            "budget": BUDGETS[n],
            "calib_ratio": calib_ratio,
        }
        for n in HEADLINE
        if n in BUDGETS and timings_norm[n] > BUDGETS[n]
    }
    # r7 verdict #5: the committed artifact must adjudicate its own
    # transients.  r7 shipped q03 at 1.774 s (over its 1.6 budget); the
    # judge's idle re-measure read 1.121 s — a one-sample trip from
    # intermittent background load.  So every over-budget entry is
    # re-measured AFTER the sweep (fresh min-of-3 with its own
    # calibration sample); both readings land in the artifact, and
    # ``confirmed`` records whether the exceedance reproduced.
    for n, entry in over_budget.items():
        # r8 advice: sample calibration BEFORE AND AFTER the 3 recheck
        # runs and average, matching the sweep's calib_ratio methodology —
        # a lone pre-run sample taken during a transient load spike would
        # deflate sec_norm and flip `confirmed` to false.
        recal_before = _calibration_s()
        best = warm_min(lambda: noop(queries[n](spark, SF_DIR)), 3)
        recal = max(
            1.0,
            round(((recal_before + _calibration_s()) / 2) / IDLE_CALIB_S, 3),
        )
        renorm = round(best / recal, 3)
        entry["recheck"] = {
            "sec": round(best, 3),
            "sec_norm": renorm,
            "calib_ratio": recal,
            "confirmed": renorm > BUDGETS[n],
        }
    # r14: both multi-core canary samples run here — after the sweep AND
    # after the rechecks — so the 32-core Arrow saturation can no longer
    # throttle any timed query (r13 verdict #3).  Two samples ~a minute
    # of queries apart still bracket ambient drift at the tail.
    calib_par_1 = _parallel_calibration_s(spark)
    calib_par_2 = _parallel_calibration_s(spark)
    # the idle reading is the 32-core host's: on another core count the
    # ratio would measure the cores, not the load, so it is not computed
    calib_par_ratio = None
    if spark.sparkContext.defaultParallelism == IDLE_CALIB_PAR_CPUS:
        calib_par_ratio = max(
            1.0,
            round(((calib_par_1 + calib_par_2) / 2) / IDLE_CALIB_PAR_S, 3),
        )
    total = round(sum(timings.values()), 3)
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf

    # sf1 section (r3 verdict #8): run the scale-sensitive queries at a
    # 10× replication of sf0.1 every round, so scale regressions surface
    # in BENCH deltas instead of one-off SCALE.md anecdotes.  Growth is
    # warm-min(sf1)/warm-min(sf0.1) — ~1-3× means fixed overhead still
    # amortizing; ~10× means the query went data-bound (watch for >10×:
    # superlinear shuffle/skew).  Skippable via SPARK_GRAFT_SKIP_SF1=1;
    # only runs when the main pass measured the sf0.1 baseline.
    sf1 = None
    if sf_val == 0.1 and not os.environ.get("SPARK_GRAFT_SKIP_SF1"):
        from changegen_spark.sources.scaleup import build_scaled_dir

        t0 = time.time()
        build_scaled_dir(spark, SF_DIR, SF1_DIR, copies=10)
        build_s = round(time.time() - t0, 1)
        sf1_t = time_queries(spark, queries, SF1_QUERIES, SF1_DIR, SF1_WARM_RUNS)
        sf1 = {
            "queries": sf1_t,
            "total": round(sum(sf1_t.values()), 3),
            "build_s": build_s,
            "growth_vs_sf0_1": {
                n: round(sf1_t[n] / timings[n], 2)
                for n in SF1_QUERIES
                if timings.get(n)
            },
            "warm_runs": SF1_WARM_RUNS,
        }

    out = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        "cold_total": round(sum(cold.values()), 3),
        "warm_runs": WARM_RUNS,
        "over_budget": over_budget,
        # Trustworthiness fields (r4 verdict #2): 1-min loadavg and a fixed
        # single-thread CPU calibration, sampled before and after the run.
        # Compare calib_s across rounds before reading anything into
        # per-query drift; idle baseline for calib_s is ~0.4-0.5 s here.
        "load_1m": {"before": load_before, "after": round(os.getloadavg()[0], 2)},
        "calib_s": {"before": calib_before, "after": calib_after},
        "calib_idle_s": IDLE_CALIB_S,
        "calib_ratio": calib_ratio,
        # r13 (r12 verdict #6): the multi-core Arrow-UDF canary — the
        # single-thread probe cannot see multi-core/Python-worker/page-
        # cache ambient state, which is exactly where the ±13% idle
        # drift in Arrow-UDF-heavy queries lives.  Round-over-round
        # claims should quote value_norm_par when the movers are
        # UDF-heavy.  r14: both samples are POST-sweep/POST-recheck
        # (keys renamed so nobody reads "post1" as a pre-sweep probe).
        "calib_par_s": {
            "post1": calib_par_1,
            "post2": calib_par_2,
        },
        "calib_par_idle_s": IDLE_CALIB_PAR_S,
        "calib_par_idle_cpus": IDLE_CALIB_PAR_CPUS,
        "calib_par_ratio": calib_par_ratio,
        # timings divided by calib_ratio — the cross-round comparable view
        "queries_norm": timings_norm,
        "value_norm": round(sum(timings_norm.values()), 3),
        "value_norm_par": (
            round(sum(timings.values()) / calib_par_ratio, 3)
            if calib_par_ratio
            else None
        ),
    }
    if sf1 is not None:
        out["sf1"] = sf1
    # r6 verdict #6: the driver captures only a 2000-char stdout tail, so
    # the artifact must not depend on stdout — write the full JSON to a
    # file next to the repo root as well.  r8 verdict #6: the default
    # target is the NON-committed live path (bench_out.live.json,
    # gitignored) so a driver bench run never leaves the worktree dirty;
    # the committed bench_out.json only updates under an explicit
    # `python bench.py --commit` at round close.
    artifact = (
        "bench_out.json" if "--commit" in sys.argv else "bench_out.live.json"
    )
    try:
        here = os.path.dirname(os.path.abspath(__file__))
        with open(os.path.join(here, artifact), "w") as f:
            json.dump(out, f, indent=1)
            f.write("\n")
    except OSError:
        pass  # read-only checkout: stdout line still carries the result
    print(json.dumps(out))
    # r7 verdict #8: the driver captures a bounded stdout TAIL and its
    # parse of the full line has been null/truncated two rounds running.
    # The LAST line is therefore a compact driver-contract summary
    # (metric/value/unit/queries/sf + the artifact path) sized to survive
    # a 2000-char tail; the full artifact lives in bench_out.json.
    compact = {
        "metric": out["metric"],
        "value": out["value"],
        "unit": out["unit"],
        "queries": timings,
        "sf": out["sf"],
        "artifact": artifact,
    }
    print(json.dumps(compact, separators=(",", ":")))


if __name__ == "__main__":
    main()
