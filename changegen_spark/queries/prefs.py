"""Pairwise-preference aggregation (r8 new family) — the RLHF-style
preference-data operators a training pipeline runs over human or model
judgments: the win matrix between items and Bradley-Terry strength
scores fitted by the standard minorization-maximization recurrence.

The comparison log is derived deterministically from the events table
(each event is one judgment between two of ``N_ITEMS`` items, winner
drawn by the 60-bit hash against the planted strengths s_i = i + 1), so
the fixture has a KNOWN ground-truth ordering the fit must recover —
tests/test_prefs.py pins monotonicity; the oracle pins every integer.

Determinism contract (the pagerank precedent, queries/graph.py): all
iteration arithmetic is integer — e6-scaled weights, e12-scaled
numerators, floor division, an explicit integer sum-gauge normalization
per iteration — so ``BT_ITERS`` unrolled CTEs in DuckDB reproduce the
Spark result bit-for-bit.  Bounds: n_ij·e12 ≤ ~1e16 and W_i·e12 ≤ ~1e16,
both far inside int64.

100 TB shape: the comparison log aggregates ONCE, distributed, into
≤ 2·C(N,2) cells — e.g. 12 items → ≤132 rows — and the MM recurrence
runs on that KB-sized artifact driver-side (the k-means-centroid
pattern); the raw log is never re-read.  For million-item regimes
(per-prompt rankings) the same recurrence shards by connected component.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from changegen_spark.queries.sketches import _H60_SQL, h60
from changegen_spark.sources.tables import load_table

N_ITEMS = 12
BT_ITERS = 3
E6 = 1_000_000
E12 = E6 * E6


def comps_frame(events: DataFrame) -> DataFrame:
    """(ia, ib, a_wins) — one deterministic judgment per event with
    distinct items.  h60 is non-negative, so ``%`` and ``pmod`` agree.
    Pure expression work over any events frame."""
    eid = F.col("event_id").cast("string")
    ia = F.pmod(h60(F.concat(eid, F.lit(":pa"))), F.lit(N_ITEMS))
    ib = F.pmod(h60(F.concat(eid, F.lit(":pb"))), F.lit(N_ITEMS))
    d = events.select(
        ia.alias("ia"), ib.alias("ib"), F.col("event_id")
    ).filter(F.col("ia") != F.col("ib"))
    tot = F.col("ia") + F.col("ib") + 2  # s_a + s_b with s_i = i + 1
    a_wins = F.pmod(
        h60(F.concat(eid, F.lit(":pw"))), tot
    ) < F.col("ia") + 1
    return d.select("ia", "ib", a_wins.alias("a_wins"))


def _comps(spark: SparkSession, sf_dir: str) -> DataFrame:
    return comps_frame(load_table(spark, sf_dir, "events").select("event_id"))


_COMPS_SQL = f"""
  SELECT ia, ib,
         ({_H60_SQL.format(x="event_id || ':pw'")} % (ia + ib + 2)) < ia + 1
           AS a_wins
  FROM (
    SELECT {_H60_SQL.format(x="event_id || ':pa'")} % {N_ITEMS} AS ia,
           {_H60_SQL.format(x="event_id || ':pb'")} % {N_ITEMS} AS ib,
           event_id
    FROM events) t
  WHERE ia <> ib
"""


def win_matrix_frame(comps: DataFrame) -> DataFrame:
    """The win-matrix aggregation over a (ia, ib, a_wins) frame — counts
    and sums only, so it is micro-batch merge-safe."""
    lo_wins = F.when(
        F.col("ia") < F.col("ib"), F.col("a_wins")
    ).otherwise(~F.col("a_wins"))
    return (
        comps.select(
            F.least("ia", "ib").alias("item_a"),
            F.greatest("ia", "ib").alias("item_b"),
            lo_wins.cast("long").alias("w"),
        )
        .groupBy("item_a", "item_b")
        .agg(
            F.count("*").cast("long").alias("n_games"),
            F.sum("w").cast("long").alias("wins_a"),
        )
        .withColumn(
            "winrate_e6",
            F.expr(f"wins_a * cast({E6} as bigint) div n_games"),
        )
    )


def q_win_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(item_a, item_b, n_games, wins_a, winrate_e6) for item_a <
    item_b: the canonical pairwise win matrix.  Two map-side-combinable
    aggregations over the judgment log — no join, no skew."""
    return win_matrix_frame(_comps(spark, sf_dir)).orderBy(
        "item_a", "item_b"
    )


Q_WIN_MATRIX_SQL = f"""
WITH comps AS ({_COMPS_SQL})
SELECT least(ia, ib) AS item_a, greatest(ia, ib) AS item_b,
       CAST(count(*) AS BIGINT) AS n_games,
       CAST(sum(CASE WHEN (ia < ib) = a_wins THEN 1 ELSE 0 END) AS BIGINT)
         AS wins_a,
       CAST(sum(CASE WHEN (ia < ib) = a_wins THEN 1 ELSE 0 END)
            * {E6} // count(*) AS BIGINT) AS winrate_e6
FROM comps GROUP BY 1, 2 ORDER BY item_a, item_b
"""


def q_bt_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(item, n_games, n_wins, bt_e6): Bradley-Terry strengths after
    BT_ITERS integer-exact MM iterations —
    w_i ← (W_i · e12) div Σ_j (n_ij · e12 div (w_i + w_j)),
    then sum-gauge renormalized to N_ITEMS · e6 per iteration.

    Shape: the judgment log (the data-scale input) aggregates ONCE,
    distributed, into (i, j, n) and (i, wins) — at most N² + N rows.
    The MM recurrence then runs on that KB-sized artifact DRIVER-SIDE
    (the k-means-centroid / k-center pattern: iterating tiny broadcast
    joins through Catalyst costs ~1 s of plan overhead per round for
    zero parallelism gain on a 132-row frame).  Integer math is
    identical either way; the unrolled SQL oracle pins it."""
    c = _comps(spark, sf_dir)
    # ONE distributed pass: the log collapses to ≤ 2·C(N,2) cells of
    # (ia, ib, a_wins) → count; everything else derives from those.
    cells = c.groupBy("ia", "ib", "a_wins").agg(
        F.count("*").cast("long").alias("cnt")
    ).collect()
    n = {}
    w_cnt = {}
    totals = {}
    for r in cells:
        for i, j in ((r.ia, r.ib), (r.ib, r.ia)):
            n[(i, j)] = n.get((i, j), 0) + int(r.cnt)
            totals[i] = totals.get(i, 0) + int(r.cnt)
        winner = r.ia if r.a_wins else r.ib
        w_cnt[winner] = w_cnt.get(winner, 0) + int(r.cnt)
    w_cnt = {i: w_cnt.get(i, 0) for i in totals}
    items = sorted(totals)
    bt = _mm_fit(items, n, w_cnt)
    rows = [(i, totals[i], w_cnt[i], bt[i]) for i in items]
    return spark.createDataFrame(
        rows, "item long, n_games long, n_wins long, bt_e6 long"
    ).orderBy("item")


def _mm_fit(items: list, n: dict, w_cnt: dict) -> dict:
    """BT_ITERS integer-exact MM iterations over pre-aggregated directed
    game counts ``n[(i, j)]`` and win counts ``w_cnt[i]`` — the recurrence
    shared by the unweighted and reliability-weighted fits (the weighted
    fit only changes the counts it is fed)."""
    bt = {i: E6 for i in items}
    for _ in range(BT_ITERS):
        raw = {}
        for i in items:
            den = sum(
                n[(i, j)] * E12 // (bt[i] + bt[j])
                for j in items
                if (i, j) in n
            )
            raw[i] = w_cnt[i] * E12 // den
        tot = sum(raw.values())
        bt = {i: raw[i] * (N_ITEMS * E6) // tot for i in items}
    return bt


def _bt_it_sql(prev: str) -> str:
    return f"""
  SELECT r.item, r.raw * {N_ITEMS * E6} // (SELECT sum(raw) FROM raw_{prev}) AS bt
  FROM raw_{prev} r"""


def _bt_raw_sql(prev: str, out: str) -> str:
    return f"""raw_{out} AS (
  SELECT g.i AS item,
         COALESCE(max(wn.w), 0) * {E12}
           // sum(g.n * {E12} // (wi.bt + wj.bt)) AS raw
  FROM games g
  JOIN {prev} wi ON wi.item = g.i
  JOIN {prev} wj ON wj.item = g.j
  LEFT JOIN wins wn ON wn.i = g.i
  GROUP BY g.i
), {out} AS ({_bt_it_sql(out)}
)"""


Q_BT_SCORES_SQL = f"""
WITH comps AS ({_COMPS_SQL}),
directed AS (
  SELECT ia AS i, ib AS j FROM comps
  UNION ALL SELECT ib, ia FROM comps
), games AS (
  SELECT i, j, CAST(count(*) AS BIGINT) AS n FROM directed GROUP BY i, j
), wins AS (
  SELECT CASE WHEN a_wins THEN ia ELSE ib END AS i,
         CAST(count(*) AS BIGINT) AS w
  FROM comps GROUP BY 1
), w0 AS (
  SELECT DISTINCT i AS item, CAST({E6} AS BIGINT) AS bt FROM games
), {_bt_raw_sql('w0', 'w1')}, {_bt_raw_sql('w1', 'w2')}, {_bt_raw_sql('w2', 'w3')}
SELECT t.item, CAST(t.n_games AS BIGINT) AS n_games,
       CAST(COALESCE(wn.w, 0) AS BIGINT) AS n_wins,
       CAST(w3.bt AS BIGINT) AS bt_e6
FROM (SELECT i AS item, sum(n) AS n_games FROM games GROUP BY i) t
JOIN w3 ON w3.item = t.item
LEFT JOIN wins wn ON wn.i = t.item
ORDER BY t.item
"""


# --- inter-rater agreement (labeling QC) -------------------------------------

N_RATERS = 3
FLIP_PCT = (5, 15, 30)  # rater r flips the true judgment this % of the time


def _rater_label(eid, a_wins, r: int):
    """Rater ``r``'s label: the true ``a_wins`` flipped with probability
    FLIP_PCT[r]% — hash-deterministic, so both engines agree."""
    flip = (
        F.pmod(h60(F.concat(eid, F.lit(f":r{r}"))), F.lit(100))
        < FLIP_PCT[r]
    )
    return F.when(flip, ~a_wins).otherwise(a_wins)


def labeled_frame(events: DataFrame) -> DataFrame:
    """(ia, ib, l0..l{R-1}) — every rater's (possibly flipped) judgment
    for each distinct-item event.  Pure expression work over any events
    frame."""
    eid = F.col("event_id").cast("string")
    ia = F.pmod(h60(F.concat(eid, F.lit(":pa"))), F.lit(N_ITEMS))
    ib = F.pmod(h60(F.concat(eid, F.lit(":pb"))), F.lit(N_ITEMS))
    truth = F.pmod(h60(F.concat(eid, F.lit(":pw"))), ia + ib + 2) < ia + 1
    return (
        events.select(ia.alias("ia"), ib.alias("ib"), F.col("event_id"))
        .filter(F.col("ia") != F.col("ib"))
        .select(
            "ia",
            "ib",
            *[
                _rater_label(eid, truth, r).cast("long").alias(f"l{r}")
                for r in range(N_RATERS)
            ],
        )
    )


def label_sums(labeled: DataFrame) -> DataFrame:
    """ONE aggregate row of kappa's sufficient statistics: n, per-rater
    positives, pairwise agreement counts.  Counts and sums only, so
    micro-batch merge-safe."""
    return labeled.agg(
        F.count("*").alias("n"),
        *[F.sum(f"l{r}").alias(f"p{r}") for r in range(N_RATERS)],
        *[
            F.sum(
                (F.col(f"l{a}") == F.col(f"l{b}")).cast("long")
            ).alias(f"agree_{a}_{b}")
            for a in range(N_RATERS)
            for b in range(a + 1, N_RATERS)
        ],
    )


def kappa_expr(a: int, b: int):
    """Guarded integer-exact kappa over label_sums' columns.  The
    zero-denominator CASE (r8 advice): an empty slice or an
    all-identical-labels pair makes n² equal the chance term; kappa is
    0 by convention there, and without the guard Spark (non-ANSI)
    yields NULL while DuckDB's // raises — the engines diverge."""
    chance = f"(p{a} * p{b} + (n - p{a}) * (n - p{b}))"
    return F.expr(
        f"CASE WHEN n * n - {chance} > 0 THEN"
        f" (n * agree_{a}_{b} - {chance})"
        f" * cast({E6} as bigint) div (n * n - {chance})"
        f" ELSE 0 END"
    ).cast("long")


def q_rater_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(rater_a, rater_b, n, agree, kappa_e6): pairwise Cohen's kappa
    between the synthetic raters — the label-quality gate an annotation
    pipeline runs before trusting preference data.

    Kappa is computed as one INTEGER fraction — with A = agreements,
    Pa/Pb = per-rater positive counts, Na/Nb = negatives:
    kappa = (N·A − (Pa·Pb + Na·Nb)) / (N² − (Pa·Pb + Na·Nb)),
    so the e6 result is floor-division-exact on both engines.  One
    map-side pass over per-event label columns; no join, no explode."""
    ev = load_table(spark, sf_dir, "events").select("event_id")
    sums = label_sums(labeled_frame(ev))
    from functools import reduce

    parts = []
    for a in range(N_RATERS):
        for b in range(a + 1, N_RATERS):
            parts.append(
                sums.select(
                    F.lit(a).cast("long").alias("rater_a"),
                    F.lit(b).cast("long").alias("rater_b"),
                    F.col("n").cast("long"),
                    F.col(f"agree_{a}_{b}").cast("long").alias("agree"),
                    kappa_expr(a, b).alias("kappa_e6"),
                )
            )
    return reduce(lambda x, y: x.unionAll(y), parts).orderBy(
        "rater_a", "rater_b"
    )


def _kappa_cte_sql() -> str:
    """The base/truths/labels/sums/kap CTE chain — shared by the kappa
    query and the reliability-weighted BT fit (labels carry ia/ib so the
    weighted win matrix can reuse them)."""
    flips = []
    for r in range(N_RATERS):
        t = f"({_H60_SQL.format(x=f'''event_id || ':r{r}' ''')} % 100) < {FLIP_PCT[r]}"
        flips.append(
            f"CASE WHEN {t} THEN 1 - CAST(truth AS INT) ELSE CAST(truth AS INT) END AS l{r}"
        )
    pair_rows = []
    for a in range(N_RATERS):
        for b in range(a + 1, N_RATERS):
            pair_rows.append(
                f"""SELECT {a} AS rater_a, {b} AS rater_b, n,
                agree_{a}_{b} AS agree,
                CASE WHEN n * n - (p{a} * p{b} + (n - p{a}) * (n - p{b})) > 0
                  THEN CAST((n * agree_{a}_{b} - (p{a} * p{b} + (n - p{a}) * (n - p{b})))
                    * {E6}
                    // (n * n - (p{a} * p{b} + (n - p{a}) * (n - p{b})))
                    AS BIGINT)
                  ELSE CAST(0 AS BIGINT) END AS kappa_e6
                FROM sums"""
            )
    agg = ", ".join(
        [f"CAST(sum(l{r}) AS BIGINT) AS p{r}" for r in range(N_RATERS)]
        + [
            f"CAST(sum(CASE WHEN l{a} = l{b} THEN 1 ELSE 0 END) AS BIGINT)"
            f" AS agree_{a}_{b}"
            for a in range(N_RATERS)
            for b in range(a + 1, N_RATERS)
        ]
    )
    un = " UNION ALL ".join(pair_rows)
    return f"""base AS (
  SELECT event_id,
         {_H60_SQL.format(x="event_id || ':pa'")} % {N_ITEMS} AS ia,
         {_H60_SQL.format(x="event_id || ':pb'")} % {N_ITEMS} AS ib
  FROM events
), truths AS (
  SELECT event_id, ia, ib,
         ({_H60_SQL.format(x="event_id || ':pw'")} % (ia + ib + 2)) < ia + 1
           AS truth
  FROM base WHERE ia <> ib
), labels AS (
  SELECT ia, ib, {', '.join(flips)} FROM truths
), sums AS (
  SELECT CAST(count(*) AS BIGINT) AS n, {agg} FROM labels
), kap AS ({un})"""


def _kappa_sql() -> str:
    return f"""
WITH {_kappa_cte_sql()}
SELECT CAST(rater_a AS BIGINT) AS rater_a, CAST(rater_b AS BIGINT) AS rater_b,
       n, agree, kappa_e6
FROM kap ORDER BY rater_a, rater_b
"""


Q_RATER_AGREEMENT_SQL = _kappa_sql()


# --- reliability-weighted BT (r8 verdict #5) ----------------------------------
#
# Composes the two r8 pieces: every judgment is down-weighted by its
# rater's MEASURED reliability — the mean of the rater's two pairwise
# Cohen's kappas (q_rater_agreement), floored at 0 and expressed in
# percent units (kappa_e6 // 10_000, range 0..100).  All three raters
# label every comparison (the q_rater_agreement setup), so the weighted
# game count per pair is n·(w0+w1+w2) while the weighted win counts
# split by which rater said what — weighting shifts WIN MASS toward
# reliable raters, which is exactly what de-noises the fit.
#
# Integer bounds: counts carry a ≤3× factor over the unweighted fit
# after the //100 renormalization (Σw ≤ 300 percent units), so the
# documented q_bt_scores bound n_ij·e12 ≤ ~1e16 becomes ~3e16 — still
# 300× inside int64 at the sf0.1 fixture and safe to ~1e7 events.

RATER_W_DIV = 10_000  # kappa_e6 → percent units


def _weights_from_kappas(k: dict) -> list:
    ws = []
    for r in range(N_RATERS):
        ks = [v for (a, b), v in k.items() if r in (a, b)]
        ws.append(max(sum(ks) // len(ks), 0) // RATER_W_DIV)
    return ws


def _wcells(spark: SparkSession, sf_dir: str) -> list:
    """ONE distributed aggregation over the labeled log: per-(ia, ib)
    judgment count, per-rater win counts AND pairwise agreement counts —
    the union of what the kappa pass (label_sums) and the weighted-BT
    cells pass each aggregated separately.  r13 (guide §1.2/§2.3): the
    two passes scanned and hash-expanded the same events-derived frame
    twice; one ≤ C(N,2)·2-row collect now feeds both the rater weights
    and the fit."""
    ev = load_table(spark, sf_dir, "events").select("event_id")
    labeled = labeled_frame(ev)
    return labeled.groupBy("ia", "ib").agg(
        F.count("*").cast("long").alias("n"),
        *[F.sum(f"l{r}").alias(f"a{r}") for r in range(N_RATERS)],
        *[
            F.sum(
                (F.col(f"l{a}") == F.col(f"l{b}")).cast("long")
            ).alias(f"agree_{a}_{b}")
            for a in range(N_RATERS)
            for b in range(a + 1, N_RATERS)
        ],
    ).collect()


def _div_trunc(a: int, b: int) -> int:
    """Spark SQL's integral ``div`` (truncation toward zero) — NOT
    Python's floor ``//``; they differ on negative quotients, and kappa
    can be negative for a worse-than-chance rater."""
    q = abs(a) // abs(b)
    return q if (a >= 0) == (b >= 0) else -q


def _kappas_from_cells(cells: list) -> dict:
    """Driver-side replay of kappa_expr over the _wcells artifact —
    integer-identical to q_rater_agreement (sums are associative, the
    final fraction uses the same truncating div); pinned by
    tests/test_prefs.py."""
    n = sum(int(r.n) for r in cells)
    p = [sum(int(r[f"a{r0}"]) for r in cells) for r0 in range(N_RATERS)]
    out = {}
    for a in range(N_RATERS):
        for b in range(a + 1, N_RATERS):
            agree = sum(int(r[f"agree_{a}_{b}"]) for r in cells)
            chance = p[a] * p[b] + (n - p[a]) * (n - p[b])
            den = n * n - chance
            out[(a, b)] = (
                _div_trunc((n * agree - chance) * E6, den) if den > 0 else 0
            )
    return out


def bt_weighted_fit(
    spark: SparkSession, sf_dir: str, ws: list, cells: list | None = None
) -> DataFrame:
    """BT fit over the 3-rater labeled log with explicit per-rater
    percent weights ``ws`` — (100, 100, 100) reproduces the unweighted
    all-rater fit, measured kappas give q_bt_weighted.  One distributed
    pass collapses the log to ≤ C(N,2)·2 cells of per-rater win counts
    (``cells``, the _wcells artifact, may be passed in so q_bt_weighted
    shares one pass between weights and fit); the MM recurrence runs
    driver-side on that KB artifact."""
    if cells is None:
        cells = _wcells(spark, sf_dir)
    if sum(ws) == 0:
        # Every kappa-derived weight floored to 0 (all raters at/below
        # chance): reliability weighting is undefined, and W=0 would
        # zero every game count and divide by zero inside _mm_fit.
        # Fall back to equal weights — the convention mirroring the
        # kappa zero-denominator guard (kappa_expr returns 0 when the
        # chance-agreement denominator vanishes): degrade to the
        # unweighted fit rather than error.
        ws = [100] * N_RATERS
    W = sum(ws)
    acc_n = {}
    acc_w = {}
    for row in cells:
        nn = int(row.n)
        for i, j in ((row.ia, row.ib), (row.ib, row.ia)):
            acc_n[(i, j)] = acc_n.get((i, j), 0) + nn * W
        wa = sum(ws[r] * int(row[f"a{r}"]) for r in range(N_RATERS))
        wb = sum(ws[r] * (nn - int(row[f"a{r}"])) for r in range(N_RATERS))
        acc_w[row.ia] = acc_w.get(row.ia, 0) + wa
        acc_w[row.ib] = acc_w.get(row.ib, 0) + wb
    # floor AFTER accumulation, once per directed pair / item, so the
    # unrolled SQL oracle (same order of operations) is bit-identical
    n = {k: v // 100 for k, v in acc_n.items()}
    w_cnt = {i: acc_w.get(i, 0) // 100 for i in set(i for i, _ in acc_n)}
    totals = {}
    for (i, _j), v in n.items():
        totals[i] = totals.get(i, 0) + v
    items = sorted(totals)
    bt = _mm_fit(items, n, w_cnt)
    rows = [(i, totals[i], w_cnt[i], bt[i]) for i in items]
    return spark.createDataFrame(
        rows, "item long, n_games_w long, n_wins_w long, bt_e6 long"
    ).orderBy("item")


def q_bt_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(item, n_games_w, n_wins_w, bt_e6): Bradley-Terry strengths with
    each judgment weighted by its rater's measured reliability.  The
    planted flip rates (5/15/30%) give a known ground truth:
    tests/test_prefs.py pins that this fit lands strictly closer (L1 on
    bt_e6) to the noise-free fit than the equal-weight fit over the
    same noisy labels.

    r13 (guide §1.2): ONE distributed pass — the per-(ia, ib) cells
    aggregate carries the pairwise agreement sums, so the rater kappas
    (and weights) come out of the same collect that feeds the fit,
    where the r9-r12 form ran the kappa aggregation and the cells
    aggregation as two separate scans of the labeled log."""
    cells = _wcells(spark, sf_dir)
    ws = _weights_from_kappas(_kappas_from_cells(cells))
    return bt_weighted_fit(spark, sf_dir, ws, cells=cells)


def _bt_weighted_sql() -> str:
    wsum = "(SELECT rw0 + rw1 + rw2 FROM wvals)"
    return f"""
WITH {_kappa_cte_sql()},
wvals AS (
  SELECT greatest((k01 + k02) // 2, 0) // {RATER_W_DIV} AS rw0,
         greatest((k01 + k12) // 2, 0) // {RATER_W_DIV} AS rw1,
         greatest((k02 + k12) // 2, 0) // {RATER_W_DIV} AS rw2
  FROM (SELECT
     max(CASE WHEN rater_a = 0 AND rater_b = 1 THEN kappa_e6 END) AS k01,
     max(CASE WHEN rater_a = 0 AND rater_b = 2 THEN kappa_e6 END) AS k02,
     max(CASE WHEN rater_a = 1 AND rater_b = 2 THEN kappa_e6 END) AS k12
   FROM kap)
), cells AS (
  SELECT ia, ib, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(l0) AS BIGINT) AS a0,
         CAST(sum(l1) AS BIGINT) AS a1,
         CAST(sum(l2) AS BIGINT) AS a2
  FROM labels GROUP BY ia, ib
), games AS (
  SELECT i, j, CAST(sum(nw) // 100 AS BIGINT) AS n FROM (
    SELECT ia AS i, ib AS j, n * {wsum} AS nw FROM cells
    UNION ALL
    SELECT ib, ia, n * {wsum} FROM cells
  ) GROUP BY i, j
), wins AS (
  SELECT i, CAST(sum(x) // 100 AS BIGINT) AS w FROM (
    SELECT ia AS i,
           (SELECT rw0 FROM wvals) * a0 + (SELECT rw1 FROM wvals) * a1
             + (SELECT rw2 FROM wvals) * a2 AS x
    FROM cells
    UNION ALL
    SELECT ib,
           (SELECT rw0 FROM wvals) * (n - a0)
             + (SELECT rw1 FROM wvals) * (n - a1)
             + (SELECT rw2 FROM wvals) * (n - a2)
    FROM cells
  ) GROUP BY i
), w0 AS (
  SELECT DISTINCT i AS item, CAST({E6} AS BIGINT) AS bt FROM games
), {_bt_raw_sql('w0', 'w1')}, {_bt_raw_sql('w1', 'w2')}, {_bt_raw_sql('w2', 'w3')}
SELECT t.item, CAST(t.n_games AS BIGINT) AS n_games_w,
       CAST(COALESCE(wn.w, 0) AS BIGINT) AS n_wins_w,
       CAST(w3.bt AS BIGINT) AS bt_e6
FROM (SELECT i AS item, sum(n) AS n_games FROM games GROUP BY i) t
JOIN w3 ON w3.item = t.item
LEFT JOIN wins wn ON wn.i = t.item
ORDER BY t.item
"""


Q_BT_WEIGHTED_SQL = _bt_weighted_sql()


QUERIES = {
    "q_win_matrix": q_win_matrix,
    "q_bt_scores": q_bt_scores,
    "q_rater_agreement": q_rater_agreement,
    "q_bt_weighted": q_bt_weighted,
}
ORACLES = {
    "q_win_matrix": Q_WIN_MATRIX_SQL,
    "q_bt_scores": Q_BT_SCORES_SQL,
    "q_rater_agreement": Q_RATER_AGREEMENT_SQL,
    "q_bt_weighted": Q_BT_WEIGHTED_SQL,
}
