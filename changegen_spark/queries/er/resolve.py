"""Re-resolution of margin-abstained arrivals (r12, r11 verdict #1).

Margin abstention (incremental.incremental_assign_margin) parks an
arrival whose best and runner-up candidates are closer than ``margin``
as matched_entity −2 — correctly unmerged, but a production pipeline
must eventually give every arrival a TERMINAL disposition or the
abstention is just deferred loss.  This module adds the drain step:
after the batch's confident merges and new-entity inserts have updated
the golden table, re-probe the ambiguous pool against the UPDATED
survivor names — merges change them (mode ties break lexicographically,
so an absorbed variant can become the survivor), so a tie that existed
against the pre-batch base can break.  Each pooled arrival ends in one
of three states:

* ``resolved``        — the re-probe has a strict best (gap ≥ margin)
                        AND the acceptance POLICY's evidence rule
                        holds: merge into that entity;
* ``new``             — the survivor drift left NO candidate within the
                        refine threshold: insert as a new entity;
* ``still_ambiguous`` — the tie persists, or it broke without
                        informative evidence: stay parked (the
                        streaming lifecycle carries these across
                        micro-batches).

The re-probe target is the WHOLE updated golden table — untouched base
entities, updated survivors, and the batch's new singleton entities
alike — through the same two candidate keys and city+Levenshtein refine
as the first pass, so first-pass and re-probe can never disagree on
reachability semantics.

Acceptance policy (r13, r12 verdict #1).  The r12 drain accepted ANY
re-probe whose gap reached ``margin`` — but a first-pass tie usually
breaks because the LOSING candidate's survivor name drifted away
(lexicographic mode-tiebreak noise), which says nothing about where the
arrival belongs: at the 1M bench rung that rule resolved 21 parked
arrivals with only 10 correct, shipping 11 wrong merges where the first
pass shipped 0.  The r13 policies demand evidence the re-probe is
INFORMATIVE:

* ``gap``         — the r12 rule (gap ≥ margin), kept for measurement;
* ``gap2``        — gap ≥ max(margin, 2) on the re-probe;
* ``toward``      — the DEFAULT: the winner's survivor name must have
                    moved strictly TOWARD the arrival (re-probe lev <
                    the lev the arrival was PARKED at) — true exactly
                    when the winning entity absorbed a confirming
                    variant, never when the loser merely drifted away;
* ``toward_gap2`` — both.

``DRAIN_POLICY`` holds the default; the per-policy resolution precision
is measured as first-class er_ladder columns (tools/ladders.py) and
q_er_drain_policy exposes the full policy × arrival disposition table
with a DuckDB oracle.

100 TB shape: the pool is a small fraction of arrivals (7.2% at the
1M-rung margin-1 cell), and the re-probe is the SAME two key-equality
hash joins as the first pass with the pool as the probe side — candidate
volume is Σ_k pool_k·golden_k, bounded by the q_er_inc_audit dial; the
golden side is the maintained table, not a recompute (this module
reconstructs it only because the fixture query is self-contained).

Fixture: fixtures/er_ambig.parquet (tools/make_er_ambig.py) — er_people
plants no exact ties, so the drain loop needs its own corpus with each
terminal state planted and build-time-asserted.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from changegen_spark.operators.fence import fence
from changegen_spark.queries.er.blocking import (
    FIXDIR,
    LEV_MAX,
    block_key_sql,
)
from changegen_spark.queries.er.incremental import (
    INC_MARGIN,
    _inc_keyed,
    inc_refined_sql_body,
    incremental_assign_margin,
)
from changegen_spark.queries.er.sn import suffix_key_sql

ER_AMBIG_PATH = os.path.join(FIXDIR, "er_ambig.parquet")


def _ambig_people(spark: SparkSession) -> DataFrame:
    return spark.read.parquet(ER_AMBIG_PATH)


def _norm_rows(df: DataFrame, entity_col) -> DataFrame:
    return df.select(
        entity_col.cast("long").alias("entity"),
        "rec_id",
        F.coalesce(F.lower("name"), F.lit("")).alias("nname"),
        F.coalesce("city", F.lit("")).alias("city"),
    )


def updated_golden_names(
    arrivals: DataFrame,
    base: DataFrame,
    margin: int = INC_MARGIN,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """(entity, name, city) of the golden table AFTER applying one
    batch's confident merges (matched_entity ≥ 0) and new-entity inserts
    (−1); margin-abstained (−2) arrivals are excluded — they are parked,
    not golden.  Survivor name = the same mode-with-lexicographic-
    tiebreak rule as golden.q_er_golden_full / incremental.golden_delta;
    city = latest member's (members share the city whenever the entity
    was updated by a merge, since refine demands city equality).

    ``assigned`` (rec_id, matched_entity) short-circuits the internal
    margin assignment when the caller already ran it — the ladder passes
    a checkpointed frame so the 1M-rung candidate join executes once,
    not once per consumer."""
    if assigned is None:
        assigned = incremental_assign_margin(
            arrivals, base, margin=margin
        ).select("rec_id", "matched_entity")
    else:
        assigned = assigned.select("rec_id", "matched_entity")
    arr = _norm_rows(arrivals, F.col("rec_id")).drop("entity").join(
        assigned, "rec_id"
    )
    members = (
        _norm_rows(base, F.col("rec_id"))
        .unionByName(
            arr.filter(F.col("matched_entity") >= 0).select(
                F.col("matched_entity").alias("entity"),
                "rec_id",
                "nname",
                "city",
            )
        )
        .unionByName(
            arr.filter(F.col("matched_entity") == -1).select(
                F.col("rec_id").alias("entity"), "rec_id", "nname", "city"
            )
        )
    )
    nc = members.groupBy("entity", "nname").agg(F.count("*").alias("cnt"))
    mode = (
        nc.groupBy("entity")
        .agg(
            F.min(
                F.struct(
                    (-F.col("cnt")).alias("neg"), F.col("nname").alias("v")
                )
            ).alias("b")
        )
        .select("entity", F.col("b.v").alias("name"))
    )
    latest = members.groupBy("entity").agg(
        F.max(
            F.struct(F.col("rec_id").alias("r"), F.col("city").alias("v"))
        )["v"].alias("city")
    )
    return mode.join(latest, "entity")


DRAIN_POLICY = "toward"  # default acceptance policy (r13)
DRAIN_POLICIES = ("gap", "gap2", "toward", "toward_gap2")


def _reprobe_scored(amb: DataFrame, golden: DataFrame) -> DataFrame:
    """Policy-free re-probe metrics, one row per pooled arrival:
    (rec_id, g_id nullable, lev, gap, nm, park_lev) — g_id the winning
    candidate (null when the re-probe is dry), lev its re-probe
    Levenshtein, gap = runner-up lev − winner lev (−1 when there is no
    runner-up, the maximally-confident case), nm the candidate count,
    park_lev the lev the arrival was PARKED at in its first pass (the
    'toward' policies' evidence baseline).  ``amb``: (rec_id, aname,
    acity, park_lev); ``golden``: (entity, name, city).

    Scale shape: identical join plan to the first pass with the golden
    table as the build side — two key-equality hash joins + distinct +
    one probe-id window; zero iteration, zero data-sized windows."""
    from pyspark.sql import Window

    ak = _inc_keyed(
        amb.select(
            "rec_id", F.col("aname").alias("name"), F.col("acity").alias("city")
        ),
        "a_id",
    )
    gk = _inc_keyed(
        golden.select(F.col("entity").alias("rec_id"), "name", "city"),
        "g_id",
    )
    cand = ak.join(gk, "bkey").select("a_id", "g_id").distinct()
    refined = (
        cand.join(
            amb.select(F.col("rec_id").alias("a_id"), "aname", "acity"), "a_id"
        )
        .join(
            golden.select(
                F.col("entity").alias("g_id"),
                F.col("name").alias("gname"),
                F.col("city").alias("gcity"),
            ),
            "g_id",
        )
        .filter(F.col("acity") == F.col("gcity"))
        .select(
            "a_id",
            "g_id",
            F.levenshtein("aname", "gname").cast("long").alias("lev"),
        )
        .filter(F.col("lev") <= LEV_MAX)
    )
    w = Window.partitionBy("a_id").orderBy("lev", "g_id")
    picked = (
        refined.select(
            "a_id",
            "g_id",
            "lev",
            F.row_number().over(w).alias("rn"),
            F.lead("lev").over(w).alias("second_lev"),
            F.count("*").over(Window.partitionBy("a_id")).alias("nm"),
        )
        .filter(F.col("rn") == 1)
        .select(
            "a_id",
            "g_id",
            "lev",
            F.coalesce(F.col("second_lev") - F.col("lev"), F.lit(-1)).alias(
                "gap"
            ),
            "nm",
        )
    )
    return (
        amb.select(F.col("rec_id").alias("a_id"), "park_lev")
        .join(picked, "a_id", "left")
        .select(
            F.col("a_id").alias("rec_id"),
            "g_id",
            "lev",
            "gap",
            "nm",
            F.col("park_lev").cast("long").alias("park_lev"),
        )
    )


def apply_drain_policy(
    scored: DataFrame, margin: int = INC_MARGIN, policy: str = DRAIN_POLICY
) -> DataFrame:
    """Turn policy-free re-probe metrics (``_reprobe_scored``) into
    terminal dispositions under ``policy``: (rec_id, matched_entity,
    lev, margin, n_matches, status).  The gap rule mirrors the first
    pass (a sole candidate — gap −1 — is maximally confident and passes
    any gap requirement); the 'toward' rule additionally demands the
    winner's re-probe lev be strictly below the parked lev — the one
    tie-break that carries evidence (the winning entity absorbed a
    confirming variant) rather than lexicographic survivor drift."""
    if policy not in DRAIN_POLICIES:
        raise ValueError(f"unknown drain policy {policy!r}")
    need_gap = margin if policy in ("gap", "toward") else max(margin, 2)
    rejected = (F.col("gap") >= 0) & (F.col("gap") < F.lit(need_gap))
    if policy in ("toward", "toward_gap2"):
        rejected = rejected | (F.col("lev") >= F.col("park_lev"))
    me = F.when(F.col("g_id").isNull(), F.lit(None)).otherwise(
        F.when(rejected, F.lit(-2)).otherwise(F.col("g_id"))
    )
    return scored.select(
        "rec_id",
        F.coalesce(me, F.lit(-1)).cast("long").alias("matched_entity"),
        F.coalesce("lev", F.lit(-1)).cast("long").alias("lev"),
        F.coalesce("gap", F.lit(-1)).cast("long").alias("margin"),
        F.coalesce("nm", F.lit(0)).cast("long").alias("n_matches"),
        F.when(me.isNull(), F.lit("new"))
        .when(me == -2, F.lit("still_ambiguous"))
        .otherwise(F.lit("resolved"))
        .alias("status"),
    ).orderBy("rec_id")


def reprobe_pool(
    amb: DataFrame,
    golden: DataFrame,
    margin: int = INC_MARGIN,
    policy: str = DRAIN_POLICY,
) -> DataFrame:
    """Re-probe a parked pool against a golden-name table.  ``amb``:
    (rec_id, aname, acity, park_lev) — lowercased/coalesced, park_lev
    the first-pass lev the arrival was parked at; ``golden``: (entity,
    name, city).  Returns (rec_id, matched_entity, lev, margin,
    n_matches, status) — the shared core of the batch query and the
    streaming lifecycle's pool drain (streaming/er.lifecycle_stream), so
    the two can never drift on candidate keys, refine, or the acceptance
    policy."""
    return apply_drain_policy(
        _reprobe_scored(amb, golden), margin=margin, policy=policy
    )


def _parked_pool(assigned: DataFrame, arrivals: DataFrame) -> DataFrame:
    """(rec_id, aname, acity, park_lev) of the batch's −2 arrivals —
    park_lev is the first-pass best lev, the 'toward' policies' evidence
    baseline, so ``assigned`` must carry its ``lev`` column."""
    return (
        assigned.filter(F.col("matched_entity") == -2)
        .select("rec_id", F.col("lev").alias("park_lev"))
        .join(arrivals, "rec_id")
        .select(
            "rec_id",
            F.coalesce(F.lower("name"), F.lit("")).alias("aname"),
            F.coalesce("city", F.lit("")).alias("acity"),
            "park_lev",
        )
    )


def resolve_ambiguous(
    arrivals: DataFrame,
    base: DataFrame,
    margin: int = INC_MARGIN,
    assigned: DataFrame | None = None,
    policy: str = DRAIN_POLICY,
) -> DataFrame:
    """Terminal disposition for every margin-abstained arrival in the
    batch: (rec_id, matched_entity, lev, margin, n_matches, status) —
    matched_entity is the resolved entity id, −1 for new, −2 for still
    parked; lev/margin/n_matches describe the RE-PROBE (−1/−1/0 when it
    came up dry); status ∈ resolved | new | still_ambiguous.
    ``assigned`` as in updated_golden_names, and must carry ``lev``
    (the first-pass best lev) — the 'toward' policies' park baseline."""
    if assigned is None:
        # fence: this frame has TWO consumers below (the pool filter and
        # the golden-member build) — unfenced, the candidate join would
        # execute once per consumer
        assigned = incremental_assign_margin(
            arrivals, base, margin=margin
        ).transform(fence, "resolve_ambiguous assigned", eager=False)
    amb = _parked_pool(assigned, arrivals)
    golden = updated_golden_names(
        arrivals, base, margin=margin, assigned=assigned
    )
    return reprobe_pool(amb, golden, margin=margin, policy=policy)


def drain_policy_outcomes(
    arrivals: DataFrame,
    base: DataFrame,
    margin: int = INC_MARGIN,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """Per-policy drained dispositions from ONE re-probe execution:
    (policy, rec_id, matched_entity, status), one row per (policy ∈
    DRAIN_POLICIES) × (parked arrival).  The scored frame is computed
    once and fenced; each policy is a pure projection over it, so the
    4-policy table costs one candidate join — the shape the er_ladder's
    per-policy precision columns ride on."""
    if assigned is None:
        assigned = incremental_assign_margin(
            arrivals, base, margin=margin
        ).transform(fence, "drain_policy_outcomes assigned", eager=False)
    amb = _parked_pool(assigned, arrivals)
    golden = updated_golden_names(
        arrivals, base, margin=margin, assigned=assigned
    )
    scored = _reprobe_scored(amb, golden).transform(
        fence, "drain_policy_outcomes scored", eager=False
    )
    out = None
    for p in DRAIN_POLICIES:
        disp = apply_drain_policy(scored, margin=margin, policy=p).select(
            F.lit(p).alias("policy"), "rec_id", "matched_entity", "status"
        )
        out = disp if out is None else out.unionByName(disp)
    return out.orderBy("policy", "rec_id")


def new_entity_merge(
    arrivals: DataFrame,
    base: DataFrame,
    margin: int = INC_MARGIN,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """Consolidate the batch's −1 pool BEFORE the new-entity insert: two
    arrivals of the SAME new person in one batch each get −1 against the
    base (neither is there yet), and a naive insert would mint two
    entities for one person — a wrong-split that no later batch can
    heal, because both rows are then base records that incremental
    assignment never re-compares.  Here the −1 arrivals pair among
    THEMSELVES through the same two candidate keys + city/Levenshtein
    refine as the base probe, connected components merge the matches,
    and the new entity id is the component's min rec_id.

    Output: (rec_id, new_entity, n_members), one row per −1 arrival,
    sorted by rec_id.  ``assigned`` as in updated_golden_names.

    Scale shape: the pool is the batch's unmatched fraction; one
    key-equality self-join over it (Σ_k f_k² candidate volume — the
    same dial as q_er_inc_audit, over a far smaller frame), then CC
    whose components are person-sized.  Never touches the base."""
    from changegen_spark.functions.clustering import connected_components

    if assigned is None:
        assigned = incremental_assign_margin(arrivals, base, margin=margin)
    fresh = (
        assigned.filter(F.col("matched_entity") == -1)
        .select("rec_id")
        .join(arrivals, "rec_id")
        .select(
            "rec_id",
            F.coalesce(F.lower("name"), F.lit("")).alias("fname"),
            F.coalesce("city", F.lit("")).alias("fcity"),
        )
        .transform(fence, "new_entity_merge fresh")
    )
    keyed = _inc_keyed(
        fresh.select(
            "rec_id", F.col("fname").alias("name"), F.col("fcity").alias("city")
        ),
        "a_id",
    )
    cand = (
        keyed.join(
            keyed.select(
                F.col("a_id").alias("b_id"), F.col("bkey").alias("bkey")
            ),
            "bkey",
        )
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )
    attrs_a = fresh.select(
        F.col("rec_id").alias("a_id"),
        F.col("fname").alias("na"),
        F.col("fcity").alias("ca"),
    )
    attrs_b = fresh.select(
        F.col("rec_id").alias("b_id"),
        F.col("fname").alias("nb"),
        F.col("fcity").alias("cb"),
    )
    edges = (
        cand.join(attrs_a, "a_id")
        .join(attrs_b, "b_id")
        .filter(
            (F.col("ca") == F.col("cb"))
            & (F.levenshtein("na", "nb") <= LEV_MAX)
        )
        .select("a_id", "b_id")
    )
    comp = connected_components(edges, src="a_id", dst="b_id")
    mapped = fresh.select("rec_id").join(
        comp, fresh.rec_id == comp.node, "left"
    ).select(
        "rec_id", F.coalesce("comp", F.col("rec_id")).alias("new_entity")
    )
    sizes = mapped.groupBy("new_entity").agg(F.count("*").alias("n_members"))
    return (
        mapped.join(sizes, "new_entity")
        .select(
            F.col("rec_id").cast("long"),
            F.col("new_entity").cast("long"),
            F.col("n_members").cast("long"),
        )
        .orderBy("rec_id")
    )


def q_er_new_entity_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """−1-pool consolidation over the planted fixture: arrivals 410/411
    are 1-edit variants of the same genuinely-new person (no base
    match) and must merge into ONE new entity (410); 408 stays a
    singleton."""
    ppl = _ambig_people(spark)
    return new_entity_merge(
        ppl.filter(F.col("rec_id") >= 400), ppl.filter(F.col("rec_id") < 400)
    )


def q_er_ambiguous_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain the ambiguous pool over the planted-tie fixture under the
    DEFAULT policy ('toward'): arrivals (rec_id ≥ 400) margin-assigned
    against the base (< 400), the batch's merges applied to survivor
    names, then every −2 arrival re-probed against the updated golden
    table — a resolution is accepted only when the winner's survivor
    name moved strictly TOWARD the arrival (group T); loser-drift
    tie-breaks (groups R and B) stay parked.  The fixture plants one of
    each terminal state (see tools/make_er_ambig.py)."""
    ppl = _ambig_people(spark)
    return resolve_ambiguous(
        ppl.filter(F.col("rec_id") >= 400), ppl.filter(F.col("rec_id") < 400)
    )


def q_er_drain_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full policy × parked-arrival disposition table over the
    planted fixture — the policy comparison q_er_ambiguous_resolve's
    default is chosen from: 'gap' (the r12 rule) resolves the
    loser-drift ties R and B, every 'toward' variant rejects them, and
    only the toward-evidence group T resolves under the default."""
    ppl = _ambig_people(spark)
    return drain_policy_outcomes(
        ppl.filter(F.col("rec_id") >= 400), ppl.filter(F.col("rec_id") < 400)
    )


# shared CTE chain of the drain oracles: first pass -> updated golden
# names -> pooled arrivals (with park_lev) -> re-probe -> ranked best2
_DRAIN_CTES = f"""
WITH {inc_refined_sql_body(ER_AMBIG_PATH)}
, best AS (
  SELECT a_id, b_id, lev,
         row_number() OVER (PARTITION BY a_id ORDER BY lev, b_id) AS rn,
         lead(lev) OVER (PARTITION BY a_id ORDER BY lev, b_id) AS second_lev
  FROM refined
), assigned AS (
  SELECT a.rec_id,
         CASE
           WHEN b.a_id IS NULL THEN -1
           WHEN b.second_lev IS NOT NULL
                AND b.second_lev - b.lev < {INC_MARGIN} THEN -2
           ELSE b.b_id
         END AS me,
         b.lev AS park_lev
  FROM arrivals a
  LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON b.a_id = a.rec_id
), members AS (
  SELECT rec_id AS entity, rec_id,
         coalesce(lower(name), '') AS nname, coalesce(city, '') AS city
  FROM base
  UNION ALL
  SELECT s.me, a.rec_id, coalesce(lower(a.name), ''), coalesce(a.city, '')
  FROM assigned s JOIN arrivals a ON a.rec_id = s.rec_id WHERE s.me >= 0
  UNION ALL
  SELECT a.rec_id, a.rec_id, coalesce(lower(a.name), ''), coalesce(a.city, '')
  FROM assigned s JOIN arrivals a ON a.rec_id = s.rec_id WHERE s.me = -1
), gname AS (
  SELECT entity, nname AS name FROM (
    SELECT entity, nname,
           row_number() OVER (
             PARTITION BY entity ORDER BY count(*) DESC, nname) AS rn
    FROM members GROUP BY entity, nname
  ) WHERE rn = 1
), gcity AS (
  SELECT entity, city FROM (
    SELECT entity, city,
           row_number() OVER (PARTITION BY entity ORDER BY rec_id DESC) AS rn
    FROM members
  ) WHERE rn = 1
), golden AS (
  SELECT n.entity, n.name, c.city FROM gname n JOIN gcity c USING (entity)
), amb AS (
  SELECT a.rec_id, coalesce(lower(a.name), '') AS aname,
         coalesce(a.city, '') AS acity, s.park_lev
  FROM assigned s JOIN arrivals a ON a.rec_id = s.rec_id WHERE s.me = -2
), ambn AS (
  SELECT rec_id, aname AS name, acity AS city FROM amb
), akeys2 AS (
  SELECT rec_id AS a_id, 'k1|' || city || '|'
         || coalesce({block_key_sql(duck=True)}, '') AS bkey
  FROM ambn
  UNION ALL
  SELECT rec_id, 'k2|' || city || '|'
         || coalesce({suffix_key_sql(duck=True)}, '')
         || '|' || coalesce(lower(substr(name, 1, instr(name, ' ') - 1)), '')
  FROM ambn
), gkeys AS (
  SELECT entity AS g_id, 'k1|' || city || '|'
         || coalesce({block_key_sql(duck=True)}, '') AS bkey
  FROM golden
  UNION ALL
  SELECT entity, 'k2|' || city || '|'
         || coalesce({suffix_key_sql(duck=True)}, '')
         || '|' || coalesce(lower(substr(name, 1, instr(name, ' ') - 1)), '')
  FROM golden
), cand2 AS (
  SELECT DISTINCT a_id, g_id FROM akeys2 JOIN gkeys USING (bkey)
), refined2 AS (
  SELECT c.a_id, c.g_id,
         CAST(levenshtein(m.aname, g.name) AS BIGINT) AS lev
  FROM cand2 c
  JOIN amb m ON m.rec_id = c.a_id
  JOIN golden g ON g.entity = c.g_id
  WHERE m.acity = g.city
    AND levenshtein(m.aname, g.name) <= {LEV_MAX}
), best2 AS (
  SELECT a_id, g_id, lev,
         row_number() OVER (PARTITION BY a_id ORDER BY lev, g_id) AS rn,
         lead(lev) OVER (PARTITION BY a_id ORDER BY lev, g_id) AS second_lev,
         count(*) OVER (PARTITION BY a_id) AS nm
  FROM refined2
)"""


Q_ER_AMBIGUOUS_RESOLVE_SQL = _DRAIN_CTES + f""", picked AS (
  -- default policy 'toward': reject on an insufficient gap AND on a
  -- winner that did not move strictly closer than the parked lev
  SELECT b.a_id,
         CASE WHEN b.second_lev IS NOT NULL
                   AND b.second_lev - b.lev < {INC_MARGIN} THEN -2
              WHEN b.lev >= m.park_lev THEN -2
              ELSE b.g_id END AS me,
         b.lev, coalesce(b.second_lev - b.lev, -1) AS gap, b.nm
  FROM best2 b JOIN amb m ON m.rec_id = b.a_id
  WHERE b.rn = 1
)
SELECT m.rec_id,
       CAST(coalesce(p.me, -1) AS BIGINT) AS matched_entity,
       CAST(coalesce(p.lev, -1) AS BIGINT) AS lev,
       CAST(coalesce(p.gap, -1) AS BIGINT) AS margin,
       CAST(coalesce(p.nm, 0) AS BIGINT) AS n_matches,
       CASE WHEN p.a_id IS NULL THEN 'new'
            WHEN p.me = -2 THEN 'still_ambiguous'
            ELSE 'resolved' END AS status
FROM amb m LEFT JOIN picked p ON p.a_id = m.rec_id
ORDER BY m.rec_id
"""


Q_ER_DRAIN_POLICY_SQL = _DRAIN_CTES + f""", scored AS (
  SELECT b.a_id, b.g_id, b.lev, b.second_lev, b.nm, m.park_lev
  FROM best2 b JOIN amb m ON m.rec_id = b.a_id
  WHERE b.rn = 1
), policies(policy, need_gap, toward) AS (
  VALUES ('gap', {INC_MARGIN}, false),
         ('gap2', {max(INC_MARGIN, 2)}, false),
         ('toward', {INC_MARGIN}, true),
         ('toward_gap2', {max(INC_MARGIN, 2)}, true)
), disp AS (
  SELECT p.policy, m.rec_id,
         CASE WHEN s.a_id IS NULL THEN -1
              WHEN s.second_lev IS NOT NULL
                   AND s.second_lev - s.lev < p.need_gap THEN -2
              WHEN p.toward AND s.lev >= s.park_lev THEN -2
              ELSE s.g_id END AS me
  FROM policies p
  CROSS JOIN amb m
  LEFT JOIN scored s ON s.a_id = m.rec_id
)
SELECT policy, rec_id,
       CAST(me AS BIGINT) AS matched_entity,
       CASE WHEN me = -1 THEN 'new'
            WHEN me = -2 THEN 'still_ambiguous'
            ELSE 'resolved' END AS status
FROM disp
ORDER BY policy, rec_id
"""


Q_ER_NEW_ENTITY_MERGE_SQL = f"""
WITH RECURSIVE {inc_refined_sql_body(ER_AMBIG_PATH)}
, best AS (
  SELECT a_id, b_id, lev,
         row_number() OVER (PARTITION BY a_id ORDER BY lev, b_id) AS rn,
         lead(lev) OVER (PARTITION BY a_id ORDER BY lev, b_id) AS second_lev
  FROM refined
), assigned AS (
  SELECT a.rec_id,
         CASE
           WHEN b.a_id IS NULL THEN -1
           WHEN b.second_lev IS NOT NULL
                AND b.second_lev - b.lev < {INC_MARGIN} THEN -2
           ELSE b.b_id
         END AS me
  FROM arrivals a
  LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON b.a_id = a.rec_id
), fresh AS (
  SELECT a.rec_id, coalesce(lower(a.name), '') AS name,
         coalesce(a.city, '') AS city
  FROM assigned s JOIN arrivals a ON a.rec_id = s.rec_id WHERE s.me = -1
), fkeys AS (
  SELECT rec_id, 'k1|' || city || '|'
         || coalesce({block_key_sql(duck=True)}, '') AS bkey FROM fresh
  UNION ALL
  SELECT rec_id, 'k2|' || city || '|'
         || coalesce({suffix_key_sql(duck=True)}, '')
         || '|' || coalesce(lower(substr(name, 1, instr(name, ' ') - 1)), '')
  FROM fresh
), fedges AS (
  SELECT DISTINCT x.rec_id AS a, y.rec_id AS b
  FROM fkeys x JOIN fkeys y ON x.bkey = y.bkey AND x.rec_id <> y.rec_id
  JOIN fresh fa ON fa.rec_id = x.rec_id
  JOIN fresh fb ON fb.rec_id = y.rec_id
  WHERE fa.city = fb.city
    AND levenshtein(fa.name, fb.name) <= {LEV_MAX}
), freach(a, b) AS (
  SELECT a, b FROM fedges
  UNION
  SELECT r.a, e.b FROM freach r JOIN fedges e ON r.b = e.a
), fcomp AS (
  SELECT a AS rec_id, least(a, min(b)) AS new_entity FROM freach GROUP BY a
), mapped AS (
  SELECT f.rec_id, coalesce(c.new_entity, f.rec_id) AS new_entity
  FROM fresh f LEFT JOIN fcomp c ON c.rec_id = f.rec_id
)
SELECT CAST(m.rec_id AS BIGINT) AS rec_id,
       CAST(m.new_entity AS BIGINT) AS new_entity,
       CAST(count(*) OVER (PARTITION BY m.new_entity) AS BIGINT) AS n_members
FROM mapped m
ORDER BY m.rec_id
"""


# ---------------------------------------------------------------------------
# Retraction-shadow guard — the batch twin of the streaming dial (r13).
# The lifecycle bench rung's purity audit found the one wrong-merge
# mechanism no margin or drain policy can see: an arrival landing AFTER
# its true entity was retracted, with a near-twin surviving, gives the
# first pass a sole maximally-confident candidate (the evidence is in
# the DELETED rows).  The guard keeps the retracted entities' golden
# names as tombstones and parks any arrival whose best live candidate
# would have been tied or beaten by one.  streaming/er.py
# lifecycle_stream(tombstone_window=…) applies the same rule with a
# batch-windowed tombstone set; this batch form is its oracle anchor.

GUARD_DELETES = (101, 105)  # fixture CDC delete batch (see q_er_shadow_guard)


def shadow_guard_assign(
    arrivals: DataFrame,
    base: DataFrame,
    deleted: DataFrame,
    margin: int = INC_MARGIN,
) -> DataFrame:
    """Margin assignment against the post-retraction base with the
    retraction-shadow guard: (rec_id, matched_entity, lev, t_lev,
    disposition).  ``deleted``: (rec_id) — the CDC delete batch; the
    deleted records leave the probe target AND become tombstones.
    Dispositions: ``merge`` (confident and unshadowed),
    ``park_shadowed`` (a tombstone within ``margin`` of the live best —
    lev ties AND strictly-closer tombstones both park; matched_entity
    forced to −2), ``park_margin`` (live-candidate tie), ``new`` (no
    live candidate — deliberately unguarded: under record-level
    retraction a fresh observation legitimately starts a new entity).

    Scale shape: the live probe is the standard two-key hash
    assignment; the tombstone probe is the SAME `_reprobe_scored` core
    with the delete batch (tiny, broadcastable) as the build side —
    no new join pattern, no cartesian."""
    base2 = base.join(deleted.select("rec_id"), "rec_id", "left_anti")
    assigned = incremental_assign_margin(arrivals, base2).select(
        "rec_id", "matched_entity", "lev"
    )
    tomb = base.join(deleted.select("rec_id"), "rec_id").select(
        F.col("rec_id").alias("entity"),
        F.lower("name").alias("name"),
        "city",
    )
    t_best = _reprobe_scored(
        arrivals.select(
            "rec_id",
            F.coalesce(F.lower("name"), F.lit("")).alias("aname"),
            F.coalesce("city", F.lit("")).alias("acity"),
            F.lit(0).cast("long").alias("park_lev"),
        ),
        tomb,
    ).select("rec_id", F.col("lev").alias("t_lev"))
    shadowed = (
        (F.col("matched_entity") >= 0)
        & F.col("t_lev").isNotNull()
        & (F.col("t_lev") - F.col("lev") < F.lit(margin))
    )
    return (
        assigned.join(t_best, "rec_id", "left")
        .select(
            "rec_id",
            F.when(shadowed, F.lit(-2))
            .otherwise(F.col("matched_entity"))
            .cast("long")
            .alias("matched_entity"),
            F.coalesce("lev", F.lit(-1)).cast("long").alias("lev"),
            F.coalesce("t_lev", F.lit(-1)).cast("long").alias("t_lev"),
            F.when(F.col("matched_entity") == -1, F.lit("new"))
            .when(F.col("matched_entity") == -2, F.lit("park_margin"))
            .when(shadowed, F.lit("park_shadowed"))
            .otherwise(F.lit("merge"))
            .alias("disposition"),
        )
        .orderBy("rec_id")
    )


def q_er_shadow_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The retraction-shadow guard over the planted fixture with the
    keyed delete batch {101, 105}: 400 and 403 merge PAST a tombstone
    at gap ≥ margin (the guard does not over-trigger), 401 is shadowed
    by a tombstone TIE (its retracted rival), 404 and 405 are shadowed
    by a STRICTLY-CLOSER tombstone (the retracted entity was their best
    match), 402/407/413 park on live ties as before, and 408/410/411
    stay new — tombstones never veto a fresh entity."""
    ppl = _ambig_people(spark)
    deleted = spark.createDataFrame(
        [(int(r),) for r in GUARD_DELETES], "rec_id long"
    )
    return shadow_guard_assign(
        ppl.filter(F.col("rec_id") >= 400),
        ppl.filter(F.col("rec_id") < 400),
        deleted,
    )


_GUARD_VALUES = ", ".join(f"({r})" for r in GUARD_DELETES)

Q_ER_SHADOW_GUARD_SQL = f"""
WITH base0 AS (
  SELECT * FROM '{ER_AMBIG_PATH}' WHERE rec_id < 400
), deleted AS (
  SELECT * FROM (VALUES {_GUARD_VALUES}) AS t(rec_id)
), base AS (
  SELECT * FROM base0 WHERE rec_id NOT IN (SELECT rec_id FROM deleted)
), arrivals AS (
  SELECT * FROM '{ER_AMBIG_PATH}' WHERE rec_id >= 400
), akeys AS (
  SELECT rec_id AS a_id, 'k1|' || coalesce(city, '') || '|'
         || coalesce({block_key_sql(duck=True)}, '') AS bkey FROM arrivals
  UNION ALL
  SELECT rec_id, 'k2|' || coalesce(city, '') || '|'
         || coalesce({suffix_key_sql(duck=True)}, '') || '|'
         || coalesce(lower(substr(name, 1, instr(name, ' ') - 1)), '')
  FROM arrivals
), bkeys AS (
  SELECT rec_id AS b_id, 'k1|' || coalesce(city, '') || '|'
         || coalesce({block_key_sql(duck=True)}, '') AS bkey FROM base
  UNION ALL
  SELECT rec_id, 'k2|' || coalesce(city, '') || '|'
         || coalesce({suffix_key_sql(duck=True)}, '') || '|'
         || coalesce(lower(substr(name, 1, instr(name, ' ') - 1)), '')
  FROM base
), cand AS (
  SELECT DISTINCT a_id, b_id FROM akeys JOIN bkeys USING (bkey)
), refined AS (
  SELECT c.a_id, c.b_id,
         CAST(levenshtein(lower(a.name), lower(b.name)) AS BIGINT) AS lev
  FROM cand c
  JOIN arrivals a ON a.rec_id = c.a_id
  JOIN base b ON b.rec_id = c.b_id
  WHERE a.city = b.city
    AND levenshtein(lower(a.name), lower(b.name)) <= {LEV_MAX}
), best AS (
  SELECT a_id, b_id, lev,
         row_number() OVER (PARTITION BY a_id ORDER BY lev, b_id) AS rn,
         lead(lev) OVER (PARTITION BY a_id ORDER BY lev, b_id) AS second_lev
  FROM refined
), assigned AS (
  SELECT a.rec_id,
         CASE
           WHEN b.a_id IS NULL THEN -1
           WHEN b.second_lev IS NOT NULL
                AND b.second_lev - b.lev < {INC_MARGIN} THEN -2
           ELSE b.b_id
         END AS me,
         b.lev
  FROM arrivals a
  LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON b.a_id = a.rec_id
), tomb AS (
  SELECT b0.rec_id AS t_id, lower(b0.name) AS name, b0.city
  FROM base0 b0 JOIN deleted d ON d.rec_id = b0.rec_id
), tkeys AS (
  SELECT t_id, 'k1|' || coalesce(city, '') || '|'
         || coalesce({block_key_sql(duck=True)}, '') AS bkey FROM tomb
  UNION ALL
  SELECT t_id, 'k2|' || coalesce(city, '') || '|'
         || coalesce({suffix_key_sql(duck=True)}, '') || '|'
         || coalesce(lower(substr(name, 1, instr(name, ' ') - 1)), '')
  FROM tomb
), tcand AS (
  SELECT DISTINCT a_id, t_id FROM akeys JOIN tkeys USING (bkey)
), trefined AS (
  SELECT c.a_id,
         CAST(levenshtein(lower(a.name), t.name) AS BIGINT) AS lev
  FROM tcand c
  JOIN arrivals a ON a.rec_id = c.a_id
  JOIN tomb t ON t.t_id = c.t_id
  WHERE a.city = t.city
    AND levenshtein(lower(a.name), t.name) <= {LEV_MAX}
), tbest AS (
  SELECT a_id, min(lev) AS t_lev FROM trefined GROUP BY a_id
)
SELECT a.rec_id,
       CAST(CASE WHEN s.me >= 0 AND t.t_lev IS NOT NULL
                      AND t.t_lev - s.lev < {INC_MARGIN} THEN -2
                 ELSE s.me END AS BIGINT) AS matched_entity,
       CAST(coalesce(s.lev, -1) AS BIGINT) AS lev,
       CAST(coalesce(t.t_lev, -1) AS BIGINT) AS t_lev,
       CASE WHEN s.me = -1 THEN 'new'
            WHEN s.me = -2 THEN 'park_margin'
            WHEN t.t_lev IS NOT NULL
                 AND t.t_lev - s.lev < {INC_MARGIN} THEN 'park_shadowed'
            ELSE 'merge' END AS disposition
FROM arrivals a
JOIN assigned s ON s.rec_id = a.rec_id
LEFT JOIN tbest t ON t.a_id = a.rec_id
ORDER BY a.rec_id
"""
