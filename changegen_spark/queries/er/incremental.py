"""Incremental (batch-append) ER and its audits (r10): assign arriving
records to an existing entity table without re-clustering the base, the
candidate-volume audit, and the chain-transitivity audit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from changegen_spark.queries.er.blocking import (
    _FIRSTNAME,
    ER_PATH,
    LEV_MAX,
    _people,
    block_key_sql,
)
from changegen_spark.queries.er.sn import (
    SN_REFINE_COLS,
    _sn_suffix_sql_body,
    er_pairs_sn_suffix,
    suffix_key_sql,
)

def _inc_keyed(df: DataFrame, idcol: str) -> DataFrame:
    """(idcol, bkey): both incremental candidate keys per record, class-
    prefixed ('k1|' = city | phonetic block key, 'k2|' = city | suffix
    phonetic | first name) so the two key spaces never collide in the
    join.

    City is folded into BOTH keys (r11): the refine stage requires
    city equality unconditionally, so a cross-city candidate can never
    survive — keying on city first is a pure candidate reduction with
    byte-identical output.  Measured at the 1M rung it is the
    difference between 197M candidate pairs (hottest bare phonetic key
    alone: 12.7M) and ~0.5M — the join was candidate-bound, and the
    r10 artifact's 0.32 s wall had hidden it (Catalyst join-eliminates
    a count() over the final left join against the grouped key, so the
    rung never executed the candidate join; see SCALE.md postmortem)."""
    k1 = F.concat_ws(
        "|",
        F.coalesce("city", F.lit("")),
        F.coalesce(F.expr(block_key_sql(duck=False)), F.lit("")),
    )
    k2 = F.concat_ws(
        "|",
        F.coalesce("city", F.lit("")),
        F.coalesce(F.expr(suffix_key_sql(duck=False)), F.lit("")),
        F.coalesce(F.expr(f"lower({_FIRSTNAME})"), F.lit("")),
    )
    return df.select(
        F.col("rec_id").alias(idcol),
        F.explode(
            F.array(
                F.concat(F.lit("k1|"), k1),
                F.concat(F.lit("k2|"), k2),
            )
        ).alias("bkey"),
    )


def _inc_refined(arrivals: DataFrame, base: DataFrame) -> DataFrame:
    """(a_id, b_id, lev) refined candidates shared by the plain and the
    margin-abstaining assignment (so the two variants cannot drift in
    candidate generation, the _inc_keyed principle one level up): both
    candidate keys, city equality, Levenshtein ≤ {LEV_MAX}."""
    cand = (
        _inc_keyed(arrivals, "a_id")
        .join(_inc_keyed(base, "b_id"), "bkey")
        .select("a_id", "b_id")
        .distinct()
    )
    a_attrs = arrivals.select(
        F.col("rec_id").alias("a_id"),
        F.lower("name").alias("na"),
        F.col("city").alias("ca"),
    )
    b_attrs = base.select(
        F.col("rec_id").alias("b_id"),
        F.lower("name").alias("nb"),
        F.col("city").alias("cb"),
    )
    return (
        cand.join(a_attrs, "a_id")
        .join(b_attrs, "b_id")
        .filter(F.col("ca") == F.col("cb"))
        .select(
            "a_id",
            "b_id",
            F.levenshtein("na", "nb").cast("long").alias("lev"),
        )
        .filter(F.col("lev") <= LEV_MAX)
    )


def incremental_assign(arrivals: DataFrame, base: DataFrame) -> DataFrame:
    """Core of incremental ER: each arrival probes ``base``
    through BOTH candidate keys — city | phonetic block key, and the
    r10 suffix key (city | phonetic(last minus first letter) | first)
    so first-letter corruptions still reach their entity — then city +
    Levenshtein refine, and the best match is the deterministic
    min(struct(lev, base_id)); unmatched arrivals get matched_entity
    −1 (a new-entity insert downstream).

    Scale shape: two key-equality hash joins (arrival keys × base keys,
    both sides pre-hashed), distinct candidates, one groupBy-min — no
    window over data, no CC iteration; candidate volume is Σ_k a_k·b_k
    over shared keys, audited by q_er_inc_audit."""
    refined = _inc_refined(arrivals, base)
    best = refined.groupBy("a_id").agg(
        F.min(F.struct("lev", F.col("b_id").alias("v"))).alias("b"),
        F.count("*").alias("n_matches"),
    )
    return (
        arrivals.select(F.col("rec_id").alias("a_id"))
        .join(best, "a_id", "left")
        .select(
            F.col("a_id").alias("rec_id"),
            F.coalesce(F.col("b.v"), F.lit(-1)).cast("long").alias(
                "matched_entity"
            ),
            F.coalesce(F.col("b.lev"), F.lit(-1)).cast("long").alias("lev"),
            F.coalesce("n_matches", F.lit(0)).cast("long").alias("n_matches"),
        )
        .orderBy("rec_id")
    )


def q_er_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ER: assign ARRIVING records to an existing entity
    table without re-clustering the base (the batch-append production
    regime — at 100 TB the base is petabyte-class and never re-CC'd).
    Base = the fixture's original records (rec_id < 400, each its own
    entity); arrivals = the planted duplicates (rec_id ≥ 400).  Logic
    in ``incremental_assign``."""
    ppl = _people(spark)
    return incremental_assign(
        ppl.filter(F.col("rec_id") >= 400), ppl.filter(F.col("rec_id") < 400)
    )


INC_MARGIN = 1  # abstain when runner-up lev is within (margin-1) of best


def incremental_assign_margin(
    arrivals: DataFrame, base: DataFrame, margin: int = INC_MARGIN
) -> DataFrame:
    """Incremental assignment with AMBIGUITY ABSTENTION (r10 verdict
    #1): the plain variant's min(struct(lev, b_id)) breaks ties blindly,
    and at population density same-city lev≤{LEV_MAX} name collisions
    make the blind pick the one ER error that CORRUPTS downstream golden
    records (a wrong merge) rather than merely missing one.  Here an
    arrival whose best and runner-up candidates are separated by less
    than ``margin`` edit-distance units is routed to matched_entity −2
    (ambiguous → clerical-review/new-entity queue) instead of merged;
    −1 stays the no-candidate sentinel.  ``margin`` = 1 abstains only on
    exact ties — measured at the 1M rung this removes the majority of
    wrong merges at a bounded abstention rate (er_ladder's incremental
    rung carries wrong/ambiguous per margin; SCALE.md has the taxonomy
    of survivors).

    The ``margin`` output column is the measured gap (second_lev −
    lev; −1 when there is no runner-up, the maximally-confident case).

    Scale shape: identical candidate volume to the plain variant (the
    refine frame is shared code), then ONE window partitioned by the
    arrival id — partition-local rank + lead, no global sort; the
    window key is the probe id, so skew is bounded by the per-arrival
    candidate count q_er_inc_audit watches."""
    from pyspark.sql import Window

    w = Window.partitionBy("a_id").orderBy("lev", "b_id")
    picked = (
        _inc_refined(arrivals, base)
        .select(
            "a_id",
            "b_id",
            "lev",
            F.row_number().over(w).alias("rn"),
            F.lead("lev").over(w).alias("second_lev"),
            F.count("*").over(Window.partitionBy("a_id")).alias("nm"),
        )
        .filter(F.col("rn") == 1)
        .select(
            "a_id",
            F.when(
                F.col("second_lev").isNotNull()
                & ((F.col("second_lev") - F.col("lev")) < F.lit(margin)),
                F.lit(-2),
            )
            .otherwise(F.col("b_id"))
            .alias("me"),
            "lev",
            F.coalesce(
                F.col("second_lev") - F.col("lev"), F.lit(-1)
            ).alias("gap"),
            "nm",
        )
    )
    return (
        arrivals.select(F.col("rec_id").alias("a_id"))
        .join(picked, "a_id", "left")
        .select(
            F.col("a_id").alias("rec_id"),
            F.coalesce("me", F.lit(-1)).cast("long").alias("matched_entity"),
            F.coalesce("lev", F.lit(-1)).cast("long").alias("lev"),
            F.coalesce("gap", F.lit(-1)).cast("long").alias("margin"),
            F.coalesce("nm", F.lit(0)).cast("long").alias("n_matches"),
        )
        .orderBy("rec_id")
    )


def q_er_incremental_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_er_incremental with margin-1 ambiguity abstention: exact
    best/runner-up ties (different base entities at the same edit
    distance) become matched_entity −2 instead of a blind merge."""
    ppl = _people(spark)
    return incremental_assign_margin(
        ppl.filter(F.col("rec_id") >= 400), ppl.filter(F.col("rec_id") < 400)
    )


def q_er_margin_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The margin-threshold dial (completes the measure → threshold →
    abstain loop): the joint distribution of (best lev, best-vs-
    runner-up gap) over every arrival with ≥1 candidate — the table a
    pipeline reads BEFORE picking ``margin``.  gap −1 = no runner-up
    (maximally confident); gap 0 = exact tie (what margin 1 abstains
    on); each extra gap unit is one more edit of separation.  Reading
    it: Σ n over rows with gap < m is exactly the abstention count at
    margin m, so the whole margin-vs-review-cost tradeoff is one scan
    of this (≤ (LEV_MAX+1)·(LEV_MAX+2)-row) frame.

    Scale shape: the margin pipeline's window (partitioned by probe
    id), then one hash groupBy on two tiny-domain columns."""
    from pyspark.sql import Window

    ppl = _people(spark)
    arrivals = ppl.filter(F.col("rec_id") >= 400)
    base = ppl.filter(F.col("rec_id") < 400)
    w = Window.partitionBy("a_id").orderBy("lev", "b_id")
    best = (
        _inc_refined(arrivals, base)
        .select(
            "a_id",
            "lev",
            F.row_number().over(w).alias("rn"),
            F.lead("lev").over(w).alias("second_lev"),
        )
        .filter(F.col("rn") == 1)
    )
    return (
        best.groupBy(
            F.col("lev"),
            F.coalesce(
                F.col("second_lev") - F.col("lev"), F.lit(-1)
            ).alias("gap"),
        )
        .agg(F.count("*").alias("n"))
        .select(
            F.col("lev").cast("long"),
            F.col("gap").cast("long"),
            F.col("n").cast("long"),
        )
        .orderBy("lev", "gap")
    )


def golden_delta(arrivals: DataFrame, base: DataFrame) -> DataFrame:
    """Incremental GOLDEN-TABLE maintenance (r11): the step downstream
    of the margin assignment — given a batch of arrivals and the
    existing base entity table, emit the golden-record DELTA a MERGE
    applies, never recomputing untouched entities (at 100 TB the golden
    table is petabyte-class and the delta is KB-to-GB):

    * an arrival matched to base entity e (matched_entity ≥ 0) UPDATES
      e's golden row — survivorship recomputed over {e's base record}
      ∪ {e's arrivals this batch}, same per-column rules as
      q_er_golden_full (mode / longest / latest);
    * an unmatched (−1) or margin-abstained (−2) arrival becomes a NEW
      singleton entity keyed by its own rec_id (the review queue
      resolves −2 later; until then it must not corrupt an existing
      golden row — the whole point of abstention).

    Output: (entity, status 'updated'|'new', n_members,
    name_mode, name_longest, city_latest), sorted by entity.

    Scale shape: the margin assignment's joins, then ONE union of
    (affected base records ⋈ assignments) with the arrival rows and
    three hash aggregations over THAT delta only — work is
    O(|arrivals| + |affected entities|), independent of base size; no
    window over data, no CC."""
    assigned = incremental_assign_margin(arrivals, base).select(
        "rec_id", "matched_entity"
    )
    arr_rows = arrivals.select(
        "rec_id",
        F.coalesce(F.lower("name"), F.lit("")).alias("nname"),
        F.coalesce("city", F.lit("")).alias("city"),
    ).join(assigned, "rec_id")
    matched = arr_rows.filter(F.col("matched_entity") >= 0).select(
        F.col("matched_entity").alias("entity"), "rec_id", "nname", "city"
    )
    fresh = arr_rows.filter(F.col("matched_entity") < 0).select(
        F.col("rec_id").alias("entity"), "rec_id", "nname", "city"
    )
    # the touched base records: one per updated entity (base entities
    # are singletons by construction in the batch-append regime)
    touched = (
        base.select(
            F.col("rec_id").alias("entity"),
            "rec_id",
            F.coalesce(F.lower("name"), F.lit("")).alias("nname"),
            F.coalesce("city", F.lit("")).alias("city"),
        )
        .join(matched.select("entity").distinct(), "entity")
    )
    members = matched.unionByName(touched).unionByName(fresh)
    status = (
        members.groupBy("entity")
        .agg(F.count("*").alias("n_members"))
        .withColumn(
            "status",
            F.when(F.col("n_members") > 1, F.lit("updated")).otherwise(
                F.lit("new")
            ),
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
        .select("entity", F.col("b.v").alias("name_mode"))
    )
    rest = members.groupBy("entity").agg(
        F.min(
            F.struct(
                (-F.length("nname")).alias("neg"), F.col("nname").alias("v")
            )
        )["v"].alias("name_longest"),
        F.max(
            F.struct(F.col("rec_id").alias("r"), F.col("city").alias("v"))
        )["v"].alias("city_latest"),
    )
    return (
        status.join(mode, "entity")
        .join(rest, "entity")
        .select(
            "entity",
            "status",
            F.col("n_members").cast("long").alias("n_members"),
            "name_mode",
            "name_longest",
            "city_latest",
        )
        .orderBy("entity")
    )


def q_er_golden_inc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-record delta for the fixture's batch append: arrivals
    (rec_id ≥ 400) margin-assigned against the base (rec_id < 400),
    survivorship recomputed for touched entities only (see
    ``golden_delta``)."""
    ppl = _people(spark)
    return golden_delta(
        ppl.filter(F.col("rec_id") >= 400), ppl.filter(F.col("rec_id") < 400)
    )


def q_er_inc_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental-ER candidate audit — the dial a linkage design
    reads BEFORE running the assignment (q_er_blocks' twin for the
    batch-append regime): per key class, shared-key count, total
    candidate volume Σ_k a_k·b_k, the hottest key's a·b (the skew
    hazard), and the refine survivor count.  Each record emits exactly
    one key per class, so per-class candidates need no dedup; the
    class prefix keeps the two key spaces disjoint in one join."""
    ppl = _people(spark)
    base = ppl.filter(F.col("rec_id") < 400)
    arrivals = ppl.filter(F.col("rec_id") >= 400)
    ak = _inc_keyed(arrivals, "a_id")
    bk = _inc_keyed(base, "b_id")
    sizes = (
        ak.groupBy("bkey")
        .agg(F.count("*").alias("a_cnt"))
        .join(bk.groupBy("bkey").agg(F.count("*").alias("b_cnt")), "bkey")
        .select(
            F.substring("bkey", 1, 2).alias("key_class"),
            "a_cnt",
            "b_cnt",
        )
        .groupBy("key_class")
        .agg(
            F.count("*").alias("n_shared_keys"),
            F.sum(F.col("a_cnt") * F.col("b_cnt")).alias("candidates"),
            F.max(F.col("a_cnt") * F.col("b_cnt")).alias("max_key_pairs"),
        )
    )
    a_attrs = arrivals.select(
        F.col("rec_id").alias("a_id"),
        F.lower("name").alias("na"),
        F.col("city").alias("ca"),
    )
    b_attrs = base.select(
        F.col("rec_id").alias("b_id"),
        F.lower("name").alias("nb"),
        F.col("city").alias("cb"),
    )
    refined = (
        ak.join(bk, "bkey")
        .select(F.substring("bkey", 1, 2).alias("key_class"), "a_id", "b_id")
        .join(a_attrs, "a_id")
        .join(b_attrs, "b_id")
        .filter(
            (F.col("ca") == F.col("cb"))
            & (F.levenshtein("na", "nb") <= LEV_MAX)
        )
        .groupBy("key_class")
        .agg(F.count("*").alias("refined"))
    )
    return (
        sizes.join(refined, "key_class", "left")
        .select(
            "key_class",
            F.col("n_shared_keys").cast("long"),
            F.col("candidates").cast("long"),
            F.col("max_key_pairs").cast("long"),
            F.coalesce("refined", F.lit(0)).cast("long").alias("refined"),
        )
        .orderBy("key_class")
    )


Q_ER_INC_AUDIT_SQL = f"""
WITH base AS (
  SELECT * FROM '{ER_PATH}' WHERE rec_id < 400
), arrivals AS (
  SELECT * FROM '{ER_PATH}' WHERE rec_id >= 400
), akeys AS (
  SELECT rec_id AS a_id, 'k1|' || coalesce(city, '') || '|'
         || coalesce({block_key_sql(duck=True)}, '') AS bkey FROM arrivals
  UNION ALL
  SELECT rec_id, 'k2|' || coalesce(city, '') || '|'
         || coalesce({suffix_key_sql(duck=True)}, '') || '|'
         || coalesce(lower({_FIRSTNAME}), '') FROM arrivals
), bkeys AS (
  SELECT rec_id AS b_id, 'k1|' || coalesce(city, '') || '|'
         || coalesce({block_key_sql(duck=True)}, '') AS bkey FROM base
  UNION ALL
  SELECT rec_id, 'k2|' || coalesce(city, '') || '|'
         || coalesce({suffix_key_sql(duck=True)}, '') || '|'
         || coalesce(lower({_FIRSTNAME}), '') FROM base
), sizes AS (
  SELECT substr(bkey, 1, 2) AS key_class,
         count(*) AS n_shared_keys,
         sum(a_cnt * b_cnt) AS candidates,
         max(a_cnt * b_cnt) AS max_key_pairs
  FROM (SELECT bkey, count(*) AS a_cnt FROM akeys GROUP BY bkey) a
  JOIN (SELECT bkey, count(*) AS b_cnt FROM bkeys GROUP BY bkey) b USING (bkey)
  GROUP BY 1
), refined AS (
  SELECT substr(k.bkey, 1, 2) AS key_class, count(*) AS refined
  FROM akeys k JOIN bkeys kb USING (bkey)
  JOIN arrivals a ON a.rec_id = k.a_id
  JOIN base b ON b.rec_id = kb.b_id
  WHERE a.city = b.city
    AND levenshtein(lower(a.name), lower(b.name)) <= {LEV_MAX}
  GROUP BY 1
)
SELECT s.key_class, CAST(s.n_shared_keys AS BIGINT) AS n_shared_keys,
       CAST(s.candidates AS BIGINT) AS candidates,
       CAST(s.max_key_pairs AS BIGINT) AS max_key_pairs,
       CAST(coalesce(r.refined, 0) AS BIGINT) AS refined
FROM sizes s LEFT JOIN refined r ON r.key_class = s.key_class
ORDER BY s.key_class
"""


def q_er_chain_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitivity audit of the production clusters: connected
    components happily merge a—b—c where every EDGE passed the lev ≤
    {LEV_MAX} refine but lev(a, c) exceeds it — the classical
    chain-merge hazard that B³ precision pays for silently.  One row:
    multi-member entity count, largest cluster, intra-cluster pairs
    checked (Σ m·(m−1)/2 — the audit's own cost, bounded by cluster
    sizes), how many of those pairs exceed the refine threshold
    (chain pairs), and the worst intra-cluster distance.

    Scale shape: the self-join is keyed on the entity id, so work is
    Σ m² over CLUSTER sizes — the quantity this audit exists to watch;
    a runaway cluster shows up as its own cost before it poisons
    downstream survivorship."""
    from changegen_spark.functions.clustering import connected_components

    ppl = _people(spark)
    pairs = er_pairs_sn_suffix(ppl, refine_cols=SN_REFINE_COLS)
    comp = connected_components(pairs, src="rec_a", dst="rec_b").select(
        F.col("node").alias("rec_id"), F.col("comp").alias("entity")
    )
    m = ppl.join(comp, "rec_id").select(
        "entity", "rec_id", F.lower("name").alias("nname")
    )
    a = m.select(
        "entity", F.col("rec_id").alias("ra"), F.col("nname").alias("na")
    )
    b = m.select(
        "entity", F.col("rec_id").alias("rb"), F.col("nname").alias("nb")
    )
    intra = (
        a.join(b, "entity")
        .filter(F.col("ra") < F.col("rb"))
        .select("entity", F.levenshtein("na", "nb").alias("lev"))
    )
    sizes = m.groupBy("entity").agg(F.count("*").alias("msize"))
    return (
        intra.agg(
            F.count("*").alias("pairs_checked"),
            F.sum((F.col("lev") > LEV_MAX).cast("long")).alias(
                "chain_pairs"
            ),
            F.max("lev").alias("max_intra_lev"),
        )
        .crossJoin(
            F.broadcast(
                sizes.agg(
                    F.count("*").alias("n_multi_entities"),
                    F.max("msize").alias("max_cluster_size"),
                )
            )
        )
        .select(
            F.col("n_multi_entities").cast("long"),
            F.col("max_cluster_size").cast("long"),
            F.col("pairs_checked").cast("long"),
            F.col("chain_pairs").cast("long"),
            F.col("max_intra_lev").cast("long"),
        )
    )


Q_ER_CHAIN_AUDIT_SQL = f"""
WITH RECURSIVE {_sn_suffix_sql_body()}
, edges AS (
  SELECT rec_a AS a, rec_b AS b FROM refined3
  UNION SELECT rec_b, rec_a FROM refined3
), reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
), comp AS (
  SELECT a AS rec_id, least(a, min(b)) AS entity FROM reach GROUP BY a
), m AS (
  SELECT c.entity, p.rec_id, lower(p.name) AS nname
  FROM '{ER_PATH}' p JOIN comp c ON c.rec_id = p.rec_id
), intra AS (
  SELECT a.entity, levenshtein(a.nname, b.nname) AS lev
  FROM m a JOIN m b ON a.entity = b.entity AND a.rec_id < b.rec_id
), sizes AS (
  SELECT entity, count(*) AS msize FROM m GROUP BY entity
)
SELECT CAST((SELECT count(*) FROM sizes) AS BIGINT) AS n_multi_entities,
       CAST((SELECT max(msize) FROM sizes) AS BIGINT) AS max_cluster_size,
       CAST(count(*) AS BIGINT) AS pairs_checked,
       CAST(sum(CASE WHEN lev > {LEV_MAX} THEN 1 ELSE 0 END) AS BIGINT) AS chain_pairs,
       CAST(max(lev) AS BIGINT) AS max_intra_lev
FROM intra
"""


# shared WITH-body for the incremental oracles (the SQL twin of
# _inc_refined): key construction, candidate join, city+lev refine.
# Parameterized on the fixture path (r12) so the ambiguity-resolution
# oracle over er_ambig.parquet reuses it verbatim.
def inc_refined_sql_body(path: str) -> str:
    return f"""base AS (
  SELECT * FROM '{path}' WHERE rec_id < 400
), arrivals AS (
  SELECT * FROM '{path}' WHERE rec_id >= 400
), akeys AS (
  SELECT rec_id AS a_id, 'k1|' || coalesce(city, '') || '|'
         || coalesce({block_key_sql(duck=True)}, '') AS bkey FROM arrivals
  UNION ALL
  SELECT rec_id, 'k2|' || coalesce(city, '') || '|'
         || coalesce({suffix_key_sql(duck=True)}, '') || '|'
         || coalesce(lower({_FIRSTNAME}), '') FROM arrivals
), bkeys AS (
  SELECT rec_id AS b_id, 'k1|' || coalesce(city, '') || '|'
         || coalesce({block_key_sql(duck=True)}, '') AS bkey FROM base
  UNION ALL
  SELECT rec_id, 'k2|' || coalesce(city, '') || '|'
         || coalesce({suffix_key_sql(duck=True)}, '') || '|'
         || coalesce(lower({_FIRSTNAME}), '') FROM base
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
)"""


_INC_REFINED_SQL_BODY = inc_refined_sql_body(ER_PATH)

Q_ER_INCREMENTAL_SQL = f"""
WITH {_INC_REFINED_SQL_BODY}
, best AS (
  SELECT a_id, b_id, lev,
         row_number() OVER (PARTITION BY a_id ORDER BY lev, b_id) AS rn,
         count(*) OVER (PARTITION BY a_id) AS n_matches
  FROM refined
)
SELECT a.rec_id,
       CAST(coalesce(b.b_id, -1) AS BIGINT) AS matched_entity,
       CAST(coalesce(b.lev, -1) AS BIGINT) AS lev,
       CAST(coalesce(b.n_matches, 0) AS BIGINT) AS n_matches
FROM arrivals a
LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON b.a_id = a.rec_id
ORDER BY a.rec_id
"""

Q_ER_GOLDEN_INC_SQL = f"""
WITH {_INC_REFINED_SQL_BODY}
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
), arr_rows AS (
  SELECT s.rec_id, coalesce(lower(a.name), '') AS nname,
         coalesce(a.city, '') AS city, s.me
  FROM assigned s JOIN arrivals a ON a.rec_id = s.rec_id
), members AS (
  SELECT me AS entity, rec_id, nname, city FROM arr_rows WHERE me >= 0
  UNION ALL
  SELECT b.rec_id, b.rec_id, coalesce(lower(b.name), ''), coalesce(b.city, '')
  FROM base b
  JOIN (SELECT DISTINCT me FROM arr_rows WHERE me >= 0) t ON t.me = b.rec_id
  UNION ALL
  SELECT rec_id, rec_id, nname, city FROM arr_rows WHERE me < 0
), st AS (
  SELECT entity, count(*) AS n_members,
         CASE WHEN count(*) > 1 THEN 'updated' ELSE 'new' END AS status
  FROM members GROUP BY entity
), nc AS (
  SELECT entity, nname, count(*) AS cnt FROM members GROUP BY entity, nname
), bn AS (
  SELECT entity, nname,
         row_number() OVER (PARTITION BY entity ORDER BY cnt DESC, nname) AS rn
  FROM nc
), ln AS (
  SELECT entity, nname,
         row_number() OVER (
           PARTITION BY entity ORDER BY length(nname) DESC, nname) AS rn
  FROM (SELECT DISTINCT entity, nname FROM members)
), lc AS (
  SELECT entity, city,
         row_number() OVER (PARTITION BY entity ORDER BY rec_id DESC) AS rn
  FROM members
)
SELECT s.entity, s.status, CAST(s.n_members AS BIGINT) AS n_members,
       bn.nname AS name_mode, ln.nname AS name_longest, lc.city AS city_latest
FROM st s
JOIN bn ON bn.entity = s.entity AND bn.rn = 1
JOIN ln ON ln.entity = s.entity AND ln.rn = 1
JOIN lc ON lc.entity = s.entity AND lc.rn = 1
ORDER BY s.entity
"""

Q_ER_MARGIN_AUDIT_SQL = f"""
WITH {_INC_REFINED_SQL_BODY}
, best AS (
  SELECT a_id, lev,
         row_number() OVER (PARTITION BY a_id ORDER BY lev, b_id) AS rn,
         lead(lev) OVER (PARTITION BY a_id ORDER BY lev, b_id) AS second_lev
  FROM refined
)
SELECT CAST(lev AS BIGINT) AS lev,
       CAST(coalesce(second_lev - lev, -1) AS BIGINT) AS gap,
       CAST(count(*) AS BIGINT) AS n
FROM best WHERE rn = 1
GROUP BY 1, 2
ORDER BY lev, gap
"""


Q_ER_INCREMENTAL_MARGIN_SQL = f"""
WITH {_INC_REFINED_SQL_BODY}
, best AS (
  SELECT a_id, b_id, lev,
         row_number() OVER (PARTITION BY a_id ORDER BY lev, b_id) AS rn,
         lead(lev) OVER (PARTITION BY a_id ORDER BY lev, b_id) AS second_lev,
         count(*) OVER (PARTITION BY a_id) AS n_matches
  FROM refined
)
SELECT a.rec_id,
       CAST(CASE
              WHEN b.a_id IS NULL THEN -1
              WHEN b.second_lev IS NOT NULL
                   AND b.second_lev - b.lev < {INC_MARGIN} THEN -2
              ELSE b.b_id
            END AS BIGINT) AS matched_entity,
       CAST(coalesce(b.lev, -1) AS BIGINT) AS lev,
       CAST(coalesce(b.second_lev - b.lev, -1) AS BIGINT) AS margin,
       CAST(coalesce(b.n_matches, 0) AS BIGINT) AS n_matches
FROM arrivals a
LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON b.a_id = a.rec_id
ORDER BY a.rec_id
"""


