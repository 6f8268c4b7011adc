"""ER survivorship and cluster-quality metrics (r10): golden records
over the production clusters and the B-cubed precision/recall/F1 eval.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from changegen_spark.queries.er.blocking import ER_PATH, _people
from changegen_spark.queries.er.sn import (
    SN_REFINE_COLS,
    _sn_suffix_sql_body,
    er_pairs_sn_suffix,
)

# --- survivorship / golden records (r10) -------------------------------------


def q_er_golden(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The last ER stage: clusters → ONE canonical record per entity
    (survivorship).  Every source record maps to an entity (its
    connected component over the production 3-pass+refine pairs, or
    itself if unmatched — the full-table convention a downstream
    consumer joins against), then per entity: member count, distinct
    name-variant count, and mode-with-deterministic-tiebreak canonical
    name and city (most frequent value, ties broken by the
    lexicographically smallest — no arrival-order `first()`).

    Scale shape: CC is the checkpointed iteration, then three hash
    aggregations (entity×name, entity×city, entity) — the mode is
    computed as `min(struct(-cnt, value))` per entity, a two-level
    groupBy with map-side partials, NOT a window sort over the full
    table."""
    from changegen_spark.functions.clustering import connected_components

    ppl = _people(spark)
    pairs = er_pairs_sn_suffix(ppl, refine_cols=SN_REFINE_COLS)
    comp = connected_components(pairs, src="rec_a", dst="rec_b").select(
        F.col("node").alias("rec_id"), F.col("comp").alias("ent")
    )
    # nname/city coalesced to '' (r10 advice): the mode tiebreak is
    # min(struct(-cnt, v)) here but ORDER BY cnt DESC, v in the oracle,
    # and the engines disagree on NULL ordering (Spark structs sort NULL
    # fields first, DuckDB defaults NULLS LAST) — a NULL name/city would
    # win the tie on one engine and lose it on the other.  '' sorts
    # first in both.
    mapped = (
        ppl.join(comp, "rec_id", "left")
        .select(
            F.coalesce(F.lower("name"), F.lit("")).alias("nname"),
            F.coalesce("city", F.lit("")).alias("city"),
            F.coalesce("ent", F.col("rec_id")).alias("entity"),
        )
    )
    nc = mapped.groupBy("entity", "nname").agg(F.count("*").alias("cnt"))
    best_name = (
        nc.groupBy("entity")
        .agg(
            F.min(
                F.struct(
                    (-F.col("cnt")).alias("neg"), F.col("nname").alias("v")
                )
            ).alias("b"),
            F.count("*").alias("n_name_variants"),
        )
        .select("entity", F.col("b.v").alias("name"), "n_name_variants")
    )
    cc = mapped.groupBy("entity", "city").agg(F.count("*").alias("cnt"))
    best_city = (
        cc.groupBy("entity")
        .agg(
            F.min(
                F.struct(
                    (-F.col("cnt")).alias("neg"), F.col("city").alias("v")
                )
            ).alias("b")
        )
        .select("entity", F.col("b.v").alias("city"))
    )
    members = mapped.groupBy("entity").agg(F.count("*").alias("n_members"))
    return (
        members.join(best_name, "entity")
        .join(best_city, "entity")
        .select("entity", "n_members", "n_name_variants", "name", "city")
        .orderBy("entity")
    )


Q_ER_GOLDEN_SQL = f"""
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
), mapped AS (
  SELECT coalesce(lower(p.name), '') AS nname, coalesce(p.city, '') AS city,
         coalesce(c.entity, p.rec_id) AS entity
  FROM '{ER_PATH}' p LEFT JOIN comp c ON c.rec_id = p.rec_id
), nc AS (
  SELECT entity, nname, count(*) AS cnt FROM mapped GROUP BY entity, nname
), bn AS (
  SELECT entity, nname, cnt,
         row_number() OVER (PARTITION BY entity ORDER BY cnt DESC, nname) AS rn,
         count(*) OVER (PARTITION BY entity) AS n_name_variants
  FROM nc
), cc2 AS (
  SELECT entity, city, count(*) AS cnt FROM mapped GROUP BY entity, city
), bc AS (
  SELECT entity, city,
         row_number() OVER (PARTITION BY entity ORDER BY cnt DESC, city) AS rn
  FROM cc2
), mem AS (
  SELECT entity, count(*) AS n_members FROM mapped GROUP BY entity
)
SELECT m.entity, m.n_members,
       CAST(bn.n_name_variants AS BIGINT) AS n_name_variants,
       bn.nname AS name, bc.city
FROM mem m
JOIN bn ON bn.entity = m.entity AND bn.rn = 1
JOIN bc ON bc.entity = m.entity AND bc.rn = 1
ORDER BY m.entity
"""


def q_er_golden_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-attribute survivorship (r10 verdict #6): a production golden
    record carries EVERY attribute with a per-column survivorship rule,
    not just the mode.  Three rules over the production clusters:

    * ``name_mode``    — most frequent normalized name, ties to the
      lexicographically smallest (q_er_golden's rule);
    * ``name_longest`` — most-COMPLETE rule: the longest name variant
      (longer = more information survives the merge), ties to the
      lexicographically smallest;
    * ``city_latest``  — RECENCY/source-priority rule: the city of the
      highest rec_id member (the fixture's ids are insertion-ordered,
      the standard most-recent-source proxy).

    Scale shape identical to q_er_golden: CC, then hash aggregations
    only — mode is the two-level groupBy + min(struct(-cnt, v));
    longest is min(struct(-length, v)); latest is max(struct(rec_id,
    v)) (rec_id unique ⇒ deterministic) — no window over the full
    table, every struct-min/max has map-side partials."""
    from changegen_spark.functions.clustering import connected_components

    ppl = _people(spark)
    pairs = er_pairs_sn_suffix(ppl, refine_cols=SN_REFINE_COLS)
    comp = connected_components(pairs, src="rec_a", dst="rec_b").select(
        F.col("node").alias("rec_id"), F.col("comp").alias("ent")
    )
    # same ''-coalesce discipline as q_er_golden: tiebreaks must order
    # identically on both engines when a value is NULL
    mapped = ppl.join(comp, "rec_id", "left").select(
        "rec_id",
        F.coalesce(F.lower("name"), F.lit("")).alias("nname"),
        F.coalesce("city", F.lit("")).alias("city"),
        F.coalesce("ent", F.col("rec_id")).alias("entity"),
    )
    nc = mapped.groupBy("entity", "nname").agg(F.count("*").alias("cnt"))
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
    rest = mapped.groupBy("entity").agg(
        F.count("*").alias("n_members"),
        F.min(
            F.struct(
                (-F.length("nname")).alias("neg"),
                F.col("nname").alias("v"),
            )
        )["v"].alias("name_longest"),
        F.max(
            F.struct(F.col("rec_id").alias("r"), F.col("city").alias("v"))
        )["v"].alias("city_latest"),
    )
    return (
        rest.join(mode, "entity")
        .select(
            "entity", "n_members", "name_mode", "name_longest", "city_latest"
        )
        .orderBy("entity")
    )


Q_ER_GOLDEN_FULL_SQL = f"""
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
), mapped AS (
  SELECT p.rec_id, coalesce(lower(p.name), '') AS nname,
         coalesce(p.city, '') AS city,
         coalesce(c.entity, p.rec_id) AS entity
  FROM '{ER_PATH}' p LEFT JOIN comp c ON c.rec_id = p.rec_id
), nc AS (
  SELECT entity, nname, count(*) AS cnt FROM mapped GROUP BY entity, nname
), bn AS (
  SELECT entity, nname,
         row_number() OVER (PARTITION BY entity ORDER BY cnt DESC, nname) AS rn
  FROM nc
), ln AS (
  SELECT entity, nname,
         row_number() OVER (
           PARTITION BY entity ORDER BY length(nname) DESC, nname) AS rn
  FROM (SELECT DISTINCT entity, nname FROM mapped)
), lc AS (
  SELECT entity, city,
         row_number() OVER (PARTITION BY entity ORDER BY rec_id DESC) AS rn
  FROM mapped
), mem AS (
  SELECT entity, count(*) AS n_members FROM mapped GROUP BY entity
)
SELECT m.entity, m.n_members,
       bn.nname AS name_mode, ln.nname AS name_longest, lc.city AS city_latest
FROM mem m
JOIN bn ON bn.entity = m.entity AND bn.rn = 1
JOIN ln ON ln.entity = m.entity AND ln.rn = 1
JOIN lc ON lc.entity = m.entity AND lc.rn = 1
ORDER BY m.entity
"""


def bcubed_from_pairs(people: DataFrame, pairs: DataFrame) -> tuple:
    """(n, n_pred, n_true, p_e6, r_e6, f1_e6) B³ metrics of the clusters
    implied by ``pairs`` (CC, singletons map to themselves) against the
    planted entity_id of ``people`` — the computation behind
    ``q_er_bcubed``, factored so tools/ladders.py's er ladder can grade EVERY
    scheme at the entity level (r10 verdict #2), not just the shipped
    one.  Integer e12 arithmetic throughout (see q_er_bcubed)."""
    from changegen_spark.functions.clustering import connected_components

    comp = connected_components(pairs, src="rec_a", dst="rec_b").select(
        F.col("node").alias("rec_id"), F.col("comp").alias("p")
    )
    m = (
        people.select("rec_id", "entity_id")
        .join(comp, "rec_id", "left")
        .select(
            "entity_id", F.coalesce("p", F.col("rec_id")).alias("pred")
        )
    )
    cells = m.groupBy("pred", "entity_id").agg(F.count("*").alias("n_ct"))
    psize = m.groupBy("pred").agg(F.count("*").alias("n_c"))
    tsize = m.groupBy("entity_id").agg(F.count("*").alias("n_t"))
    agg = (
        cells.join(psize, "pred")
        .join(tsize, "entity_id")
        .select(
            F.expr("n_ct * (n_ct * CAST(1000000000000 AS BIGINT) div n_c)").alias(
                "pterm"
            ),
            F.expr("n_ct * (n_ct * CAST(1000000000000 AS BIGINT) div n_t)").alias(
                "rterm"
            ),
        )
        .agg(
            F.sum("pterm").alias("sp"),
            F.sum("rterm").alias("sr"),
        )
        .collect()[0]
    )
    n = m.count()
    n_pred = m.select("pred").distinct().count()
    n_true = m.select("entity_id").distinct().count()
    # empty-input guard (the bt_weighted W=0 lesson): no records → all
    # metrics 0 rather than ZeroDivisionError, mirroring SQL's NULL-free
    # CASE discipline
    p_e6 = int(agg.sp // (n * 1_000_000)) if n and agg.sp is not None else 0
    r_e6 = int(agg.sr // (n * 1_000_000)) if n and agg.sr is not None else 0
    f1_e6 = (2 * p_e6 * r_e6) // (p_e6 + r_e6) if (p_e6 + r_e6) else 0
    return (n, n_pred, n_true, p_e6, r_e6, f1_e6)


def q_er_bcubed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-level linkage quality: B-cubed precision/recall/F1 (Bagga
    & Baldwin 1998) of the production clusters (3-pass SN + city refine
    → CC, singletons mapping to themselves) against the planted
    entity_id.  Pairwise P/R (the eval family above) over-weights big
    clusters quadratically; B³ averages per RECORD: precision(r) =
    |C(r)∩T(r)|/|C(r)|, recall(r) = |C(r)∩T(r)|/|T(r)| — the metric
    that actually moves when a giant wrong merge happens.

    Engine-exact arithmetic: per-(pred,true) cell the contribution is
    n_ct²/|C| summed over cells; both engines compute it as INTEGER
    floor division at e12 scale, REASSOCIATED as n_ct·((n_ct·1e12) div
    n_c) so the largest intermediate is n_ct·1e12 — safe in int64 up to
    ~9.2M-record clusters, not the ~3,035 the naive n_ct²·1e12 ordering
    allows before a silent wrap (r10 advice; with ANSI off Spark wraps
    while DuckDB errors — a silent engine divergence).  The inner floor
    costs < 1 per cell pre-multiplier, < n_ct after it, so the summed
    error is < n — under one e6 ulp after the final division by n·1e6;
    both engines reassociate identically so parity is exact.  Scale
    shape: three hash aggregations (cell, pred-size, true-size) + two
    broadcast-joinable size frames; no window, no driver math beyond
    the final 1-row assembly."""
    ppl = _people(spark)
    pairs = er_pairs_sn_suffix(ppl, refine_cols=SN_REFINE_COLS)
    n, n_pred, n_true, p_e6, r_e6, f1_e6 = bcubed_from_pairs(ppl, pairs)
    return spark.createDataFrame(
        [(n, n_pred, n_true, p_e6, r_e6, f1_e6)],
        "n_records long, n_pred_clusters long, n_true_entities long, "
        "b3_precision_e6 long, b3_recall_e6 long, b3_f1_e6 long",
    )


Q_ER_BCUBED_SQL = f"""
WITH RECURSIVE {_sn_suffix_sql_body()}
, edges AS (
  SELECT rec_a AS a, rec_b AS b FROM refined3
  UNION SELECT rec_b, rec_a FROM refined3
), reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
), comp AS (
  SELECT a AS rec_id, least(a, min(b)) AS pred FROM reach GROUP BY a
), mapped AS (
  SELECT p.entity_id, coalesce(c.pred, p.rec_id) AS pred
  FROM '{ER_PATH}' p LEFT JOIN comp c ON c.rec_id = p.rec_id
), cells AS (
  SELECT pred, entity_id, count(*) AS n_ct FROM mapped GROUP BY pred, entity_id
), psize AS (
  SELECT pred, count(*) AS n_c FROM mapped GROUP BY pred
), tsize AS (
  SELECT entity_id, count(*) AS n_t FROM mapped GROUP BY entity_id
), sums AS (
  SELECT sum(n_ct * ((n_ct * CAST(1000000000000 AS BIGINT)) // n_c)) AS sp,
         sum(n_ct * ((n_ct * CAST(1000000000000 AS BIGINT)) // n_t)) AS sr
  FROM cells JOIN psize USING (pred) JOIN tsize USING (entity_id)
), base AS (
  SELECT (SELECT count(*) FROM mapped) AS n,
         (SELECT count(DISTINCT pred) FROM mapped) AS n_pred,
         (SELECT count(DISTINCT entity_id) FROM mapped) AS n_true,
         sp, sr
  FROM sums
), scaled AS (
  -- n > 0 guard matches the Spark side's empty-input guard: zero
  -- records must yield 0 metrics on BOTH engines, not NULL // 0 here
  SELECT n, n_pred, n_true,
         CASE WHEN n > 0 THEN coalesce(sp, 0) // (n * 1000000) ELSE 0 END AS p_e6,
         CASE WHEN n > 0 THEN coalesce(sr, 0) // (n * 1000000) ELSE 0 END AS r_e6
  FROM base
)
SELECT CAST(n AS BIGINT) AS n_records, CAST(n_pred AS BIGINT) AS n_pred_clusters,
       CAST(n_true AS BIGINT) AS n_true_entities,
       CAST(p_e6 AS BIGINT) AS b3_precision_e6, CAST(r_e6 AS BIGINT) AS b3_recall_e6,
       CAST(CASE WHEN p_e6 + r_e6 > 0
                 THEN (2 * p_e6 * r_e6) // (p_e6 + r_e6) ELSE 0 END AS BIGINT)
         AS b3_f1_e6
FROM scaled
"""


