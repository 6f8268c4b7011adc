"""Golden-table RETRACTION (r12, r11 verdict #4): the delete path of
golden-record maintenance.

``golden_delta`` handles appends; real CDC also retracts — a record
correction or deletion removes a MEMBER from its entity, and because
cluster membership is connectivity (CC over the matched pairs), removing
a BRIDGE record can disconnect the cluster: the entity must SPLIT, not
just lose a row (the q_er_chain_audit hazard made load-bearing — a
chain a—b—c whose every edge passed refine is one deletion away from
being two entities).  The recompute is local:

1. touched entities = the entities of the deleted records;
2. re-run connected components on the SUBGRAPH induced by the touched
   entities' REMAINING members only (pairs among them — at 100 TB this
   is a per-entity-sized recompute, never the full pair set);
3. recompute survivorship per resulting component;
4. emit a delta: ``updated`` (the old entity id survives as a component
   head), ``split`` (a new head emerged — either a genuine split or the
   old head record itself was retracted), ``deleted`` (an old entity id
   with no members mapped to it any more).

Scale shape: one semi-join to find touched members, pair generation
restricted to that subset (blocking key equi-join over a frame the size
of the touched entities), CC over a touched-size edge list, three hash
aggregations.  Work is O(|touched entities' members|), independent of
table size — the exact retraction analogue of golden_delta's
touched-entities-only contract.

Fixture: the er_ambig chain group (300—301—302, tools/make_er_ambig.py)
plants the bridge; the fixed RETRACT_DELETES set exercises all three
statuses, including a head-record retraction where the cluster survives
under a NEW id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from changegen_spark.operators.fence import fence
from changegen_spark.queries.er.blocking import (
    LEV_MAX,
    block_key_sql,
    er_pairs_for,
)
from changegen_spark.queries.er.resolve import ER_AMBIG_PATH, _ambig_people

# the committed retraction batch for the fixture query/oracle:
#   301 — the chain BRIDGE: {300,301,302} must split into 300 and 302;
#   102 — a cluster HEAD whose cluster survives: {102,103,402} becomes
#         entity 103 ('split' head + 'deleted' 102);
#   115 — a singleton: plain 'deleted';
#   405 — a leaf of the paul-cluster: entity 104 survives 'updated'.
RETRACT_DELETES = (102, 115, 301, 405)


def golden_retract(
    people: DataFrame, deletes: DataFrame, pairs: DataFrame | None = None
) -> DataFrame:
    """Retraction delta over any (rec_id, name, city) frame.  ``deletes``
    is a (rec_id) frame; ``pairs`` the matched-pair set (defaults to the
    key-blocking rule ``er_pairs_for(people)``).  Returns (entity,
    status, n_members, name_mode, name_longest, city_latest) for every
    AFFECTED entity id — old and new — sorted by entity; ``deleted``
    rows carry 0 members and '' names."""
    from changegen_spark.functions.clustering import connected_components

    if pairs is None:
        pairs = er_pairs_for(people)
    pairs = pairs.select("rec_a", "rec_b").transform(fence, "golden_retract pairs")
    comp = connected_components(pairs, src="rec_a", dst="rec_b")
    assign = people.select("rec_id").join(
        comp, people.rec_id == comp.node, "left"
    ).select(
        "rec_id", F.coalesce("comp", F.col("rec_id")).alias("entity")
    )
    dels = deletes.select("rec_id").distinct()
    touched = (
        assign.join(dels, "rec_id").select("entity").distinct()
    ).transform(fence, "golden_retract touched")
    members_t = assign.join(F.broadcast(touched), "entity")
    remaining = members_t.join(dels, "rec_id", "left_anti").transform(
        fence, "golden_retract remaining"
    )
    rem_ids = remaining.select("rec_id")
    sub_edges = (
        pairs.join(rem_ids.withColumnRenamed("rec_id", "rec_a"), "rec_a")
        .join(rem_ids.withColumnRenamed("rec_id", "rec_b"), "rec_b")
        .select("rec_a", "rec_b")
    )
    subcomp = connected_components(sub_edges, src="rec_a", dst="rec_b")
    new_assign = remaining.join(
        subcomp, remaining.rec_id == subcomp.node, "left"
    ).select(
        "rec_id", F.coalesce("comp", F.col("rec_id")).alias("new_entity")
    )
    rows = new_assign.join(
        people.select(
            "rec_id",
            F.coalesce(F.lower("name"), F.lit("")).alias("nname"),
            F.coalesce("city", F.lit("")).alias("city"),
        ),
        "rec_id",
    )
    nc = rows.groupBy("new_entity", "nname").agg(F.count("*").alias("cnt"))
    mode = (
        nc.groupBy("new_entity")
        .agg(
            F.min(
                F.struct(
                    (-F.col("cnt")).alias("neg"), F.col("nname").alias("v")
                )
            ).alias("b")
        )
        .select("new_entity", F.col("b.v").alias("name_mode"))
    )
    rest = rows.groupBy("new_entity").agg(
        F.count("*").alias("n_members"),
        F.min(
            F.struct(
                (-F.length("nname")).alias("neg"), F.col("nname").alias("v")
            )
        )["v"].alias("name_longest"),
        F.max(
            F.struct(F.col("rec_id").alias("r"), F.col("city").alias("v"))
        )["v"].alias("city_latest"),
    )
    survived = (
        rest.join(mode, "new_entity")
        .join(
            touched.withColumnRenamed("entity", "new_entity").withColumn(
                "was", F.lit(1)
            ),
            "new_entity",
            "left",
        )
        .select(
            F.col("new_entity").alias("entity"),
            F.when(F.col("was").isNotNull(), F.lit("updated"))
            .otherwise(F.lit("split"))
            .alias("status"),
            F.col("n_members").cast("long").alias("n_members"),
            "name_mode",
            "name_longest",
            "city_latest",
        )
    )
    gone = (
        touched.join(
            survived.select(F.col("entity").alias("e2")),
            touched.entity == F.col("e2"),
            "left_anti",
        )
        .select(
            "entity",
            F.lit("deleted").alias("status"),
            F.lit(0).cast("long").alias("n_members"),
            F.lit("").alias("name_mode"),
            F.lit("").alias("name_longest"),
            F.lit("").alias("city_latest"),
        )
    )
    return survived.unionByName(gone).orderBy("entity")


def q_er_golden_retract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retraction delta over the full er_ambig population with the
    committed RETRACT_DELETES batch: the bridge retraction splits the
    planted chain, the head retraction re-heads its cluster, the leaf
    retraction shrinks in place, the singleton retraction tombstones."""
    ppl = _ambig_people(spark)
    deletes = spark.createDataFrame(
        [(int(r),) for r in RETRACT_DELETES], "rec_id long"
    )
    return golden_retract(ppl, deletes)


_DELS_SQL = ", ".join(f"({r})" for r in RETRACT_DELETES)

Q_ER_GOLDEN_RETRACT_SQL = f"""
WITH RECURSIVE keyed AS (
  SELECT rec_id, coalesce(lower(name), '') AS nname, coalesce(city, '') AS city,
         {block_key_sql(duck=True)} AS block_key
  FROM '{ER_AMBIG_PATH}'
), pairs AS (
  SELECT a.rec_id AS rec_a, b.rec_id AS rec_b
  FROM keyed a JOIN keyed b
    ON a.block_key = b.block_key AND a.rec_id < b.rec_id
  WHERE levenshtein(a.nname, b.nname) <= {LEV_MAX}
), edges AS (
  SELECT rec_a AS a, rec_b AS b FROM pairs
  UNION SELECT rec_b, rec_a FROM pairs
), reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
), comp AS (
  SELECT a AS rec_id, least(a, min(b)) AS entity FROM reach GROUP BY a
), assign AS (
  SELECT k.rec_id, coalesce(c.entity, k.rec_id) AS entity
  FROM keyed k LEFT JOIN comp c ON c.rec_id = k.rec_id
), dels(rec_id) AS (
  VALUES {_DELS_SQL}
), touched AS (
  SELECT DISTINCT entity FROM assign JOIN dels USING (rec_id)
), remaining AS (
  SELECT a.rec_id, a.entity FROM assign a
  JOIN touched t ON t.entity = a.entity
  WHERE a.rec_id NOT IN (SELECT rec_id FROM dels)
), sub_edges AS (
  SELECT p.rec_a AS a, p.rec_b AS b FROM pairs p
  JOIN remaining r1 ON r1.rec_id = p.rec_a
  JOIN remaining r2 ON r2.rec_id = p.rec_b
  UNION
  SELECT p.rec_b, p.rec_a FROM pairs p
  JOIN remaining r1 ON r1.rec_id = p.rec_a
  JOIN remaining r2 ON r2.rec_id = p.rec_b
), reach2(a, b) AS (
  SELECT a, b FROM sub_edges
  UNION
  SELECT r.a, e.b FROM reach2 r JOIN sub_edges e ON r.b = e.a
), comp2 AS (
  SELECT a AS rec_id, least(a, min(b)) AS new_entity FROM reach2 GROUP BY a
), rows_ AS (
  SELECT coalesce(c.new_entity, r.rec_id) AS new_entity, r.rec_id,
         k.nname, k.city
  FROM remaining r
  LEFT JOIN comp2 c ON c.rec_id = r.rec_id
  JOIN keyed k ON k.rec_id = r.rec_id
), bn AS (
  SELECT new_entity, nname,
         row_number() OVER (
           PARTITION BY new_entity ORDER BY count(*) DESC, nname) AS rn
  FROM rows_ GROUP BY new_entity, nname
), ln AS (
  SELECT new_entity, nname,
         row_number() OVER (
           PARTITION BY new_entity ORDER BY length(nname) DESC, nname) AS rn
  FROM (SELECT DISTINCT new_entity, nname FROM rows_)
), lc AS (
  SELECT new_entity, city,
         row_number() OVER (
           PARTITION BY new_entity ORDER BY rec_id DESC) AS rn
  FROM rows_
), mem AS (
  SELECT new_entity, count(*) AS n_members FROM rows_ GROUP BY new_entity
), survived AS (
  SELECT m.new_entity AS entity,
         CASE WHEN m.new_entity IN (SELECT entity FROM touched)
              THEN 'updated' ELSE 'split' END AS status,
         CAST(m.n_members AS BIGINT) AS n_members,
         bn.nname AS name_mode, ln.nname AS name_longest,
         lc.city AS city_latest
  FROM mem m
  JOIN bn ON bn.new_entity = m.new_entity AND bn.rn = 1
  JOIN ln ON ln.new_entity = m.new_entity AND ln.rn = 1
  JOIN lc ON lc.new_entity = m.new_entity AND lc.rn = 1
)
SELECT * FROM survived
UNION ALL
SELECT t.entity, 'deleted', CAST(0 AS BIGINT), '', '', ''
FROM touched t
WHERE t.entity NOT IN (SELECT entity FROM survived)
ORDER BY entity
"""
