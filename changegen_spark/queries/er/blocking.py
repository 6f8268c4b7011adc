"""Key-based ER blocking: phonetic keys, single- and multi-key pair
generation, CC clustering, and pairwise evaluation (r6).

The phonetic key is a soundex-style consonant skeleton defined ONCE as a
dialect-parameterized SQL expression (``phonetic_key_sql``) and executed
verbatim on BOTH engines (Spark ``F.expr`` / DuckDB text; the only
dialect difference is DuckDB's explicit ``'g'`` regexp flag).  Classic
test values reproduce (smith/smyth -> s530, jackson -> j250).

100 TB shape: blocking is a map-side key computation + one hash shuffle
per block key; refine cost is SUM(block^2) -- the q_er_blocks inventory
is exactly the skew audit a production linkage run does first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import os

FIXDIR = os.path.abspath(
    os.path.join(os.path.dirname(__file__), "..", "..", "..", "fixtures")
)
ER_PATH = os.path.join(FIXDIR, "er_people.parquet")

LEV_MAX = 2  # full-name edit-distance refine threshold


def _rr(duck: bool):
    def rr(s: str, pat: str, rep: str) -> str:
        flag = ", 'g'" if duck else ""
        return f"regexp_replace({s}, '{pat}', '{rep}'{flag})"

    return rr


def phonetic_key_sql(expr: str, duck: bool) -> str:
    """Soundex-style phonetic key of ``expr`` as a SQL expression valid in
    both Spark SQL and DuckDB (dialect toggles only the regexp 'g' flag).

    letter + 3 digits: consonant classes b/f/p/v→1 c/g/j/k/q/s/x/z→2
    d/t→3 l→4 m/n→5 r→6; h/w transparent (equal codes across h/w
    collapse); vowels separate (equal codes across a vowel are kept);
    the first letter's own code is dropped, classic-style."""
    rr = _rr(duck)
    clean = rr(f"lower({expr})", "[^a-z]", "")
    m = rr(clean, "[hw]", "")
    for pat, rep in (
        ("[bfpv]", "1"),
        ("[cgjkqsxz]", "2"),
        ("[dt]", "3"),
        ("l", "4"),
        ("[mn]", "5"),
        ("r", "6"),
        ("[aeiouy]", "0"),
    ):
        m = rr(m, pat, rep)
    for d in "123456":
        m = rr(m, d + "{2,}", d)
    digits = rr(m, "0", "")
    first = f"substr({clean}, 1, 1)"
    tail = (
        f"CASE WHEN {first} IN ('a','e','i','o','u','y','h','w') "
        f"THEN {digits} ELSE substr({digits}, 2) END"
    )
    return f"({first} || substr({tail} || '000', 1, 3))"


_FIRSTNAME = "substr(name, 1, instr(name, ' ') - 1)"
_LASTNAME = "substr(name, instr(name, ' ') + 1)"


def block_key_sql(duck: bool) -> str:
    """Blocking key: phonetic(last name) + '|' + first initial."""
    return (
        phonetic_key_sql(_LASTNAME, duck)
        + f" || '|' || substr({_FIRSTNAME}, 1, 1)"
    )


def _people(spark: SparkSession) -> DataFrame:
    return spark.read.parquet(ER_PATH)


def with_block(people: DataFrame) -> DataFrame:
    """(rec_id, nname, block_key) over any frame with rec_id + name."""
    return people.select(
        "rec_id",
        F.lower("name").alias("nname"),
        F.expr(block_key_sql(duck=False)).alias("block_key"),
    )


def _with_block(spark: SparkSession) -> DataFrame:
    return with_block(_people(spark))


def q_er_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-key inventory: records per block and the implied
    within-block candidate pairs (n·(n-1)/2) — Σ over blocks is the
    refine stage's total comparison count, the number a linkage design
    audits before running (quadratic in the largest block)."""
    return (
        _with_block(spark)
        .groupBy("block_key")
        .agg(F.count("*").alias("n_records"))
        .select(
            "block_key",
            "n_records",
            (F.col("n_records") * (F.col("n_records") - 1) / 2)
            .cast("long")
            .alias("n_cand_pairs"),
        )
        .orderBy(F.desc("n_records"), "block_key")
        .limit(40)
    )


Q_ER_BLOCKS_SQL = f"""
WITH keyed AS (
  SELECT rec_id, {block_key_sql(duck=True)} AS block_key
  FROM '{ER_PATH}'
)
SELECT block_key, count(*) AS n_records,
       CAST(count(*) * (count(*) - 1) / 2 AS BIGINT) AS n_cand_pairs
FROM keyed GROUP BY block_key
ORDER BY n_records DESC, block_key
LIMIT 40
"""


def er_pairs_for(people: DataFrame, extra_block_cols=()) -> DataFrame:
    """(rec_a, rec_b, lev) matched pairs over ANY (rec_id, name) frame:
    block equi-join + Levenshtein refine.  ``extra_block_cols`` adds
    exact-match fields (e.g. city) to the blocking key — the standard
    lever at population scale, where same-name-different-person mass is
    quadratic in name frequency and a single phonetic key's entropy
    stops scaling with n (the er ladder in tools/ladders.py measures both
    schemes).  The scale ladder drives this over
    sources/scaleup.build_er_records."""
    extra = list(extra_block_cols)
    k = with_block(people.select("rec_id", "name", *extra))
    if extra:
        k = k.join(people.select("rec_id", *extra), "rec_id")
    a = k.select(
        F.col("rec_id").alias("rec_a"),
        F.col("nname").alias("na"),
        "block_key",
        *extra,
    )
    b = k.select(
        F.col("rec_id").alias("rec_b"),
        F.col("nname").alias("nb"),
        "block_key",
        *extra,
    )
    return (
        a.join(b, ["block_key", *extra])
        .filter(F.col("rec_a") < F.col("rec_b"))
        .select(
            "rec_a",
            "rec_b",
            F.levenshtein("na", "nb").cast("long").alias("lev"),
        )
        .filter(F.col("lev") <= LEV_MAX)
    )


def er_pairs(spark: SparkSession) -> DataFrame:
    return er_pairs_for(_people(spark))


def q_er_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return er_pairs(spark).orderBy("rec_a", "rec_b")


_PAIRS_SQL_BODY = f"""
keyed AS (
  SELECT rec_id, lower(name) AS nname, {block_key_sql(duck=True)} AS block_key
  FROM '{ER_PATH}'
), er_pairs AS (
  SELECT a.rec_id AS rec_a, b.rec_id AS rec_b,
         CAST(levenshtein(a.nname, b.nname) AS BIGINT) AS lev
  FROM keyed a JOIN keyed b
    ON a.block_key = b.block_key AND a.rec_id < b.rec_id
  WHERE levenshtein(a.nname, b.nname) <= {LEV_MAX}
)
"""

Q_ER_PAIRS_SQL = f"""
WITH {_PAIRS_SQL_BODY}
SELECT rec_a, rec_b, lev FROM er_pairs ORDER BY rec_a, rec_b
"""


def q_er_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matched pairs → connected components → (rec_id, entity): the
    transitive-closure step that turns pairwise matches into entity
    groups (entity = min rec_id of the component, dedup-cluster
    convention).  Only records participating in ≥1 match appear."""
    from changegen_spark.functions.clustering import connected_components

    comp = connected_components(er_pairs(spark), src="rec_a", dst="rec_b")
    return comp.select(
        F.col("node").alias("rec_id"), F.col("comp").alias("entity")
    ).orderBy("rec_id")


Q_ER_CLUSTERS_SQL = f"""
WITH RECURSIVE {_PAIRS_SQL_BODY}
, edges AS (
  SELECT rec_a AS a, rec_b AS b FROM er_pairs
  UNION SELECT rec_b, rec_a FROM er_pairs
), reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
)
SELECT a AS rec_id, least(a, min(b)) AS entity
FROM reach GROUP BY a
ORDER BY rec_id
"""


def q_er_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linkage quality vs the planted truth: predicted pairs vs all
    same-entity record pairs.  ``block_recall_e6`` is the ceiling imposed
    by blocking alone (true pairs whose two records share a block key) —
    the honest decomposition: recall lost to blocking (class-B planted
    typos) vs recall lost to the refine threshold."""
    pred = er_pairs(spark).select("rec_a", "rec_b")
    ppl = _with_block(spark).join(
        _people(spark).select("rec_id", "entity_id"), "rec_id"
    )
    a = ppl.select(
        F.col("rec_id").alias("rec_a"),
        F.col("entity_id").alias("ea"),
        F.col("block_key").alias("ba"),
    )
    b = ppl.select(
        F.col("rec_id").alias("rec_b"),
        F.col("entity_id").alias("eb"),
        F.col("block_key").alias("bb"),
    )
    true_pairs = (
        a.join(b, [a.ea == b.eb, a.rec_a < b.rec_b])
        .select("rec_a", "rec_b", (F.col("ba") == F.col("bb")).alias("same_block"))
    )
    n_pred = pred.count()
    n_true = true_pairs.count()
    n_blocked = true_pairs.filter("same_block").count()
    n_tp = pred.join(true_pairs, ["rec_a", "rec_b"]).count()
    e6 = lambda num, den: int(round(1e6 * num / den)) if den else 0  # noqa: E731
    return spark.createDataFrame(
        [
            (
                n_pred,
                n_true,
                n_tp,
                e6(n_tp, n_pred),
                e6(n_tp, n_true),
                e6(n_blocked, n_true),
            )
        ],
        "n_pred long, n_true long, n_tp long, precision_e6 long, "
        "recall_e6 long, block_recall_e6 long",
    )


Q_ER_EVAL_SQL = f"""
WITH {_PAIRS_SQL_BODY}
, truth AS (
  SELECT a.rec_id AS rec_a, b.rec_id AS rec_b,
         ka.block_key = kb.block_key AS same_block
  FROM '{ER_PATH}' a JOIN '{ER_PATH}' b
    ON a.entity_id = b.entity_id AND a.rec_id < b.rec_id
  JOIN keyed ka ON ka.rec_id = a.rec_id
  JOIN keyed kb ON kb.rec_id = b.rec_id
), counts AS (
  SELECT (SELECT count(*) FROM er_pairs) AS n_pred,
         (SELECT count(*) FROM truth) AS n_true,
         (SELECT count(*) FROM truth WHERE same_block) AS n_blocked,
         (SELECT count(*) FROM er_pairs p JOIN truth t
            ON p.rec_a = t.rec_a AND p.rec_b = t.rec_b) AS n_tp
)
SELECT CAST(n_pred AS BIGINT) AS n_pred, CAST(n_true AS BIGINT) AS n_true,
       CAST(n_tp AS BIGINT) AS n_tp,
       CASE WHEN n_pred > 0 THEN CAST(round(1e6 * n_tp / n_pred) AS BIGINT) ELSE 0 END AS precision_e6,
       CASE WHEN n_true > 0 THEN CAST(round(1e6 * n_tp / n_true) AS BIGINT) ELSE 0 END AS recall_e6,
       CASE WHEN n_true > 0 THEN CAST(round(1e6 * n_blocked / n_true) AS BIGINT) ELSE 0 END AS block_recall_e6
FROM counts
"""


def second_key_sql(duck: bool) -> str:
    """Second blocking key: phonetic(FIRST name) + city — orthogonal to
    the primary key's failure mode (a last-name first-letter typo moves a
    record out of its phonetic block but leaves first name and city
    untouched)."""
    return phonetic_key_sql(_FIRSTNAME, duck) + " || '|' || city"


def er_pairs_multikey(people: DataFrame) -> DataFrame:
    """Multi-key blocking (the standard recall lever at population
    scale): candidates from the UNION of two independent blocking keys,
    each an equi-join, refined by the same Levenshtein rule; distinct
    pairs.  Candidate cost is the SUM of the two keys' Σ block² — still
    never a cartesian — and the recall ceiling becomes the union of the
    two keys' coverage: a true pair is lost only if BOTH keys miss it."""
    k2 = people.select(
        "rec_id",
        F.lower("name").alias("nname"),
        F.expr(second_key_sql(duck=False)).alias("block_key"),
    )
    a = k2.select(
        F.col("rec_id").alias("rec_a"), F.col("nname").alias("na"), "block_key"
    )
    b = k2.select(
        F.col("rec_id").alias("rec_b"), F.col("nname").alias("nb"), "block_key"
    )
    pairs2 = (
        a.join(b, "block_key")
        .filter(F.col("rec_a") < F.col("rec_b"))
        .select(
            "rec_a",
            "rec_b",
            F.levenshtein("na", "nb").cast("long").alias("lev"),
        )
        .filter(F.col("lev") <= LEV_MAX)
    )
    return er_pairs_for(people).unionByName(pairs2).distinct()


def q_er_pairs_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    return er_pairs_multikey(_people(spark)).orderBy("rec_a", "rec_b")


_MULTI_SQL_BODY = f"""
{_PAIRS_SQL_BODY}, keyed2 AS (
  SELECT rec_id, lower(name) AS nname, {second_key_sql(duck=True)} AS bk
  FROM '{ER_PATH}'
), pairs2 AS (
  SELECT a.rec_id AS rec_a, b.rec_id AS rec_b,
         CAST(levenshtein(a.nname, b.nname) AS BIGINT) AS lev
  FROM keyed2 a JOIN keyed2 b
    ON a.bk = b.bk AND a.rec_id < b.rec_id
  WHERE levenshtein(a.nname, b.nname) <= {LEV_MAX}
), multi AS (
  SELECT rec_a, rec_b, lev FROM er_pairs
  UNION
  SELECT rec_a, rec_b, lev FROM pairs2
)
"""

Q_ER_PAIRS_MULTI_SQL = f"""
WITH {_MULTI_SQL_BODY}
SELECT rec_a, rec_b, lev FROM multi ORDER BY rec_a, rec_b
"""


def q_er_eval_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_er_eval under multi-key blocking: the class-B misses the
    single-key eval quantifies as its designed blocking loss are
    recovered here (first-name-phonetic+city sees through a last-name
    first-letter typo), so recall reaches 1.0 on the fixture; measured
    precision RISES too (the only false pairs are the two the single key
    already admits — the second key added 16 true pairs and zero false
    ones), the measured case for the multi-key lever SCALE.md promises
    at population scale."""
    pred = er_pairs_multikey(_people(spark)).select("rec_a", "rec_b")
    ppl = _people(spark).select(
        "rec_id",
        "entity_id",
        F.expr(block_key_sql(duck=False)).alias("block_key"),
        F.expr(second_key_sql(duck=False)).alias("bk2"),
    )
    a = ppl.select(
        F.col("rec_id").alias("rec_a"),
        F.col("entity_id").alias("ea"),
        F.col("block_key").alias("ba"),
        F.col("bk2").alias("b2a"),
    )
    b = ppl.select(
        F.col("rec_id").alias("rec_b"),
        F.col("entity_id").alias("eb"),
        F.col("block_key").alias("bb"),
        F.col("bk2").alias("b2b"),
    )
    true_pairs = a.join(b, [a.ea == b.eb, a.rec_a < b.rec_b]).select(
        "rec_a",
        "rec_b",
        (
            (F.col("ba") == F.col("bb")) | (F.col("b2a") == F.col("b2b"))
        ).alias("same_block"),
    )
    n_pred = pred.count()
    n_true = true_pairs.count()
    n_blocked = true_pairs.filter("same_block").count()
    n_tp = pred.join(true_pairs, ["rec_a", "rec_b"]).count()
    e6 = lambda num, den: int(round(1e6 * num / den)) if den else 0  # noqa: E731
    return spark.createDataFrame(
        [
            (
                n_pred,
                n_true,
                n_tp,
                e6(n_tp, n_pred),
                e6(n_tp, n_true),
                e6(n_blocked, n_true),
            )
        ],
        "n_pred long, n_true long, n_tp long, precision_e6 long, "
        "recall_e6 long, block_recall_e6 long",
    )


Q_ER_EVAL_MULTI_SQL = f"""
WITH {_MULTI_SQL_BODY}, truth AS (
  SELECT a.rec_id AS rec_a, b.rec_id AS rec_b,
         (ka.block_key = kb.block_key OR k2a.bk = k2b.bk) AS same_block
  FROM '{ER_PATH}' a JOIN '{ER_PATH}' b
    ON a.entity_id = b.entity_id AND a.rec_id < b.rec_id
  JOIN keyed ka ON ka.rec_id = a.rec_id
  JOIN keyed kb ON kb.rec_id = b.rec_id
  JOIN keyed2 k2a ON k2a.rec_id = a.rec_id
  JOIN keyed2 k2b ON k2b.rec_id = b.rec_id
), counts AS (
  SELECT (SELECT count(*) FROM multi) AS n_pred,
         (SELECT count(*) FROM truth) AS n_true,
         (SELECT count(*) FROM truth WHERE same_block) AS n_blocked,
         (SELECT count(*) FROM multi p JOIN truth t
            ON p.rec_a = t.rec_a AND p.rec_b = t.rec_b) AS n_tp
)
SELECT CAST(n_pred AS BIGINT) AS n_pred, CAST(n_true AS BIGINT) AS n_true,
       CAST(n_tp AS BIGINT) AS n_tp,
       CASE WHEN n_pred > 0 THEN CAST(round(1e6 * n_tp / n_pred) AS BIGINT) ELSE 0 END AS precision_e6,
       CASE WHEN n_true > 0 THEN CAST(round(1e6 * n_tp / n_true) AS BIGINT) ELSE 0 END AS recall_e6,
       CASE WHEN n_true > 0 THEN CAST(round(1e6 * n_blocked / n_true) AS BIGINT) ELSE 0 END AS block_recall_e6
FROM counts
"""


