"""Sorted-neighborhood ER (Hernandez & Stolfo 1995): one, two, and
three sort passes with optional exact-equality refine (r8-r10).

Candidates are bounded by passes * n * (window-1) at ANY key
distribution -- the linear-budget alternative to key blocking once block
sizes grow Theta(n) at population density (SCALE.md's regime rule).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from changegen_spark.operators.fence import fence
from changegen_spark.operators.ids import prefix_sum
from changegen_spark.queries.er.blocking import (
    _FIRSTNAME,
    _LASTNAME,
    ER_PATH,
    LEV_MAX,
    _people,
    block_key_sql,
    phonetic_key_sql,
    with_block,
)

# --- sorted-neighborhood blocking (r8) ---------------------------------------

SN_WINDOW = 4  # each record compares against the next w-1 in sort order


def _sn_keyed(people: DataFrame) -> DataFrame:
    """(rec_id, nname, skey): the sorted-neighborhood sort key — blocking
    key, then normalized name, then a zero-padded rec_id so the total
    order is unambiguous and identical in both engines (string order on
    the raw numeric id would diverge).  Components are coalesced to ''
    (r8 advice): concat_ws silently SKIPS a NULL while the oracle's ||
    propagates it, so a NULL name/city would give the record a different
    global sort position per engine and break pair parity."""
    return with_block(people).select(
        "rec_id",
        "nname",
        F.concat_ws(
            "|",
            F.coalesce("block_key", F.lit("")),
            F.coalesce("nname", F.lit("")),
            F.lpad(F.col("rec_id").cast("string"), 12, "0"),
        ).alias("skey"),
    )


def _skey_rank(keyed: DataFrame) -> DataFrame:
    """(rec_id, nname, rank): global dense rank in skey order WITHOUT a
    single-partition window — ``operators/ids.prefix_sum`` (range
    partitions on skey concatenate to the global order; its fence keeps
    the SN pair set byte-stable run to run)."""
    return prefix_sum(keyed, ["skey"]).select(
        "rec_id", "nname", F.col("run").alias("rank")
    )


def _sn_ranked(people: DataFrame) -> DataFrame:
    """First-pass global rank: the ``_sn_keyed`` sort key."""
    return _skey_rank(_sn_keyed(people))


def er_pairs_sn(
    people: DataFrame, window: int = SN_WINDOW, refine_cols=()
) -> DataFrame:
    """(rec_a, rec_b, lev): sorted-neighborhood candidate generation
    (Hernández & Stolfo 1995) + the same Levenshtein refine as the
    blocked schemes.  Candidates are EXACTLY Σ min(window-1, n-rank) <
    n·(window-1) — linear by construction at ANY block-size
    distribution.  This is the fix the ER ladder's 1M rung prescribes:
    key-based blocking's block sizes are Θ(n) once the key vocabulary
    saturates (city at the third decade), while SN's candidate budget
    never depends on the key distribution — only its RECALL does (a
    true pair further than window-1 apart in sort order is lost; the
    eval decomposes exactly that).

    Scale shape: one range shuffle for the global order, a broadcast of
    per-partition counts, and a rank+d equi-join — no range/theta join,
    no single-partition stage.

    ``refine_cols``: extra exact-equality attributes checked in the
    REFINE (not the sort key) — they cut false matches (2.94M → 8.4k
    pairs at the 1M rung) and cannot reintroduce quadratic candidates
    (the window already bounded them).  They do NOT fix the density
    recall limit: at name saturation a true duplicate sits beyond the
    window behind same-name strangers (measured recall 0.016 vs key+
    city blocking's 0.634 at 1M — SCALE.md's regime rule); SN is the
    right scheme only while sort-adjacency still implies same-entity,
    which q_er_eval_sn's window ceiling measures."""
    return _window_pairs(_sn_ranked(people), people, window, list(refine_cols))


def _window_pairs(
    ranked: DataFrame, people: DataFrame, window: int, refine: list
) -> DataFrame:
    """rank+d equi-join over one SN pass's ranked frame: each record
    probes the next window-1 ranks, optional exact-equality ``refine``
    attributes filter the candidates, Levenshtein refines the survivors.
    Shared by the single-pass, multi-pass, and refined SN schemes."""
    if refine:
        ranked = ranked.join(people.select("rec_id", *refine), "rec_id")
    ranked = ranked.transform(fence, "_window_pairs ranked", eager=False)
    probes = ranked.select(
        F.col("rec_id").alias("id_a"),
        F.col("nname").alias("na"),
        *[F.col(c).alias(f"{c}_a") for c in refine],
        F.explode(
            F.sequence(F.col("rank") + 1, F.col("rank") + window - 1)
        ).alias("r2"),
    )
    b = ranked.select(
        F.col("rank").alias("r2"),
        F.col("rec_id").alias("id_b"),
        F.col("nname").alias("nb"),
        *[F.col(c).alias(f"{c}_b") for c in refine],
    )
    joined = probes.join(b, "r2")
    for c in refine:
        joined = joined.filter(F.col(f"{c}_a") == F.col(f"{c}_b"))
    return (
        joined.select(
            F.least("id_a", "id_b").alias("rec_a"),
            F.greatest("id_a", "id_b").alias("rec_b"),
            F.levenshtein("na", "nb").cast("long").alias("lev"),
        )
        .filter(F.col("lev") <= LEV_MAX)
    )


def q_er_pairs_sn(spark: SparkSession, sf_dir: str) -> DataFrame:
    return er_pairs_sn(_people(spark)).orderBy("rec_a", "rec_b")


def _sn_ranked2(people: DataFrame) -> DataFrame:
    """Second-pass global rank: CITY-FIRST sort key (city | block_key |
    name | id)."""
    keyed2 = with_block(people).join(
        people.select("rec_id", "city"), "rec_id"
    ).select(
        "rec_id",
        "nname",
        F.concat_ws(
            "|",
            F.coalesce("city", F.lit("")),
            F.coalesce("block_key", F.lit("")),
            F.coalesce("nname", F.lit("")),
            F.lpad(F.col("rec_id").cast("string"), 12, "0"),
        ).alias("skey"),
    )
    return _skey_rank(keyed2)


def er_pairs_sn_multi(
    people: DataFrame, window: int = SN_WINDOW, refine_cols=()
) -> DataFrame:
    """Multi-pass sorted neighborhood (the classical density fix): a
    second pass sorts CITY-FIRST (city | block_key | name | id), so a
    true duplicate hidden behind same-name strangers in the global name
    order becomes adjacent within its city's much smaller name
    neighborhood.  Union of both passes, distinct — candidates still ≤
    2·n·(w−1), linear.  Measured at the 1M rung: recall 0.016 (single
    pass) → 0.563 (two passes); see SCALE.md.

    ``refine_cols`` (r8 verdict #2) composes the two orthogonal fixes:
    multi-pass raises RECALL (more sort orders → more reachable true
    pairs), exact-equality refine raises PRECISION (a window candidate
    must also agree on the refine attributes before Levenshtein).  The
    production operating point is both — at the 1M rung city-refine
    lifts raw precision 0.030 → ≫0.03 at the same ~0.56 recall
    (duplicates share city by fixture construction; a real pipeline
    picks attributes with the same property)."""
    refine = list(refine_cols)
    p1 = _window_pairs(_sn_ranked(people), people, window, refine)
    p2 = _window_pairs(_sn_ranked2(people), people, window, refine)
    return p1.unionByName(p2).distinct()


def q_er_pairs_sn_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    return er_pairs_sn_multi(_people(spark)).orderBy("rec_a", "rec_b")


def q_er_eval_sn_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-pass SN linkage quality vs the planted truth: the window
    ceiling is now the UNION of the two sort orders (a true pair is
    reachable if it sits within window-1 positions in EITHER) — the
    ceiling the city-first pass exists to raise."""
    pred = er_pairs_sn_multi(_people(spark)).select("rec_a", "rec_b")
    return _sn_union_eval(spark, pred)


def _sn_union_eval(
    spark: SparkSession, pred: DataFrame, rankers=None
) -> DataFrame:
    """Quality of ``pred`` against the planted truth with the multi-pass
    union window ceiling (shared by the multi/refined/suffix SN evals —
    refine changes precision, never the reachable-pair ceiling).
    ``rankers`` is the list of sort-pass rank builders whose windows
    union into the ceiling (default: the two-pass name-first +
    city-first orders)."""
    if rankers is None:
        rankers = (_sn_ranked, _sn_ranked2)
    ppl = _people(spark).select("rec_id", "entity_id")
    rcols = []
    for i, ranked in enumerate(rankers, start=1):
        r = ranked(_people(spark)).select(
            "rec_id", F.col("rank").alias(f"r{i}")
        )
        ppl = ppl.join(r, "rec_id")
        rcols.append(f"r{i}")
    a = ppl.select(
        F.col("rec_id").alias("rec_a"),
        F.col("entity_id").alias("ea"),
        *[F.col(c).alias(f"{c}_a") for c in rcols],
    )
    b = ppl.select(
        F.col("rec_id").alias("rec_b"),
        F.col("entity_id").alias("eb"),
        *[F.col(c).alias(f"{c}_b") for c in rcols],
    )
    in_w = None
    for c in rcols:
        this = F.abs(F.col(f"{c}_a") - F.col(f"{c}_b")) <= SN_WINDOW - 1
        in_w = this if in_w is None else (in_w | this)
    true_pairs = a.join(b, [a.ea == b.eb, a.rec_a < b.rec_b]).select(
        "rec_a",
        "rec_b",
        in_w.alias("in_window"),
    )
    n_pred = pred.count()
    n_true = true_pairs.count()
    n_reach = true_pairs.filter("in_window").count()
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
                e6(n_reach, n_true),
            )
        ],
        "n_pred long, n_true long, n_tp long, precision_e6 long, "
        "recall_e6 long, window_recall_e6 long",
    )


_SN_SQL_BODY = f"""
snkeyed AS (
  SELECT rec_id, lower(name) AS nname,
         coalesce({block_key_sql(duck=True)}, '') || '|'
           || coalesce(lower(name), '') || '|'
           || lpad(CAST(rec_id AS VARCHAR), 12, '0') AS skey
  FROM '{ER_PATH}'
), snranked AS (
  SELECT rec_id, nname, row_number() OVER (ORDER BY skey) AS r FROM snkeyed
), sn_pairs AS (
  SELECT least(a.rec_id, b.rec_id) AS rec_a,
         greatest(a.rec_id, b.rec_id) AS rec_b,
         CAST(levenshtein(a.nname, b.nname) AS BIGINT) AS lev
  FROM snranked a JOIN snranked b
    ON b.r > a.r AND b.r <= a.r + {SN_WINDOW - 1}
  WHERE levenshtein(a.nname, b.nname) <= {LEV_MAX}
)
"""

Q_ER_PAIRS_SN_SQL = f"""
WITH {_SN_SQL_BODY}
SELECT rec_a, rec_b, lev FROM sn_pairs ORDER BY rec_a, rec_b
"""

Q_ER_PAIRS_SN_MULTI_SQL = f"""
WITH {_SN_SQL_BODY}
, snkeyed2 AS (
  SELECT rec_id, lower(name) AS nname,
         coalesce(city, '') || '|'
           || coalesce({block_key_sql(duck=True)}, '') || '|'
           || coalesce(lower(name), '')
           || '|' || lpad(CAST(rec_id AS VARCHAR), 12, '0') AS skey
  FROM '{ER_PATH}'
), snranked2 AS (
  SELECT rec_id, nname, row_number() OVER (ORDER BY skey) AS r FROM snkeyed2
), sn_pairs2 AS (
  SELECT least(a.rec_id, b.rec_id) AS rec_a,
         greatest(a.rec_id, b.rec_id) AS rec_b,
         CAST(levenshtein(a.nname, b.nname) AS BIGINT) AS lev
  FROM snranked2 a JOIN snranked2 b
    ON b.r > a.r AND b.r <= a.r + {SN_WINDOW - 1}
  WHERE levenshtein(a.nname, b.nname) <= {LEV_MAX}
)
SELECT DISTINCT rec_a, rec_b, lev FROM (
  SELECT * FROM sn_pairs UNION ALL SELECT * FROM sn_pairs2
) ORDER BY rec_a, rec_b
"""


def q_er_eval_sn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SN linkage quality vs the planted truth, with the recall ceiling
    decomposed the same way q_er_eval does for blocking:
    ``window_recall_e6`` = true pairs within window-1 positions in sort
    order — recall lost to the WINDOW vs lost to the refine threshold."""
    pred = er_pairs_sn(_people(spark)).select("rec_a", "rec_b")
    ranked = _sn_ranked(_people(spark))
    ppl = ranked.join(_people(spark).select("rec_id", "entity_id"), "rec_id")
    a = ppl.select(
        F.col("rec_id").alias("rec_a"),
        F.col("entity_id").alias("ea"),
        F.col("rank").alias("ra"),
    )
    b = ppl.select(
        F.col("rec_id").alias("rec_b"),
        F.col("entity_id").alias("eb"),
        F.col("rank").alias("rb"),
    )
    true_pairs = a.join(b, [a.ea == b.eb, a.rec_a < b.rec_b]).select(
        "rec_a",
        "rec_b",
        (F.abs(F.col("ra") - F.col("rb")) <= SN_WINDOW - 1).alias("in_window"),
    )
    n_pred = pred.count()
    n_true = true_pairs.count()
    n_reach = true_pairs.filter("in_window").count()
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
                e6(n_reach, n_true),
            )
        ],
        "n_pred long, n_true long, n_tp long, precision_e6 long, "
        "recall_e6 long, window_recall_e6 long",
    )


Q_ER_EVAL_SN_SQL = f"""
WITH {_SN_SQL_BODY}
, truth AS (
  SELECT a.rec_id AS rec_a, b.rec_id AS rec_b,
         abs(ra.r - rb.r) <= {SN_WINDOW - 1} AS in_window
  FROM '{ER_PATH}' a JOIN '{ER_PATH}' b
    ON a.entity_id = b.entity_id AND a.rec_id < b.rec_id
  JOIN snranked ra ON ra.rec_id = a.rec_id
  JOIN snranked rb ON rb.rec_id = b.rec_id
), counts AS (
  SELECT (SELECT count(*) FROM sn_pairs) AS n_pred,
         (SELECT count(*) FROM truth) AS n_true,
         (SELECT count(*) FROM truth WHERE in_window) AS n_reach,
         (SELECT count(*) FROM sn_pairs p JOIN truth t
            ON p.rec_a = t.rec_a AND p.rec_b = t.rec_b) AS n_tp
)
SELECT CAST(n_pred AS BIGINT) AS n_pred, CAST(n_true AS BIGINT) AS n_true,
       CAST(n_tp AS BIGINT) AS n_tp,
       CASE WHEN n_pred > 0 THEN CAST(round(1e6 * n_tp / n_pred) AS BIGINT) ELSE 0 END AS precision_e6,
       CASE WHEN n_true > 0 THEN CAST(round(1e6 * n_tp / n_true) AS BIGINT) ELSE 0 END AS recall_e6,
       CASE WHEN n_true > 0 THEN CAST(round(1e6 * n_reach / n_true) AS BIGINT) ELSE 0 END AS window_recall_e6
FROM counts
"""



Q_ER_EVAL_SN_MULTI_SQL = f"""
WITH {_SN_SQL_BODY}
, snkeyed2 AS (
  SELECT rec_id, lower(name) AS nname,
         coalesce(city, '') || '|'
           || coalesce({block_key_sql(duck=True)}, '') || '|'
           || coalesce(lower(name), '')
           || '|' || lpad(CAST(rec_id AS VARCHAR), 12, '0') AS skey
  FROM '{ER_PATH}'
), snranked2 AS (
  SELECT rec_id, nname, row_number() OVER (ORDER BY skey) AS r FROM snkeyed2
), sn_pairs2 AS (
  SELECT least(a.rec_id, b.rec_id) AS rec_a,
         greatest(a.rec_id, b.rec_id) AS rec_b,
         CAST(levenshtein(a.nname, b.nname) AS BIGINT) AS lev
  FROM snranked2 a JOIN snranked2 b
    ON b.r > a.r AND b.r <= a.r + {SN_WINDOW - 1}
  WHERE levenshtein(a.nname, b.nname) <= {LEV_MAX}
), pred AS (
  SELECT DISTINCT rec_a, rec_b FROM (
    SELECT rec_a, rec_b FROM sn_pairs UNION ALL SELECT rec_a, rec_b FROM sn_pairs2
  )
), truth AS (
  SELECT a.rec_id AS rec_a, b.rec_id AS rec_b,
         (abs(ra1.r - rb1.r) <= {SN_WINDOW - 1}
          OR abs(ra2.r - rb2.r) <= {SN_WINDOW - 1}) AS in_window
  FROM '{ER_PATH}' a JOIN '{ER_PATH}' b
    ON a.entity_id = b.entity_id AND a.rec_id < b.rec_id
  JOIN snranked ra1 ON ra1.rec_id = a.rec_id
  JOIN snranked rb1 ON rb1.rec_id = b.rec_id
  JOIN snranked2 ra2 ON ra2.rec_id = a.rec_id
  JOIN snranked2 rb2 ON rb2.rec_id = b.rec_id
), counts AS (
  SELECT (SELECT count(*) FROM pred) AS n_pred,
         (SELECT count(*) FROM truth) AS n_true,
         (SELECT count(*) FROM truth WHERE in_window) AS n_reach,
         (SELECT count(*) FROM pred p JOIN truth t
            ON p.rec_a = t.rec_a AND p.rec_b = t.rec_b) AS n_tp
)
SELECT CAST(n_pred AS BIGINT) AS n_pred, CAST(n_true AS BIGINT) AS n_true,
       CAST(n_tp AS BIGINT) AS n_tp,
       CASE WHEN n_pred > 0 THEN CAST(round(1e6 * n_tp / n_pred) AS BIGINT) ELSE 0 END AS precision_e6,
       CASE WHEN n_true > 0 THEN CAST(round(1e6 * n_tp / n_true) AS BIGINT) ELSE 0 END AS recall_e6,
       CASE WHEN n_true > 0 THEN CAST(round(1e6 * n_reach / n_true) AS BIGINT) ELSE 0 END AS window_recall_e6
FROM counts
"""

# --- multi-pass SN + attribute refine (r8 verdict #2) ------------------------

SN_REFINE_COLS = ("city",)


def q_er_pairs_sn_refined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production SN operating point: BOTH classical fixes composed —
    two sort passes for recall (a true pair adjacent in either order is
    reachable) and exact-equality city refine for precision (a window
    candidate must share city before Levenshtein).  Candidates stay ≤
    2·n·(w−1) — refine filters inside the already-linear window, so it
    cannot reintroduce quadratic cost at any key distribution."""
    return er_pairs_sn_multi(
        _people(spark), refine_cols=SN_REFINE_COLS
    ).orderBy("rec_a", "rec_b")


def q_er_eval_sn_refined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Refined multi-pass SN quality vs planted truth.  window_recall_e6
    is the same union-window ceiling as the unrefined eval (refine can
    only drop candidates); the fixture's duplicates share city, so
    recall_e6 must match the unrefined multi eval while precision_e6
    rises — the measured claim SCALE.md's 1M rung re-checks at density."""
    pred = er_pairs_sn_multi(
        _people(spark), refine_cols=SN_REFINE_COLS
    ).select("rec_a", "rec_b")
    return _sn_union_eval(spark, pred)


def _sn_refined_sql_body() -> str:
    bk = block_key_sql(duck=True)
    pair = """
  SELECT least(a.rec_id, b.rec_id) AS rec_a,
         greatest(a.rec_id, b.rec_id) AS rec_b,
         CAST(levenshtein(a.nname, b.nname) AS BIGINT) AS lev
  FROM {r} a JOIN {r} b
    ON b.r > a.r AND b.r <= a.r + {w} AND a.city = b.city
  WHERE levenshtein(a.nname, b.nname) <= {lv}"""
    return f"""
snkeyedr AS (
  SELECT rec_id, lower(name) AS nname, city,
         coalesce({bk}, '') || '|'
           || coalesce(lower(name), '') || '|'
           || lpad(CAST(rec_id AS VARCHAR), 12, '0') AS skey
  FROM '{ER_PATH}'
), snrankedr AS (
  SELECT rec_id, nname, city, row_number() OVER (ORDER BY skey) AS r
  FROM snkeyedr
), snkeyed2r AS (
  SELECT rec_id, lower(name) AS nname, city,
         coalesce(city, '') || '|'
           || coalesce({bk}, '') || '|'
           || coalesce(lower(name), '') || '|'
           || lpad(CAST(rec_id AS VARCHAR), 12, '0') AS skey
  FROM '{ER_PATH}'
), snranked2r AS (
  SELECT rec_id, nname, city, row_number() OVER (ORDER BY skey) AS r
  FROM snkeyed2r
), refined AS (
  SELECT DISTINCT rec_a, rec_b, lev FROM (
    {pair.format(r='snrankedr', w=SN_WINDOW - 1, lv=LEV_MAX)}
    UNION ALL
    {pair.format(r='snranked2r', w=SN_WINDOW - 1, lv=LEV_MAX)}
  )
)"""


Q_ER_PAIRS_SN_REFINED_SQL = f"""
WITH {_sn_refined_sql_body()}
SELECT rec_a, rec_b, lev FROM refined ORDER BY rec_a, rec_b
"""

Q_ER_EVAL_SN_REFINED_SQL = f"""
WITH {_sn_refined_sql_body()}
, truth AS (
  SELECT a.rec_id AS rec_a, b.rec_id AS rec_b,
         (abs(ra1.r - rb1.r) <= {SN_WINDOW - 1}
          OR abs(ra2.r - rb2.r) <= {SN_WINDOW - 1}) AS in_window
  FROM '{ER_PATH}' a JOIN '{ER_PATH}' b
    ON a.entity_id = b.entity_id AND a.rec_id < b.rec_id
  JOIN snrankedr ra1 ON ra1.rec_id = a.rec_id
  JOIN snrankedr rb1 ON rb1.rec_id = b.rec_id
  JOIN snranked2r ra2 ON ra2.rec_id = a.rec_id
  JOIN snranked2r rb2 ON rb2.rec_id = b.rec_id
), counts AS (
  SELECT (SELECT count(*) FROM refined) AS n_pred,
         (SELECT count(*) FROM truth) AS n_true,
         (SELECT count(*) FROM truth WHERE in_window) AS n_reach,
         (SELECT count(*) FROM refined p JOIN truth t
            ON p.rec_a = t.rec_a AND p.rec_b = t.rec_b) AS n_tp
)
SELECT CAST(n_pred AS BIGINT) AS n_pred, CAST(n_true AS BIGINT) AS n_true,
       CAST(n_tp AS BIGINT) AS n_tp,
       CASE WHEN n_pred > 0 THEN CAST(round(1e6 * n_tp / n_pred) AS BIGINT) ELSE 0 END AS precision_e6,
       CASE WHEN n_true > 0 THEN CAST(round(1e6 * n_tp / n_true) AS BIGINT) ELSE 0 END AS recall_e6,
       CASE WHEN n_true > 0 THEN CAST(round(1e6 * n_reach / n_true) AS BIGINT) ELSE 0 END AS window_recall_e6
FROM counts
"""


# --- third SN pass: last-name-suffix key (r9 verdict #7) ---------------------
#
# The 1M missed-pair taxonomy (tools/er_taxonomy.py; table in SCALE.md)
# shows the dominant recall loss of the two-pass composition is the
# generator's class-1 corruption — a substituted FIRST LETTER of the
# last name.  Both existing sort orders are prefixed by the phonetic
# block key, whose leading character IS that letter, so the true pair
# lands arbitrarily far apart in both orders: unreachable at any
# window.  The classical fix (Hernández & Stolfo: passes should use
# INDEPENDENTLY corruptible keys) is a third order keyed on what the
# corruption preserves — city, then the phonetic of the last name MINUS
# its first letter, then the first name: the corrupted pair differs
# only in rec_id under that key, so it sorts adjacent unless strangers
# share all three components.  Candidates stay ≤ 3·n·(w−1), still
# linear at any key distribution.

_SUFFIX_LAST = f"substr({_LASTNAME}, 2)"


def suffix_key_sql(duck: bool) -> str:
    """Third-pass key core: phonetic of the last name with its first
    letter dropped — invariant under the first-letter substitution that
    breaks ``block_key_sql`` (and under interior vowel swaps, which the
    phonetic already absorbs)."""
    return phonetic_key_sql(_SUFFIX_LAST, duck)


def _sn_ranked3(people: DataFrame) -> DataFrame:
    """Third-pass global rank: SUFFIX sort key (city | phonetic(last
    minus first letter) | first name | id)."""
    keyed3 = people.select(
        "rec_id",
        F.lower("name").alias("nname"),
        F.concat_ws(
            "|",
            F.coalesce("city", F.lit("")),
            F.coalesce(F.expr(suffix_key_sql(duck=False)), F.lit("")),
            F.coalesce(F.expr(f"lower({_FIRSTNAME})"), F.lit("")),
            F.lpad(F.col("rec_id").cast("string"), 12, "0"),
        ).alias("skey"),
    )
    return _skey_rank(keyed3)


def er_pairs_sn_suffix(
    people: DataFrame, window: int = SN_WINDOW, refine_cols=()
) -> DataFrame:
    """Three-pass sorted neighborhood: name-first + city-first + the
    suffix order, union, distinct — the pass set whose keys are
    pairwise independently corruptible for this fixture's three
    corruption classes.  Candidates ≤ 3·n·(w−1)."""
    refine = list(refine_cols)
    p1 = _window_pairs(_sn_ranked(people), people, window, refine)
    p2 = _window_pairs(_sn_ranked2(people), people, window, refine)
    p3 = _window_pairs(_sn_ranked3(people), people, window, refine)
    return p1.unionByName(p2).unionByName(p3).distinct()


def q_er_pairs_sn_suffix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The r10 production SN operating point: three sort passes for
    recall + city refine for precision."""
    return er_pairs_sn_suffix(
        _people(spark), refine_cols=SN_REFINE_COLS
    ).orderBy("rec_a", "rec_b")


def q_er_eval_sn_suffix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-pass refined SN quality vs planted truth; the window
    ceiling is the union over all THREE sort orders."""
    pred = er_pairs_sn_suffix(
        _people(spark), refine_cols=SN_REFINE_COLS
    ).select("rec_a", "rec_b")
    return _sn_union_eval(
        spark, pred, rankers=(_sn_ranked, _sn_ranked2, _sn_ranked3)
    )


def _sn_suffix_sql_body() -> str:
    bk = block_key_sql(duck=True)
    sk = suffix_key_sql(duck=True)
    first = _FIRSTNAME
    pair = """
  SELECT least(a.rec_id, b.rec_id) AS rec_a,
         greatest(a.rec_id, b.rec_id) AS rec_b,
         CAST(levenshtein(a.nname, b.nname) AS BIGINT) AS lev
  FROM {r} a JOIN {r} b
    ON b.r > a.r AND b.r <= a.r + {w} AND a.city = b.city
  WHERE levenshtein(a.nname, b.nname) <= {lv}"""
    return f"""
snkeyedr AS (
  SELECT rec_id, lower(name) AS nname, city,
         coalesce({bk}, '') || '|'
           || coalesce(lower(name), '') || '|'
           || lpad(CAST(rec_id AS VARCHAR), 12, '0') AS skey
  FROM '{ER_PATH}'
), snrankedr AS (
  SELECT rec_id, nname, city, row_number() OVER (ORDER BY skey) AS r
  FROM snkeyedr
), snkeyed2r AS (
  SELECT rec_id, lower(name) AS nname, city,
         coalesce(city, '') || '|'
           || coalesce({bk}, '') || '|'
           || coalesce(lower(name), '') || '|'
           || lpad(CAST(rec_id AS VARCHAR), 12, '0') AS skey
  FROM '{ER_PATH}'
), snranked2r AS (
  SELECT rec_id, nname, city, row_number() OVER (ORDER BY skey) AS r
  FROM snkeyed2r
), snkeyed3r AS (
  SELECT rec_id, lower(name) AS nname, city,
         coalesce(city, '') || '|'
           || coalesce({sk}, '') || '|'
           || coalesce(lower({first}), '') || '|'
           || lpad(CAST(rec_id AS VARCHAR), 12, '0') AS skey
  FROM '{ER_PATH}'
), snranked3r AS (
  SELECT rec_id, nname, city, row_number() OVER (ORDER BY skey) AS r
  FROM snkeyed3r
), refined3 AS (
  SELECT DISTINCT rec_a, rec_b, lev FROM (
    {pair.format(r='snrankedr', w=SN_WINDOW - 1, lv=LEV_MAX)}
    UNION ALL
    {pair.format(r='snranked2r', w=SN_WINDOW - 1, lv=LEV_MAX)}
    UNION ALL
    {pair.format(r='snranked3r', w=SN_WINDOW - 1, lv=LEV_MAX)}
  )
)"""


Q_ER_PAIRS_SN_SUFFIX_SQL = f"""
WITH {_sn_suffix_sql_body()}
SELECT rec_a, rec_b, lev FROM refined3 ORDER BY rec_a, rec_b
"""

Q_ER_EVAL_SN_SUFFIX_SQL = f"""
WITH {_sn_suffix_sql_body()}
, truth AS (
  SELECT a.rec_id AS rec_a, b.rec_id AS rec_b,
         (abs(ra1.r - rb1.r) <= {SN_WINDOW - 1}
          OR abs(ra2.r - rb2.r) <= {SN_WINDOW - 1}
          OR abs(ra3.r - rb3.r) <= {SN_WINDOW - 1}) AS in_window
  FROM '{ER_PATH}' a JOIN '{ER_PATH}' b
    ON a.entity_id = b.entity_id AND a.rec_id < b.rec_id
  JOIN snrankedr ra1 ON ra1.rec_id = a.rec_id
  JOIN snrankedr rb1 ON rb1.rec_id = b.rec_id
  JOIN snranked2r ra2 ON ra2.rec_id = a.rec_id
  JOIN snranked2r rb2 ON rb2.rec_id = b.rec_id
  JOIN snranked3r ra3 ON ra3.rec_id = a.rec_id
  JOIN snranked3r rb3 ON rb3.rec_id = b.rec_id
), counts AS (
  SELECT (SELECT count(*) FROM refined3) AS n_pred,
         (SELECT count(*) FROM truth) AS n_true,
         (SELECT count(*) FROM truth WHERE in_window) AS n_reach,
         (SELECT count(*) FROM refined3 p JOIN truth t
            ON p.rec_a = t.rec_a AND p.rec_b = t.rec_b) AS n_tp
)
SELECT CAST(n_pred AS BIGINT) AS n_pred, CAST(n_true AS BIGINT) AS n_true,
       CAST(n_tp AS BIGINT) AS n_tp,
       CASE WHEN n_pred > 0 THEN CAST(round(1e6 * n_tp / n_pred) AS BIGINT) ELSE 0 END AS precision_e6,
       CASE WHEN n_true > 0 THEN CAST(round(1e6 * n_tp / n_true) AS BIGINT) ELSE 0 END AS recall_e6,
       CASE WHEN n_true > 0 THEN CAST(round(1e6 * n_reach / n_true) AS BIGINT) ELSE 0 END AS window_recall_e6
FROM counts
"""


