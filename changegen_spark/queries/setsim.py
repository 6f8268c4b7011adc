"""Exact set-similarity self-join with prefix filtering (Bayardo et al.
2007 "Scaling Up All Pairs Similarity Search" / PPJoin family).

The EXACT counterpart of the approximate MinHash-LSH near-dup path
(queries/textops.py): find every document pair whose 5-char-shingle sets
have Jaccard >= {T_NUM}/{T_DEN}, with zero false negatives AND zero false
positives — the contract dedup audits need when LSH recall is not enough.

Prefix-filtering lemma: order every set by one global token order
(ascending document frequency, ties by token — rarest first) and take
each set's first ``n - ceil(t*n) + 1`` tokens as its prefix.  Any pair
with J >= t must overlap in at least ceil(t*max(na, nb)) tokens, which is
more than either set can fit outside its prefix — so every qualifying
pair shares >= 1 PREFIX token.  Candidates therefore come from an
equi-join on prefix tokens only, plus the exact size filter
(t*na <= nb <= na/t) riding the join condition; because prefixes hold
the RAREST tokens, the join lands on the low-frequency tail instead of
the hot head.

Honesty note on the ``documents`` fixture: the synthetic 30-word
vocabulary makes most document pairs genuinely near-identical, so
prefixes barely discriminate there (sf0.01 measured: 124,744 of 124,750
possible pairs share >= 1 shingle; 97k still share a prefix token; 25
true pairs at t=0.7).  That residual work is inherent to the data — on
web-scale text prefixes are rare and the candidate set collapses.  The
collapse is DEMONSTRATED (not argued) on the shipped diverse-vocabulary
fixture (tools/make_setsim.py): 26 candidates of 193,753 possible pairs
(0.013%), all 15 planted near-dup pairs recovered, oracle-verified via
``q_setsim_diverse`` (tests/test_setsim.py pins the collapse ratio).

Scale design: one shuffle to count token frequencies, one to build
per-doc ordered sets, a prefix-token equi-join, and a candidates-only
exact verification — Arrow-batched intersection over xxhash64 long
arrays.  Never all-pairs; the threshold comparison is integer
cross-multiplication, so the accept set is engine-exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from changegen_spark.operators.fence import fence
from changegen_spark.sources.tables import load_table

T_NUM, T_DEN = 7, 10  # Jaccard threshold t = 0.7 as an exact rational
SHINGLE_K = 5


def shingle_set_pandas(k: int):
    """Arrow-batched distinct char k-shingles (sorted): the same values as
    ``functions.hashing.char_shingles`` but built in one Python pass —
    the Catalyst substring-transform runs interpreted and was the
    dominant cost here (same measured finding as the MinHash and
    n-gram Arrow rewrites; see GAPS.md)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<string>")
    def shset(texts):
        out = []
        for t in texts:
            s = (t or "").lower()
            out.append(
                sorted({s[i : i + k] for i in range(len(s) - k + 1)})
                if len(s) >= k
                else [s]
            )
        return pd.Series(out)

    return shset


def ordered_shingle_sets(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, toks, n): per-doc shingle set as xxhash64 longs in global
    rarest-first (df, token) order, behind a single fence — the shared
    input of the prefix-candidate and verify stages."""
    sh = docs.select(
        F.col(id_col).alias("id"),
        F.explode(shingle_set_pandas(SHINGLE_K)(F.col(text_col))).alias("s"),
    )
    freq = sh.groupBy("s").agg(F.count("*").alias("df"))
    # per-doc set, ordered rarest-token-first by the global (df, token)
    # order.  Tokens are carried as xxhash64 LONGS from here on: the join
    # keys and the verify arrays ship 8 bytes per token instead of a
    # string (the verify stage moves |candidates| x 2 full sets — string
    # arrays measured 11 s vs ~3 s as longs at sf0.01).  64-bit hashes
    # over a shingle vocabulary are collision-free in practice (p ~ v²/2⁶⁵;
    # swap in the 128-bit md5 pair for a 10⁹-token vocabulary).
    sets = (
        sh.join(freq, "s")
        .groupBy("id")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("df", F.xxhash64("s").alias("h")))),
                lambda x: x["h"],
            ).alias("toks"),
            F.count("*").alias("n"),
        )
        # fence: 4 consumers (both prefix join sides + both verify sides)
        # would otherwise re-run the shingle UDF + frequency join + sort
        # aggregate 4x
        .transform(fence, "ordered_shingle_sets sets", eager=False)
    )
    return sets


def prefix_candidates(sets: DataFrame) -> DataFrame:
    """Candidate pairs (id_a < id_b) from the prefix-token equi-join with
    the exact size filter riding the condition — the pruning stage whose
    |candidates| ≪ all-pairs collapse the diverse-vocabulary fixture
    pins (tests/test_setsim.py)."""
    # prefix length n - ceil(t*n) + 1, ceil via integer arithmetic
    p = F.col("n") - F.expr(f"({T_NUM} * n + {T_DEN} - 1) div {T_DEN}") + F.lit(1)
    prefixes = sets.select(
        "id", "n", F.explode(F.slice("toks", 1, p)).alias("s")
    )
    # size filter (exact): J >= t forces t*na <= nb <= na/t — rides the
    # prefix join as an integer cross-multiplication predicate
    return (
        prefixes.alias("a")
        .join(
            prefixes.alias("b"),
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.id") < F.col("b.id"))
            & (F.lit(T_NUM) * F.col("a.n") <= F.lit(T_DEN) * F.col("b.n"))
            & (F.lit(T_NUM) * F.col("b.n") <= F.lit(T_DEN) * F.col("a.n")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def setsim_join(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """All pairs (id_a < id_b) with shingle-set Jaccard >= T_NUM/T_DEN:
    (id_a, id_b, n_inter, n_union, jaccard)."""
    sets = ordered_shingle_sets(docs, id_col, text_col)
    cand = prefix_candidates(sets)
    sa = sets.select(
        F.col("id").alias("id_a"), F.col("toks").alias("ta"), F.col("n").alias("na")
    )
    sb = sets.select(
        F.col("id").alias("id_b"), F.col("toks").alias("tb"), F.col("n").alias("nb")
    )
    # Arrow-batched intersection count: Catalyst's array_intersect runs
    # interpreted per pair (measured 20 s on 97k candidate pairs at
    # sf0.01 — this fixture's tiny vocabulary makes nearly every pair a
    # prefix candidate); Python frozenset intersection over Arrow batches
    # does the same work in ~1 s
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    import numpy as np

    @pandas_udf("int")
    def inter_count(a, b):
        return pd.Series(
            [
                np.intersect1d(x, y, assume_unique=True).size
                for x, y in zip(a, b)
            ],
            dtype="int32",
        )

    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("n_inter", inter_count(F.col("ta"), F.col("tb")).cast("long"))
        .withColumn("n_union", F.col("na") + F.col("nb") - F.col("n_inter"))
        # J >= t  ⟺  inter/union >= T_NUM/T_DEN  ⟺  T_DEN*inter >= T_NUM*union
        .filter(F.lit(T_DEN) * F.col("n_inter") >= F.lit(T_NUM) * F.col("n_union"))
        .select(
            "id_a",
            "id_b",
            "n_inter",
            "n_union",
            F.round(F.col("n_inter") / F.col("n_union"), 6).alias("jaccard"),
        )
    )


def q_setsim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard >= 0.7 shingle-set pairs over the ``doc_id % 2 = 0``
    slice (6 qualifying pairs at sf0.01) (same deterministic-subset idiom as q_jaccard_pairs).

    Why a slice: this fixture's 30-word vocabulary is ADVERSARIAL for any
    exact similarity join — at sf0.1, 9.66M of 12.5M possible pairs share
    prefix tokens because most documents genuinely overlap in most of
    their shingles, so the verify stage's work is inherent to the data,
    not to the algorithm (web-scale text has discriminative prefixes).
    The operator itself (``setsim_join``) takes the full frame."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 2 == 0)
    return setsim_join(docs, "doc_id", "text").orderBy("id_a", "id_b")


# The oracle verifies through a structurally DIFFERENT exact algorithm —
# the unpruned shared-shingle join — so a green row proves the prefix
# filter dropped no qualifying pair.
Q_SETSIM_SQL = f"""
WITH docs AS (
  SELECT * FROM documents WHERE doc_id % 2 = 0
), pos AS (
  SELECT doc_id, lower(text) AS lt,
         unnest(generate_series(1, length(text) - {SHINGLE_K - 1})) AS i
  FROM docs WHERE length(text) >= {SHINGLE_K}
), sh AS (
  SELECT DISTINCT doc_id, substr(lt, CAST(i AS INT), {SHINGLE_K}) AS s FROM pos
  UNION
  SELECT doc_id, lower(text) FROM docs WHERE length(text) < {SHINGLE_K}
), sizes AS (
  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, n_inter,
       na.n + nb.n - n_inter AS n_union,
       round(CAST(n_inter AS DOUBLE) / (na.n + nb.n - n_inter), 6) AS jaccard
FROM inter
JOIN sizes na ON id_a = na.doc_id
JOIN sizes nb ON id_b = nb.doc_id
WHERE {T_DEN} * n_inter >= {T_NUM} * (na.n + nb.n - n_inter)
ORDER BY id_a, id_b
"""


# --- edit-distance <= 1 vocabulary join (deletion-neighborhood blocking) ------


TYPO_MAX_DIST = 2


def deletion_neighborhood_pandas(k: int):
    """Arrow-batched FastSS deletion neighborhood: every string reachable
    by deleting up to ``k`` characters (the string itself included),
    sorted.  The vocabulary frame is kilobytes, so Python set-building
    beats wrestling Spark's descending-``sequence`` guard through three
    nested higher-order functions."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<string>")
    def dels(words):
        def grow(s):
            return {w[:i] + w[i + 1 :] for w in s for i in range(len(w))}

        out = []
        for w in words:
            acc, frontier = {w}, {w}
            for _ in range(k):
                frontier = grow(frontier)
                acc |= frontier
            out.append(sorted(acc))
        return pd.Series(out)

    return dels


def q_typo_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All DISTINCT corpus-token pairs within Levenshtein distance
    {TYPO_MAX_DIST} — the typo-clustering / vocabulary-normalization pass
    of a text pipeline, exact, via FastSS deletion-neighborhood blocking
    (Bocek et al. 2007).

    Key fact: if ed(a, b) <= k, deleting the differing positions from
    each side lands on a common member of their k-deletion
    neighborhoods — so candidates come from an equi-join on neighborhood
    keys with NO false negatives; a Levenshtein verify removes the
    false positives the blocking admits.

    Scale: the vocabulary (distinct tokens) is already tiny relative to
    the corpus (one groupBy); deletion keys multiply it by ~len^k/k! —
    all map-side; the join is an equi-join.  The ORACLE brute-forces all
    vocabulary pairs with DuckDB's built-in levenshtein — a structurally
    different exact algorithm, so a green row proves the blocking
    admitted no misses."""
    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        docs.select(
            F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("w")
        )
        .filter(F.length("w") >= 2)
        .distinct()
    )
    dels = vocab.select(
        "w",
        F.explode(deletion_neighborhood_pandas(TYPO_MAX_DIST)(F.col("w"))).alias("k"),
    ).distinct()
    cand = (
        dels.alias("a")
        .join(
            dels.alias("b"),
            (F.col("a.k") == F.col("b.k")) & (F.col("a.w") < F.col("b.w")),
        )
        .select(F.col("a.w").alias("w1"), F.col("b.w").alias("w2"))
        .distinct()
    )
    return (
        cand.withColumn("dist", F.levenshtein("w1", "w2"))
        .filter(F.col("dist") <= TYPO_MAX_DIST)
        .orderBy("w1", "w2")
    )


Q_TYPO_PAIRS_SQL = f"""
WITH vocab AS (
  SELECT DISTINCT w
  FROM (SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
        FROM documents)
  WHERE length(w) >= 2
)
SELECT a.w AS w1, b.w AS w2, CAST(levenshtein(a.w, b.w) AS INT) AS dist
FROM vocab a JOIN vocab b
  ON a.w < b.w AND abs(length(a.w) - length(b.w)) <= {TYPO_MAX_DIST}
     AND levenshtein(a.w, b.w) <= {TYPO_MAX_DIST}
ORDER BY w1, w2
"""


# --- diverse-vocabulary fixture: the prefix filter's headline case ------------

import os as _os

SETSIM_FIXTURE = _os.path.abspath(
    _os.path.join(
        _os.path.dirname(__file__), "..", "..", "fixtures", "setsim_docs.parquet"
    )
)


def q_setsim_diverse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same exact join over the shipped diverse-vocabulary fixture
    (tools/make_setsim.py: 623 docs, 4,000-word Zipf vocabulary, 15
    planted near-dup pairs + 1 borderline pair at J = 0.7064).  Unlike the
    30-word ``documents`` table, prefixes DISCRIMINATE here — the
    candidate set collapses to well under 1% of all-pairs (pinned in
    tests/test_setsim.py) while the oracle's unpruned shared-shingle join
    proves zero false negatives.  ``sf_dir`` is unused: the fixture is
    versioned with the repo, the same on every scale factor."""
    docs = spark.read.parquet(SETSIM_FIXTURE)
    return setsim_join(docs, "doc_id", "text").orderBy("id_a", "id_b")


Q_SETSIM_DIVERSE_SQL = f"""
WITH docs AS (
  SELECT * FROM '{SETSIM_FIXTURE}'
), pos AS (
  SELECT doc_id, lower(text) AS lt,
         unnest(generate_series(1, length(text) - {SHINGLE_K - 1})) AS i
  FROM docs WHERE length(text) >= {SHINGLE_K}
), sh AS (
  SELECT DISTINCT doc_id, substr(lt, CAST(i AS INT), {SHINGLE_K}) AS s FROM pos
  UNION
  SELECT doc_id, lower(text) FROM docs WHERE length(text) < {SHINGLE_K}
), sizes AS (
  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, n_inter,
       na.n + nb.n - n_inter AS n_union,
       round(CAST(n_inter AS DOUBLE) / (na.n + nb.n - n_inter), 6) AS jaccard
FROM inter
JOIN sizes na ON id_a = na.doc_id
JOIN sizes nb ON id_b = nb.doc_id
WHERE {T_DEN} * n_inter >= {T_NUM} * (na.n + nb.n - n_inter)
ORDER BY id_a, id_b
"""


QUERIES = {
    "q_setsim_join": q_setsim_join,
    "q_setsim_diverse": q_setsim_diverse,
    "q_typo_pairs": q_typo_pairs,
}
ORACLES = {
    "q_setsim_join": Q_SETSIM_SQL,
    "q_setsim_diverse": Q_SETSIM_DIVERSE_SQL,
    "q_typo_pairs": Q_TYPO_PAIRS_SQL,
}
