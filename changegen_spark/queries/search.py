"""BM25 ranked retrieval over the documents table.

The lexical-search complement of the vector/ANN family (queries/vectors.py):
score every document against a fixed keyword query with Okapi BM25 and
return the top-k.  This is the retrieval shape a training-data pipeline
uses for targeted corpus slicing ("pull the docs about X") and for
hard-negative mining next to embedding search.

Determinism: BM25 term scores are doubles, and a per-document SUM of
doubles is shuffle-order-dependent in the last ulp — so each term's score
is scaled to an e9 integer FIRST (``CAST(round(s * 1e9) AS BIGINT)``) and
the per-document total is an exact integer sum (the registry's
scaled-integer discipline).  idf/tf inputs are exact counts, avgdl the
ratio of two exact integers, so every engine computes bit-identical term
scores before rounding.

Scale design (100 TB corpus, 1000 executors):

* One tokenize pass; the explode is filtered to the query terms BEFORE
  any shuffle (an in-set predicate on a handful of literals — Catalyst
  pushes it into the generate), so the per-term frequency aggregation
  shuffles only rows mentioning query terms, a vanishing fraction of the
  corpus.
* Document frequencies and corpus stats (N, avgdl) aggregate to a
  literally tiny frame that broadcasts back onto the per-doc scores —
  no corpus-sized join side anywhere.
* Top-k is a ``LIMIT`` over a total order (score desc, doc_id), which
  Spark executes as per-partition top-k + a single-reducer merge of k
  rows per partition — never a global sort of the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from changegen_spark.operators.fence import fence
from changegen_spark.queries.mlprep import _toks
from changegen_spark.sources.tables import load_table

BM25_TERMS = ("spark", "join", "fast")
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 20


def bm25_scored(spark: SparkSession, sf_dir: str, topk: int) -> DataFrame:
    """Okapi BM25 top-``topk`` against the fixed query ``BM25_TERMS``:
    score = sum_t idf(t) * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))
    with the Robertson-Sparck Jones idf ``ln(1 + (N - df + 0.5)/(df + 0.5))``.

    Output: (doc_id, n_terms_hit, score_e9) — score in e9 fixed-point,
    ties broken by doc_id ascending.
    """
    docs = load_table(spark, sf_dir, "documents")
    terms = list(BM25_TERMS)
    toks = _toks(F.col("text"))
    # ONE corpus scan + tokenize for everything downstream: lens, corpus
    # stats and the tf explode all read the fenced (doc_id, dl, matched
    # tokens) frame — without the fence each consumer re-scanned and
    # re-tokenized the corpus (3 passes; guide §2.4/§6.2).  The matched-
    # token filter runs BEFORE the explode, so only query-term hits fan
    # out, and the fenced payload is two longs + the (tiny) hit list
    # per document, never the text.
    base = docs.select(
        "doc_id",
        F.size(toks).alias("dl"),
        F.filter(toks, lambda x: x.isin(*terms)).alias("mt"),
    ).transform(fence, "bm25_scored base", eager=False)
    lens = base.select("doc_id", "dl")
    stats = lens.agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("sum_dl")
    )
    tf = (
        base.select("doc_id", F.explode("mt").alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("tf"))
    )
    df_ = tf.groupBy("w").agg(F.count("*").alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    norm = F.lit(BM25_K1) * (
        F.lit(1.0 - BM25_B)
        + F.lit(BM25_B) * F.col("dl") / (F.col("sum_dl") / F.col("n_docs"))
    )
    term_score = idf * (F.col("tf") * F.lit(BM25_K1 + 1.0)) / (F.col("tf") + norm)
    return (
        tf.join(F.broadcast(df_), "w")
        .join(lens, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.round(term_score * 1e9).cast("long").alias("s_e9"),
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_terms_hit"),
            F.sum("s_e9").alias("score_e9"),
        )
        .orderBy(F.desc("score_e9"), "doc_id")
        .limit(topk)
    )


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{BM25_TOPK} BM25 documents (see ``bm25_scored``)."""
    return bm25_scored(spark, sf_dir, BM25_TOPK)


_TERMS_SQL = ", ".join(f"'{t}'" for t in BM25_TERMS)

def _bm25_sql(topk: int) -> str:
    return f"""
WITH lens AS (
  SELECT doc_id, len(string_split_regex(trim(text), '\\s+')) AS dl
  FROM documents
), stats AS (
  SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM lens
), tf AS (
  SELECT doc_id, w, count(*) AS tf
  FROM (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w
        FROM documents)
  WHERE w IN ({_TERMS_SQL})
  GROUP BY doc_id, w
), dfr AS (
  SELECT w, count(*) AS df FROM tf GROUP BY w
), scored AS (
  SELECT tf.doc_id,
         CAST(round(
           ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
           * (tf * {BM25_K1 + 1.0})
           / (tf + {BM25_K1} * ({1.0 - BM25_B} + {BM25_B} * dl
                                / (sum_dl * 1.0 / n_docs)))
           * 1e9) AS BIGINT) AS s_e9
  FROM tf
  JOIN dfr USING (w)
  JOIN lens ON tf.doc_id = lens.doc_id
  CROSS JOIN stats
)
SELECT doc_id, count(*) AS n_terms_hit, CAST(sum(s_e9) AS BIGINT) AS score_e9
FROM scored
GROUP BY doc_id
ORDER BY score_e9 DESC, doc_id
LIMIT {topk}
"""


Q_BM25_SQL = _bm25_sql(BM25_TOPK)


RRF_K = 60  # the standard reciprocal-rank-fusion constant (Cormack et al.)
HYBRID_POOL = 50  # per-retriever candidate pool
HYBRID_QUERY_VEC = 0  # query = vec 0's embedding (deterministic fixture)


def q_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 lexical top-{HYBRID_POOL} fused with
    cosine-similarity vector top-{HYBRID_POOL} by reciprocal-rank fusion
    ``rrf(d) = Σ_lists 1/(RRF_K + rank_list(d))``, top-20 out.
    ``vec_id`` is the embedding id of document ``doc_id`` (aligned synthetic
    fixture); the vector query is embedding {HYBRID_QUERY_VEC}.

    Determinism: ranks are exact integers with total tie-break orders;
    each reciprocal term is e9-scaled and rounded BEFORE the integer sum,
    so fusion scores are engine-exact.

    Scale shape: the two candidate lists are top-k results (tiny) — the
    fusion join is broadcast-sized regardless of corpus size; each
    retriever keeps its own scale story (BM25: pre-shuffle term filter;
    vectors: brute-force here, swap in the LSH/IVF/PQ variants from
    queries/vectors.py for the 100 TB path — fusion is agnostic to how
    the lists were produced)."""
    from pyspark.sql import Window

    from changegen_spark.functions.similarity import as_double, cosine

    # both pools arrive already LIMIT-ed (per-partition top-k + k-row
    # merge), so the global row_number windows below run over <= POOL rows
    # — rank assignment on a k-sized frame, never on the corpus
    lex = bm25_scored(spark, sf_dir, HYBRID_POOL)
    wl = Window.orderBy(F.desc("score_e9"), F.asc("doc_id"))
    lex_ranked = lex.withColumn("rank_lex", F.row_number().over(wl)).select(
        "doc_id", "rank_lex"
    )

    vecs = load_table(spark, sf_dir, "embeddings")
    qv = vecs.filter(F.col("vec_id") == HYBRID_QUERY_VEC).select(
        F.col("embedding").alias("q_emb")
    )
    sims = (
        vecs.filter(F.col("vec_id") != HYBRID_QUERY_VEC)
        .crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(
                cosine(as_double(F.col("embedding")), as_double(F.col("q_emb"))), 6
            ).alias("cos_sim"),
        )
    )
    pool = sims.orderBy(F.desc("cos_sim"), F.asc("doc_id")).limit(HYBRID_POOL)
    wv = Window.orderBy(F.desc("cos_sim"), F.asc("doc_id"))
    vec_ranked = pool.withColumn("rank_vec", F.row_number().over(wv)).select(
        "doc_id", "rank_vec"
    )

    rrf = lambda r: F.when(  # noqa: E731
        r.isNotNull(), F.round(F.lit(1e9) / (F.lit(RRF_K) + r)).cast("long")
    ).otherwise(F.lit(0))
    return (
        lex_ranked.join(vec_ranked, "doc_id", "full_outer")
        .select(
            "doc_id",
            "rank_lex",
            "rank_vec",
            (rrf(F.col("rank_lex")) + rrf(F.col("rank_vec"))).alias("rrf_e9"),
        )
        .orderBy(F.desc("rrf_e9"), "doc_id")
        .limit(20)
    )


Q_HYBRID_SQL = f"""
WITH lex_pool AS (
{_bm25_sql(HYBRID_POOL).strip()}
), lex AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY score_e9 DESC, doc_id) AS INT)
           AS rank_lex
  FROM lex_pool
), v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
), qv AS (
  SELECT e AS qe FROM v WHERE vec_id = {HYBRID_QUERY_VEC}
), sims AS (
  SELECT v.vec_id AS doc_id,
         round(list_dot_product(qe, e)
               / (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(e, e))),
               6) AS cos_sim
  FROM v CROSS JOIN qv WHERE v.vec_id != {HYBRID_QUERY_VEC}
), vec AS (
  SELECT doc_id, rank_vec FROM (
    SELECT doc_id,
           CAST(row_number() OVER (ORDER BY cos_sim DESC, doc_id) AS INT)
             AS rank_vec
    FROM sims
  ) WHERE rank_vec <= {HYBRID_POOL}
)
SELECT coalesce(lex.doc_id, vec.doc_id) AS doc_id, rank_lex, rank_vec,
       CAST(coalesce(CAST(round(1e9 / ({RRF_K} + rank_lex)) AS BIGINT), 0)
          + coalesce(CAST(round(1e9 / ({RRF_K} + rank_vec)) AS BIGINT), 0)
          AS BIGINT) AS rrf_e9
FROM lex FULL OUTER JOIN vec ON lex.doc_id = vec.doc_id
ORDER BY rrf_e9 DESC, doc_id
LIMIT 20
"""


PHRASE = ("slow", "hash", "batch")  # 8 occurrences / 5 docs at sf0.01


def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-phrase retrieval via positional matching: documents containing
    the consecutive token sequence ``PHRASE``, with occurrence count and
    first match position (1-based).

    The search-engine primitive BM25 cannot express (quoted queries); on a
    positional inverted index it is a postings intersection with offset
    shifts.  The Spark plan does exactly that intersection *inside the
    token array* with higher-order functions — per term, the positions
    array; shift term i's positions by -i; ``array_intersect`` across
    terms — so the whole query is MAP-ONLY: no explode, no shuffle, no
    join.  At 100 TB that means phrase search costs one scan of the text
    column, embarrassingly parallel, with the token-in-set prefilter
    effectively pushed into the row pass (docs missing any term produce
    empty arrays and are dropped by the n_matches > 0 filter).

    The DuckDB oracle takes the opposite, relational route — positional
    explode + 3-way self-join on (doc, pos+offset) — so the two engines
    cross-check each other's formulation of the same semantics.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = _toks(F.col("text"))
    indexed = F.transform(
        toks, lambda t, i: F.struct(t.alias("t"), (i + 1).alias("p"))
    )

    def positions(word: str, shift: int) -> F.Column:
        hits = F.filter(indexed, lambda s: s["t"] == F.lit(word))
        return F.transform(hits, lambda s: s["p"] - F.lit(shift))

    m = positions(PHRASE[0], 0)
    for j, w in enumerate(PHRASE[1:], start=1):
        m = F.array_intersect(m, positions(w, j))
    return (
        docs.select(
            "doc_id",
            F.size(m).alias("n_matches"),
            F.array_min(m).alias("first_pos"),
        )
        .filter(F.col("n_matches") > 0)
        .orderBy("doc_id")
    )


Q_PHRASE_SQL = f"""
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents
), p AS (
  SELECT doc_id, unnest(toks) AS w, generate_subscripts(toks, 1) AS pos FROM t
), m AS (
  SELECT a.doc_id, a.pos
  FROM p a
  JOIN p b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1 AND b.w = '{PHRASE[1]}'
  JOIN p c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2 AND c.w = '{PHRASE[2]}'
  WHERE a.w = '{PHRASE[0]}'
)
SELECT doc_id, count(*) AS n_matches, min(pos) AS first_pos
FROM m GROUP BY doc_id ORDER BY doc_id
"""


# --- parametric batched BM25 (r10) --------------------------------------------

# The multi-query workload: a (query_id, term) table.  Literal here so the
# DuckDB oracle can carry the identical VALUES list; a production corpus
# slicer would load thousands of these from a queries table — the plan
# below is invariant to that swap (the term table is broadcast either way).
BM25_MULTI = (
    (1, ("spark", "join", "fast")),   # the q_bm25_search query — cross-check
    (2, ("hash", "batch")),
    (3, ("scan", "filter", "sort")),
    (4, ("stream", "window")),
    (5, ("dup", "merge")),            # rare term: idf contrast
    (6, ("vector", "query", "table")),
    (7, ("group", "order")),
    (8, ("customer", "line", "part")),
)
BM25_MULTI_TOPK = 10


def bm25_multi_scored(
    spark: SparkSession, sf_dir: str, queries, topk: int
) -> DataFrame:
    """Batched Okapi BM25: every query in ``queries`` scored in ONE pass
    over the corpus (r9 verdict #4 — `bm25_scored` hardcodes 3 literal
    terms; a corpus-slicing pipeline runs thousands of queries at once).

    Output: (query_id, doc_id, rank, n_terms_hit, score_e9) — per-query
    top-``topk``, rank 1-based by (score desc, doc_id).

    Scale shape (the reason this beats queries × corpus loops):

    * ONE tokenize+explode pass regardless of query count.  The exploded
      tokens are broadcast-semi-joined against the DISTINCT term set
      (map-side, no shuffle) before the tf aggregation, so only rows
      mentioning ANY query's terms shuffle — wall tracks matched
      postings, not n_queries × corpus (measured: tools/ladders.py
      bm25 ladder, 8→32 queries over the same vocabulary is flat;
      wall moves only when the matched-postings count moves).
    * Term scores are computed once per (doc, term) and fanned out to
      queries by a broadcast join on the (query_id, term) table — the
      idf/tf math is never repeated per query.
    * Per-query top-k is row_number over partitionBy(query_id): the
      shuffle carries only (query, doc) score rows for matching docs,
      and each partition ranks one query's candidates.  No global sort.

    Determinism: s_e9 is rounded per (doc, term) BEFORE the fan-out and
    the per-(query, doc) sum, so both engines add identical integers in
    any order; rank's order key (score_e9 desc, doc_id) is total.
    """
    from pyspark.sql import Window

    per_q = bm25_multi_per_query(spark, sf_dir, queries)
    wq = Window.partitionBy("query_id").orderBy(F.desc("score_e9"), "doc_id")
    return (
        per_q.withColumn("rank", F.row_number().over(wq).cast("long"))
        .filter(F.col("rank") <= topk)
        .select("query_id", "doc_id", "rank", "n_terms_hit", "score_e9")
        .orderBy("query_id", "rank")
    )


def bm25_multi_per_query(
    spark: SparkSession, sf_dir: str, queries
) -> DataFrame:
    """The pre-top-k (query_id, doc_id, n_terms_hit, score_e9) frame of
    ``bm25_multi_scored`` — factored out so tools/ladders.py's bm25 ladder can
    measure the FAN-OUT volume (rows here = Σ_q matched docs of q, the
    quantity that actually grows with query count; the corpus-side tf
    pass is query-count-invariant)."""
    docs = load_table(spark, sf_dir, "documents")
    terms = sorted({t for _, ts in queries for t in ts})
    toks = _toks(F.col("text"))
    # Same one-pass shape as bm25_scored: a single fenced scan+tokenize
    # yields dl AND the matched-token list; lens, stats and tf no longer
    # re-read the corpus (3 scans -> 1, guide §2.4/§6.2).  The literal
    # isin prunes to query-term hits BEFORE the explode, replacing the
    # explode-then-broadcast-semi-join (same rows, no Generate fan-out
    # of unmatched tokens).  Interleaved A/B min-of-4: 3.76 -> 3.07 s.
    base = docs.select(
        "doc_id",
        F.size(toks).alias("dl"),
        F.filter(toks, lambda x: x.isin(*terms)).alias("mt"),
    ).transform(fence, "bm25_multi_per_query base", eager=False)
    lens = base.select("doc_id", "dl")
    stats = lens.agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("sum_dl")
    )
    qterms = spark.createDataFrame(
        [(qid, t) for qid, ts in queries for t in ts],
        "query_id long, w string",
    )
    tf = (
        base.select("doc_id", F.explode("mt").alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("tf"))
    )
    df_ = tf.groupBy("w").agg(F.count("*").alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    norm = F.lit(BM25_K1) * (
        F.lit(1.0 - BM25_B)
        + F.lit(BM25_B) * F.col("dl") / (F.col("sum_dl") / F.col("n_docs"))
    )
    term_score = (
        idf * (F.col("tf") * F.lit(BM25_K1 + 1.0)) / (F.col("tf") + norm)
    )
    scored = (
        tf.join(F.broadcast(df_), "w")
        .join(lens, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            "w",
            F.round(term_score * 1e9).cast("long").alias("s_e9"),
        )
    )
    return (
        scored.join(F.broadcast(qterms), "w")
        .groupBy("query_id", "doc_id")
        .agg(
            F.count("*").alias("n_terms_hit"),
            F.sum("s_e9").alias("score_e9"),
        )
    )


def q_bm25_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query BM25 top-{BM25_MULTI_TOPK} for the {len(BM25_MULTI)}-query
    batch ``BM25_MULTI`` (see ``bm25_multi_scored``)."""
    return bm25_multi_scored(spark, sf_dir, BM25_MULTI, BM25_MULTI_TOPK)


def _bm25_multi_sql() -> str:
    q_rows = ", ".join(
        f"({qid}, '{t}')" for qid, ts in BM25_MULTI for t in ts
    )
    return f"""
WITH q(query_id, w) AS (VALUES {q_rows}
), lens AS (
  SELECT doc_id, len(string_split_regex(trim(text), '\\s+')) AS dl
  FROM documents
), stats AS (
  SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM lens
), tf AS (
  SELECT doc_id, w, count(*) AS tf
  FROM (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w
        FROM documents)
  WHERE w IN (SELECT w FROM q)
  GROUP BY doc_id, w
), dfr AS (
  SELECT w, count(*) AS df FROM tf GROUP BY w
), scored AS (
  SELECT tf.doc_id, tf.w,
         CAST(round(
           ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
           * (tf * {BM25_K1 + 1.0})
           / (tf + {BM25_K1} * ({1.0 - BM25_B} + {BM25_B} * dl
                                / (sum_dl * 1.0 / n_docs)))
           * 1e9) AS BIGINT) AS s_e9
  FROM tf
  JOIN dfr USING (w)
  JOIN lens ON tf.doc_id = lens.doc_id
  CROSS JOIN stats
), perq AS (
  SELECT q.query_id, s.doc_id,
         CAST(count(*) AS BIGINT) AS n_terms_hit,
         CAST(sum(s_e9) AS BIGINT) AS score_e9
  FROM scored s JOIN q USING (w)
  GROUP BY q.query_id, s.doc_id
), ranked AS (
  SELECT query_id, doc_id,
         CAST(row_number() OVER (
           PARTITION BY query_id ORDER BY score_e9 DESC, doc_id
         ) AS BIGINT) AS rank,
         n_terms_hit, score_e9
  FROM perq
)
SELECT query_id, doc_id, rank, n_terms_hit, score_e9
FROM ranked WHERE rank <= {BM25_MULTI_TOPK}
ORDER BY query_id, rank
"""


Q_BM25_MULTI_SQL = _bm25_multi_sql()


# --- ranking-quality eval (r9) ------------------------------------------------

NDCG_K = 10
# round(1e6 / log2(rank + 1)) for rank 1..10 — the graded-nDCG position
# discounts as integer literals, identical in both engines by construction
# (the only transcendental is evaluated ONCE, here, at module load)
_DISC_E6 = (
    1_000_000, 630_930, 500_000, 430_677, 386_853,
    356_207, 333_333, 315_465, 301_030, 289_065,
)


def q_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-quality metrics for the BM25 ranking — graded nDCG@10,
    MRR and precision@10 — against coordination-grade relevance:
    rel(doc) = number of distinct query terms present (1..3; the graded
    qrel a lexical pipeline gets for free, and a real diagnostic: BM25
    weights idf·tf, NOT coordination, so a doc carrying two rare terms
    can outrank an all-terms doc — nDCG measures exactly how far the
    ranking is from grade-ideal, MRR/P@10 how fast/densely the
    full-coordination (grade-3) docs surface).

    Integer discipline: gain = 2^rel − 1 (shiftleft, exact), position
    discounts are the _DISC_E6 literal table, DCG/IDCG are integer
    sums, ndcg_e6 = DCG·1e6 div IDCG (guarded), mrr3_e6 = 1e6 div
    first-grade-3 rank.  Scale: the corpus-sized work is the same
    filtered-explode tf pass BM25 itself runs; everything after it is
    a ≤K-row frame (the ranked top-10, the ideal top-10) — the two
    single-partition windows run over 10 rows, the k-means-centroid
    bounded-artifact pattern."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    terms = list(BM25_TERMS)
    # grades feed the ranked join, the ideal top-k and mrr
    grades = (
        docs.select("doc_id", F.explode(_toks(F.col("text"))).alias("w"))
        .filter(F.col("w").isin(terms))
        .groupBy("doc_id")
        .agg(F.countDistinct("w").cast("long").alias("rel"))
        .transform(fence, "q_retrieval_eval grades", eager=False)
    )
    disc = spark.createDataFrame(
        [(i + 1, _DISC_E6[i]) for i in range(NDCG_K)],
        "rank long, disc_e6 long",
    )
    # PySpark's shiftleft() helper takes only a literal bit count; the
    # SQL form accepts a column expression in both engines
    gain = F.expr("shiftleft(1, cast(rel as int)) - 1")

    ranked = (
        bm25_scored(spark, sf_dir, NDCG_K)
        .withColumn(
            "rank",
            F.row_number()
            .over(Window.orderBy(F.desc("score_e9"), "doc_id"))
            .cast("long"),
        )
        .join(grades, "doc_id")
        .join(F.broadcast(disc), "rank")
    )
    dcg = ranked.agg(
        F.coalesce(F.sum(gain * F.col("disc_e6")), F.lit(0))
        .cast("long")
        .alias("dcg_e6"),
        F.coalesce(
            F.sum((F.col("rel") == 3).cast("long")), F.lit(0)
        ).alias("n3_at_k"),
        F.coalesce(
            F.min(F.when(F.col("rel") == 3, F.col("rank"))), F.lit(0)
        ).cast("long").alias("first3"),
    )
    ideal = (
        grades.orderBy(F.desc("rel"), "doc_id")
        .limit(NDCG_K)
        .withColumn(
            "rank",
            F.row_number()
            .over(Window.orderBy(F.desc("rel"), "doc_id"))
            .cast("long"),
        )
        .join(F.broadcast(disc), "rank")
        .agg(
            F.coalesce(F.sum(gain * F.col("disc_e6")), F.lit(0))
            .cast("long")
            .alias("idcg_e6")
        )
    )
    n3 = grades.agg(
        F.coalesce(F.sum((F.col("rel") == 3).cast("long")), F.lit(0)).alias(
            "n_rel3"
        )
    )
    return (
        dcg.crossJoin(ideal)
        .crossJoin(n3)
        .select(
            F.lit(NDCG_K).cast("long").alias("k"),
            F.col("n_rel3").cast("long"),
            "dcg_e6",
            "idcg_e6",
            F.expr(
                "CASE WHEN idcg_e6 > 0 THEN dcg_e6 * cast(1000000 as bigint)"
                " div idcg_e6 ELSE 0 END"
            ).cast("long").alias("ndcg_e6"),
            F.expr(
                "CASE WHEN first3 > 0 THEN cast(1000000 as bigint) div first3"
                " ELSE 0 END"
            ).cast("long").alias("mrr3_e6"),
            F.expr(f"n3_at_k * cast(1000000 as bigint) div {NDCG_K}")
            .cast("long")
            .alias("p_at_k_rel3_e6"),
        )
    )


def _retrieval_eval_sql() -> str:
    disc_rows = ", ".join(
        f"({i + 1}, {_DISC_E6[i]})" for i in range(NDCG_K)
    )
    return f"""
WITH lens AS (
  SELECT doc_id, len(string_split_regex(trim(text), '\\s+')) AS dl
  FROM documents
), stats AS (
  SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM lens
), tf AS (
  SELECT doc_id, w, count(*) AS tf
  FROM (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w
        FROM documents)
  WHERE w IN ({_TERMS_SQL})
  GROUP BY doc_id, w
), grades AS (
  SELECT doc_id, CAST(count(DISTINCT w) AS BIGINT) AS rel FROM tf GROUP BY doc_id
), dfr AS (
  SELECT w, count(*) AS df FROM tf GROUP BY w
), scored AS (
  SELECT tf.doc_id,
         CAST(round(
           ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
           * (tf * {BM25_K1 + 1.0})
           / (tf + {BM25_K1} * ({1.0 - BM25_B} + {BM25_B} * dl
                                / (sum_dl * 1.0 / n_docs)))
           * 1e9) AS BIGINT) AS s_e9
  FROM tf
  JOIN dfr USING (w)
  JOIN lens ON tf.doc_id = lens.doc_id
  CROSS JOIN stats
), topk AS (
  SELECT doc_id, CAST(sum(s_e9) AS BIGINT) AS score_e9
  FROM scored GROUP BY doc_id
  ORDER BY score_e9 DESC, doc_id LIMIT {NDCG_K}
), disc(rank, disc_e6) AS (VALUES {disc_rows}
), ranked AS (
  SELECT t.doc_id, g.rel,
         row_number() OVER (ORDER BY t.score_e9 DESC, t.doc_id) AS rank
  FROM topk t JOIN grades g USING (doc_id)
), dcg AS (
  SELECT CAST(coalesce(sum(((1 << rel) - 1) * disc_e6), 0) AS BIGINT) AS dcg_e6,
         CAST(coalesce(sum(CASE WHEN rel = 3 THEN 1 ELSE 0 END), 0) AS BIGINT)
           AS n3_at_k,
         CAST(coalesce(min(CASE WHEN rel = 3 THEN rank END), 0) AS BIGINT)
           AS first3
  FROM ranked JOIN disc USING (rank)
), ideal_ranked AS (
  SELECT rel, row_number() OVER (ORDER BY rel DESC, doc_id) AS rank
  FROM (SELECT doc_id, rel FROM grades ORDER BY rel DESC, doc_id LIMIT {NDCG_K})
), idcg AS (
  SELECT CAST(coalesce(sum(((1 << rel) - 1) * disc_e6), 0) AS BIGINT) AS idcg_e6
  FROM ideal_ranked JOIN disc USING (rank)
), n3 AS (
  SELECT CAST(coalesce(sum(CASE WHEN rel = 3 THEN 1 ELSE 0 END), 0) AS BIGINT)
    AS n_rel3 FROM grades
)
SELECT CAST({NDCG_K} AS BIGINT) AS k, n_rel3, dcg_e6, idcg_e6,
       CASE WHEN idcg_e6 > 0
         THEN CAST(dcg_e6 * 1000000 // idcg_e6 AS BIGINT) ELSE 0 END AS ndcg_e6,
       CASE WHEN first3 > 0
         THEN CAST(1000000 // first3 AS BIGINT) ELSE 0 END AS mrr3_e6,
       CAST(n3_at_k * 1000000 // {NDCG_K} AS BIGINT) AS p_at_k_rel3_e6
FROM dcg CROSS JOIN idcg CROSS JOIN n3
"""


Q_RETRIEVAL_EVAL_SQL = _retrieval_eval_sql()


QUERIES = {
    "q_bm25_search": q_bm25_search,
    "q_bm25_multi": q_bm25_multi,
    "q_hybrid_search": q_hybrid_search,
    "q_phrase_search": q_phrase_search,
    "q_retrieval_eval": q_retrieval_eval,
}
ORACLES = {
    "q_bm25_search": Q_BM25_SQL,
    "q_bm25_multi": Q_BM25_MULTI_SQL,
    "q_hybrid_search": Q_HYBRID_SQL,
    "q_phrase_search": Q_PHRASE_SQL,
    "q_retrieval_eval": Q_RETRIEVAL_EVAL_SQL,
}
