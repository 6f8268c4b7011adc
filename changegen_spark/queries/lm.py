"""Statistical text modeling over the documents table: duplicate-span
detection, n-gram language-model quality scoring, and BPE tokenization.

Three more pieces of the LLM-corpus toolchain (beyond-parity surface — the
reference has none of these; the family complement of queries/mlprep.py):

* ``q_dup_spans`` — substring-level deduplication à la "Deduplicating
  Training Data Makes Language Models Better" (Lee et al. 2022): find every
  maximal token span covered by {DUP_N}-gram windows that occur more than
  once in the corpus.  Plan: ONE posexplode of positioned n-grams → md5 the
  gram so the corpus-scale exchange carries 16-byte keys instead of strings
  → corpus-wide window count over the gram hash (a single exchange replaces
  the r2 groupBy + semi-join pair, which materialized the explode twice) →
  per-doc interval merge (gaps-and-islands, one window partitioned by doc).
  Never all-pairs; every stage is an equi-shuffle keyed by gram hash or doc.
* ``q_lm_score`` — corpus-trained bigram LM with add-1 smoothing scoring
  each document's average negative log-likelihood (the KenLM-style
  perplexity quality signal used by CCNet/Gopher-style filters).  Bigram
  occurrences are pre-aggregated to (doc_id, w1, w2, c) BEFORE any join —
  hot bigrams ("of the") then join once per (doc, bigram) instead of once
  per occurrence, removing the skew/row-multiplication hazard at corpus
  scale — and the per-doc NLL is the c-weighted average.
* ``q_bpe_merges`` / ``q_bpe_encode_stats`` — tokenizer training and
  application (functions/bpe.py).  Iterative merge learning is not
  single-statement SQL, so these are rows-only for the driver; the hard
  check is tests/test_lm.py, which pins the merge list against an
  independent reference implementation.

Oracle determinism: integer outputs exact; ``nll`` rounded to 6 dp and
``ppl`` to 3 dp (double summation order differs across engines only at
~1e-12 relative).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from changegen_spark.queries.mlprep import _toks
from changegen_spark.sources.tables import load_table


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


# --- duplicate-span detection ------------------------------------------------

DUP_N = 8  # word n-gram order; Lee et al. use 50 BPE tokens — 8 words fits
# the ~54-word synthetic docs while exercising the identical plan shape


def pos_gram_hashes_pandas(n: int):
    """Arrow-batched positioned n-gram hashes: text →
    array<struct<pos:long, gh:binary>> with pos 1-based and gh the 16-byte
    md5 digest of the space-joined gram.

    Same justification as ``mlprep.distinct_ngrams_pandas`` /
    ``hashing.minhash_pandas_signature``: the Catalyst
    transform/slice/concat_ws n-gram build runs interpreted (no
    whole-stage codegen inside higher-order functions) and was the
    dominant cost of q_dup_spans (measured r3: 3.6 s → ~2 s warm at
    sf0.1 from this change).  The hash is query-internal (the output is
    doc/pos spans; the DuckDB oracle recomputes duplication from the raw
    grams), so the digest BYTES are used directly — a 16-byte shuffle key
    instead of the 32-char hex string."""
    import hashlib

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<struct<pos:long,gh:binary>>")
    def pg(texts):
        md5 = hashlib.md5
        out = []
        for t in texts:
            toks = (t or "").strip().split()
            out.append(
                [
                    (i + 1, md5(" ".join(toks[i : i + n]).encode()).digest())
                    for i in range(len(toks) - n + 1)
                ]
            )
        return pd.Series(out)

    return pg


def q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal duplicated token spans per document.

    A span is the interval union of all {DUP_N}-token windows whose content
    appears ≥2 times corpus-wide (within- or cross-document).  Because all
    windows have equal length, intervals sorted by start have monotone
    ends, so the union is a lag-based gaps-and-islands: a new island starts
    when the gap to the previous duplicated window exceeds DUP_N — i.e.
    overlapping AND abutting windows merge into one maximal span.

    Plan shape (r3): the positioned-n-gram build is ONE Arrow UDF pass
    (``pos_gram_hashes_pandas``) materialized once, and the corpus-wide
    frequency is a window ``count over (partition by gh)`` — one exchange
    on the 16-byte digest — instead of the r2 groupBy + left-semi pair,
    whose two consumers re-ran the explode."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    # Scale-adaptive parallelism, cost-gated (guide §2, r14): the
    # positioned-gram md5 UDF is CPU-bound Python inside the scan stage —
    # medium per-byte cost (one md5 per token window).  The r13 spread to
    # full parallelism was a driver-measured regression (1.46 s unspread
    # in r12 vs 1.77 s at 32-way, with the 8-way run faster at 1.38 s), so
    # the 64 KiB/task dial caps the sf0.1 target near the 8-way shape; at
    # 100 TB the helper is a no-op (splits >= cores).
    from changegen_spark.functions.spread import (
        GRAM_BYTES_PER_TASK,
        spread_if_narrow,
    )

    docs = spread_if_narrow(docs, "doc_id", GRAM_BYTES_PER_TASK)
    grams = docs.select(
        "doc_id",
        F.explode(pos_gram_hashes_pandas(DUP_N)(F.col("text"))).alias("g"),
    ).select("doc_id", F.col("g.pos").alias("pos"), F.col("g.gh").alias("gh"))
    hits = (
        grams.withColumn("c", F.count("*").over(Window.partitionBy("gh")))
        .filter(F.col("c") > 1)
        .select("doc_id", "pos")
    )

    w = Window.partitionBy("doc_id").orderBy("pos")
    flagged = hits.withColumn(
        "ni",
        F.when(F.col("pos") - F.lag("pos").over(w) <= DUP_N, F.lit(0)).otherwise(
            F.lit(1)
        ),
    )
    isl = flagged.withColumn(
        "grp",
        F.sum("ni").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    return (
        isl.groupBy("doc_id", "grp")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(DUP_N - 1)).alias("span_end"),
            F.count("*").alias("n_dup_grams"),
        )
        .select(
            "doc_id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_tokens"),
            "n_dup_grams",
        )
        .orderBy("doc_id", "span_start")
    )


Q_DUP_SPANS_SQL = f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
), ngr AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         array_to_string(t[CAST(i AS INT):CAST(i AS INT) + {DUP_N - 1}], ' ') AS ng
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - {DUP_N - 1})) AS i
        FROM toks WHERE len(t) >= {DUP_N})
), hits AS (
  SELECT doc_id, pos
  FROM (SELECT doc_id, pos, count(*) OVER (PARTITION BY ng) AS c FROM ngr)
  WHERE c > 1
), flagged AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                   <= {DUP_N} THEN 0 ELSE 1 END AS ni
  FROM hits
), isl AS (
  SELECT doc_id, pos,
         sum(ni) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS grp
  FROM flagged
)
SELECT doc_id,
       min(pos) AS span_start,
       max(pos) + {DUP_N - 1} AS span_end,
       max(pos) + {DUP_N - 1} - min(pos) + 1 AS span_tokens,
       count(*) AS n_dup_grams
FROM isl
GROUP BY doc_id, grp
ORDER BY doc_id, span_start
"""


# --- bigram LM quality scoring ----------------------------------------------


def bigram_counts_pandas():
    """Arrow-batched per-document bigram counts: text →
    array<struct<w1,w2,c>> with one entry per DISTINCT bigram.

    Two jobs in one map-only pass (same justification as
    ``mlprep.distinct_ngrams_pandas`` — Catalyst's interpreted
    transform/element_at build costs 5.2 s alone at sf0.1, the Arrow UDF
    ~1 s): builds the bigrams AND pre-aggregates them per document, so the
    (doc_id, w1, w2, c) frame exists without any exchange — the per-doc
    aggregation happens inside the executor batch, and the only shuffles
    left in the query are the (w1, w2) count aggregate and its join."""
    import collections

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<struct<w1:string,w2:string,c:long>>")
    def bg_counts(texts):
        out = []
        for t in texts:
            toks = (t or "").split()
            cnt = collections.Counter(zip(toks, toks[1:]))
            out.append([(a, b, c) for (a, b), c in cnt.items()])
        return pd.Series(out)

    return bg_counts


def q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document average negative log-likelihood under a corpus bigram
    LM with add-1 smoothing:  P(w2|w1) = (c(w1,w2)+1) / (c(w1)+V).

    Unigram counts are over ALL token occurrences (same definition on both
    engines).  Documents with fewer than 2 tokens have no bigrams and are
    absent from the output.

    Scale shape (r3): bigram occurrences are pre-aggregated to
    (doc_id, w1, w2, c) BEFORE any corpus-count attach.  Each downstream
    row is one distinct (doc, bigram) instead of one per occurrence — at
    corpus scale, hot bigrams ("of the") stop being both a skew key and a
    probe-side row multiplication (r2 verdict's #1 hazard).  The per-doc
    NLL becomes the c-weighted average, numerically identical to the
    occurrence-level mean.  r13: the corpus bigram count cb attaches as a
    window sum over (w1, w2) — one exchange, single consumer of the Arrow
    UDF — instead of a groupBy + self-join pair.  Skew note (r14, ADVICE
    r13): the window shape FORFEITS the join-side skew mitigations — AQE
    skew-join splitting and key salting do not apply to a
    window exchange, and windows get no map-side partial aggregation, so
    every (doc, bigram) row of a Zipf-hot bigram lands in one sorted
    task.  The exposure is bounded (rows are pre-aggregated per doc, so a
    hot key's partition is "documents containing it", not occurrences),
    but on a hot-key corpus the escape hatch is the r12 groupBy +
    self-join form of cb (git 701616e lm.py), whose join AQE can split —
    a salted WINDOW would instead need a two-level sum."""
    docs = _docs(spark, sf_dir)
    toks = _toks(F.col("text"))
    words = docs.select(F.explode(toks).alias("w"))
    uni = words.groupBy("w").agg(F.count("*").alias("cu"))
    vdf = uni.agg(F.count("*").alias("v"))

    doc_bg = docs.select(
        "doc_id", F.explode(bigram_counts_pandas()(F.col("text"))).alias("bg")
    ).select(
        "doc_id",
        F.col("bg.w1").alias("w1"),
        F.col("bg.w2").alias("w2"),
        F.col("bg.c").alias("c"),
    )
    # r13 (guide §2.4): the corpus bigram count attaches as a WINDOW sum
    # over (w1, w2) — the q_dup_spans / related-docs-norms recipe — instead
    # of a groupBy + self-join.  The Arrow bigram UDF then has a SINGLE
    # consumer (the old bc aggregate + probe pair evaluated it twice), and
    # one (w1, w2) exchange replaces the aggregate + both join exchanges.
    # cb is an exact integer either way; canary-guarded interleaved A/B
    # medians 2.23 → 1.37 s, full-collect equality proven at sf0.1.
    with_cb = doc_bg.withColumn(
        "cb", F.sum("c").over(Window.partitionBy("w1", "w2"))
    )
    logp = F.log((F.col("cb") + F.lit(1.0)) / (F.col("cu") + F.col("v")))
    wavg_nll = -(F.sum(F.col("c") * logp) / F.sum("c"))
    return (
        with_cb.join(uni.withColumnRenamed("w", "w1"), "w1")
        .crossJoin(F.broadcast(vdf))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_bigrams"),
            F.round(wavg_nll, 6).alias("nll"),
            F.round(F.exp(wavg_nll), 3).alias("ppl"),
        )
        .orderBy("doc_id")
    )


Q_LM_SCORE_SQL = """
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
), words AS (
  SELECT doc_id, unnest(t) AS w FROM toks
), uni AS (
  SELECT w, count(*) AS cu FROM words GROUP BY w
), v AS (
  SELECT count(*) AS v FROM uni
), bg AS (
  SELECT doc_id, t[CAST(i AS INT)] AS w1, t[CAST(i AS INT) + 1] AS w2
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i
        FROM toks WHERE len(t) >= 2)
), doc_bg AS (
  SELECT doc_id, w1, w2, count(*) AS c FROM bg GROUP BY doc_id, w1, w2
), bc AS (
  SELECT w1, w2, CAST(sum(c) AS BIGINT) AS cb FROM doc_bg GROUP BY w1, w2
)
SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
       round(-(sum(c * ln((cb + 1.0) / (cu + v))) / sum(c)), 6) AS nll,
       round(exp(-(sum(c * ln((cb + 1.0) / (cu + v))) / sum(c))), 3) AS ppl
FROM doc_bg
JOIN bc USING (w1, w2)
JOIN uni ON doc_bg.w1 = uni.w
CROSS JOIN v
GROUP BY doc_id
ORDER BY doc_id
"""


# --- BPE tokenizer -----------------------------------------------------------

BPE_MERGES = 40


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned merge table (rank, left, right, merged, pair_count).

    Rows-only for the driver (iterative merge learning is not
    single-statement SQL); the independent-implementation parity check is
    tests/test_lm.py::test_train_matches_reference_implementation."""
    from changegen_spark.functions.bpe import bpe_train, word_counts

    docs = _docs(spark, sf_dir)
    merges = bpe_train(word_counts(docs), num_merges=BPE_MERGES)
    return spark.createDataFrame(
        [(i, l, r, m, c) for i, (l, r, m, c) in enumerate(merges)],
        "rank INT, left STRING, right STRING, merged STRING, pair_count BIGINT",
    ).orderBy("rank")


def q_bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode every document with the corpus-trained merges; per-doc token
    accounting (words, BPE tokens, chars-per-token compression).

    ``n_words`` drops empty tokens so its semantics match the encoder's
    Python ``.split()`` (whitespace-only text → 0 words, 0 BPE tokens,
    null compression — not the ``_toks`` artifact of [''] → 1 word).

    r13: the query consumes only the token COUNT, so the encode stage is
    ``bpe_encode_count_udf`` — one long per doc crosses the Python↔JVM
    boundary instead of the full token-string array (guide §4.1); the
    count equals the encoded token array's size by construction (pinned
    in tests/test_lm.py)."""
    from changegen_spark.functions.bpe import (
        bpe_encode_count_udf,
        bpe_train,
        word_counts,
    )

    docs = _docs(spark, sf_dir)
    merges = bpe_train(word_counts(docs), num_merges=BPE_MERGES)
    enc = bpe_encode_count_udf(merges)
    toks = _toks(F.col("text"))
    return (
        docs.select(
            "doc_id",
            F.size(F.array_remove(toks, "")).alias("n_words"),
            enc(F.col("text")).alias("n_bpe_tokens"),
            F.length(F.trim(F.col("text"))).alias("n_chars"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_bpe_tokens",
            F.round(F.col("n_chars") / F.col("n_bpe_tokens"), 6).alias(
                "chars_per_token"
            ),
        )
        .orderBy("doc_id")
    )


OOV_MIN_COUNT = 5


def q_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary pruning + out-of-vocabulary accounting: the corpus
    vocabulary keeps tokens with count >= OOV_MIN_COUNT, and every doc
    reports its OOV token rate — the signal a tokenizer-vocab decision or
    a domain-shift filter reads.  Scale shape: one token-count shuffle
    builds the vocab (the smaller side thereafter), then a token-level
    equi-join tags occurrences; per-doc aggregation is the only other
    exchange.  No collect — the vocabulary stays distributed (Catalyst
    broadcasts it when it fits)."""
    d = _docs(spark, sf_dir)
    occ = d.select("doc_id", F.explode(_toks(F.col("text"))).alias("w"))
    vocab = (
        occ.groupBy("w")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") >= OOV_MIN_COUNT)
        .select("w", F.lit(1).alias("in_vocab"))
    )
    return (
        occ.join(vocab, "w", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_oov"),
            F.countDistinct(
                F.when(F.col("in_vocab").isNull(), F.col("w"))
            ).alias("n_distinct_oov"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_oov",
            "n_distinct_oov",
            F.round(F.col("n_oov") / F.col("n_tokens"), 6).alias("oov_rate"),
        )
        .orderBy("doc_id")
    )


Q_OOV_RATE_SQL = f"""
WITH occ AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w
  FROM documents
), vocab AS (
  SELECT w FROM occ GROUP BY w HAVING count(*) >= {OOV_MIN_COUNT}
), tagged AS (
  SELECT o.doc_id, o.w, v.w IS NOT NULL AS iv
  FROM occ o LEFT JOIN vocab v ON o.w = v.w
)
SELECT doc_id,
       count(*) AS n_tokens,
       CAST(sum(CASE WHEN iv THEN 0 ELSE 1 END) AS BIGINT) AS n_oov,
       CAST(count(DISTINCT CASE WHEN iv THEN NULL ELSE w END) AS BIGINT)
         AS n_distinct_oov,
       round(CAST(sum(CASE WHEN iv THEN 0 ELSE 1 END) AS DOUBLE) / count(*), 6)
         AS oov_rate
FROM tagged GROUP BY doc_id ORDER BY doc_id
"""


# --- interpolated Kneser-Ney ------------------------------------------------

KN_TOP = 50
# discount D = 3/4, kept exact by 4×-scaling the counts: the numerator's
# integer core is max(4·c12 − 3, 0)·T + 3·n1r·n1l over denominator 4·c1·T
KN_NUM = "(CASE WHEN 4 * c12 - 3 > 0 THEN 4 * c12 - 3 ELSE 0 END) * t + 3 * n1r * n1l"
KN_DEN = "4 * c1 * t"


def q_kn_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram probabilities (Kneser & Ney 1995;
    the smoothing KenLM defaults to and every serious corpus LM uses):

        P(w2|w1) = max(c12 − D, 0)/c1 + (D·N1+(w1·)/c1) · N1+(·w2)/T

    with D = 0.75.  The continuation counts N1+ are what distinguish KN
    from add-k: a word's backoff mass is how many CONTEXTS it completes,
    not how often it occurs ("Francisco" is frequent but only follows
    "San").  With D = 3/4 the whole probability is the exact rational
    (max(4c12−3,0)·T + 3·N1r·N1l) / (4·c1·T) — every count is an exact
    BIGINT on both engines and only the final e6 emission divides.

    Output: the KN_TOP most frequent bigrams with their MLE and KN
    probabilities side by side.  (On the synthetic corpus the two sit
    within ~0.03% of each other: the vocabulary is so small that
    n1r·n1l/T ≈ 1, i.e. the redistributed continuation mass almost
    exactly refills the discount — the regime where KN matters is a
    large vocabulary with peaked continuation sets, which the unit test
    exercises via the exact rational form.)

    100 TB shape: bigram construction is a JVM higher-order-function
    expression (no UDF — transform over token indices); everything after
    is hash aggregation on (w1,w2), w1, w2 — shuffles bounded by type
    counts, not token counts; T rides a broadcast.  The c1/n1r and n1l
    frames are vocabulary-sized equi-join sides."""
    docs = _docs(spark, sf_dir)
    # docs with <2 tokens have no bigrams (explicit filter, and the
    # transform range is empty for them anyway)
    bg = docs.select(_toks(F.col("text")).alias("t")).filter(
        F.size("t") >= 2
    ).select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1),"
                " i -> struct(t[i-1] AS w1, t[i] AS w2))"
            )
        ).alias("b")
    ).select("b.w1", "b.w2")
    bc = bg.groupBy("w1", "w2").agg(F.count("*").cast("long").alias("c12"))
    ctx = bc.groupBy("w1").agg(
        F.sum("c12").cast("long").alias("c1"),
        F.count("*").cast("long").alias("n1r"),
    )
    left = bc.groupBy("w2").agg(F.count("*").cast("long").alias("n1l"))
    tt = bc.agg(F.count("*").cast("long").alias("t"))
    joined = (
        bc.join(ctx, "w1").join(left, "w2").crossJoin(F.broadcast(tt))
    )
    return (
        joined.selectExpr(
            "w1",
            "w2",
            "c12",
            "c1",
            "n1r",
            "n1l",
            "CAST(round(CAST(c12 AS DOUBLE) / CAST(c1 AS DOUBLE) * 1e6) AS BIGINT)"
            " AS p_mle_e6",
            f"CAST(round(CAST({KN_NUM} AS DOUBLE) / CAST({KN_DEN} AS DOUBLE)"
            " * 1e6) AS BIGINT) AS p_kn_e6",
        )
        .orderBy(F.desc("c12"), "w1", "w2")
        .limit(KN_TOP)
    )


Q_KN_BIGRAM_SQL = f"""
WITH toks AS (
  SELECT string_split_regex(trim(text), '\\s+') AS t FROM documents
), bg AS (
  SELECT t[CAST(i AS INT)] AS w1, t[CAST(i AS INT) + 1] AS w2
  FROM (SELECT t, unnest(generate_series(1, len(t) - 1)) AS i
        FROM toks WHERE len(t) >= 2)
), bc AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM bg GROUP BY w1, w2
), ctx AS (
  SELECT w1, CAST(sum(c12) AS BIGINT) AS c1, CAST(count(*) AS BIGINT) AS n1r
  FROM bc GROUP BY w1
), lft AS (
  SELECT w2, CAST(count(*) AS BIGINT) AS n1l FROM bc GROUP BY w2
), tt AS (
  SELECT CAST(count(*) AS BIGINT) AS t FROM bc
)
SELECT w1, w2, c12, c1, n1r, n1l,
       CAST(round(CAST(c12 AS DOUBLE) / CAST(c1 AS DOUBLE) * 1e6) AS BIGINT)
         AS p_mle_e6,
       CAST(round(CAST({KN_NUM} AS DOUBLE) / CAST({KN_DEN} AS DOUBLE) * 1e6)
         AS BIGINT) AS p_kn_e6
FROM bc JOIN ctx USING (w1) JOIN lft USING (w2) CROSS JOIN tt
ORDER BY c12 DESC, w1, w2 LIMIT {KN_TOP}
"""


QUERIES = {
    "q_dup_spans": q_dup_spans,
    "q_lm_score": q_lm_score,
    "q_kn_bigram": q_kn_bigram,
    "q_bpe_merges": q_bpe_merges,
    "q_bpe_encode_stats": q_bpe_encode_stats,
    "q_oov_rate": q_oov_rate,
}

ORACLES = {
    "q_dup_spans": Q_DUP_SPANS_SQL,
    "q_lm_score": Q_LM_SCORE_SQL,
    "q_kn_bigram": Q_KN_BIGRAM_SQL,
    "q_oov_rate": Q_OOV_RATE_SQL,
}

# BPE goldens: independent-implementation VALUES oracles (queries/bpegold.py
# — the geogold/media pattern); absent testdata keeps them rows-only.
from changegen_spark.queries.bpegold import build_oracles as _bpegold_oracles  # noqa: E402

ORACLES.update(_bpegold_oracles())
