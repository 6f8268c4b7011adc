"""Training-data preparation operators over the documents table.

The pieces of a large-scale LLM-corpus pipeline that sit between raw text
and a training run: eval-set decontamination (n-gram overlap), PII
detection/redaction, Gopher-style repetition quality signals, deterministic
hash sampling (bernoulli + stratified), and fixed-size token chunking with
stride.  All map-only column expressions except decontamination, whose plan
is the canonical shape at 100 TB: explode n-grams, hash equi-join against
the (small, broadcastable) eval n-gram set, aggregate per document — never
an all-pairs comparison.

Every query has an exact DuckDB oracle; doubles are rounded to 6 dp on both
sides and hashes are md5 so the value-hash gate is byte-stable.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from changegen_spark.operators.fence import fence
from changegen_spark.operators.ids import prefix_sum
from changegen_spark.queries.sketches import _H60_SQL
from changegen_spark.sources.tables import load_table


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def _toks(col: F.Column) -> F.Column:
    """Whitespace tokens of the trimmed text (the module's one tokenizer:
    DuckDB twin is ``string_split_regex(trim(text), '\\s+')``)."""
    return F.split(F.trim(col), r"\s+")


def word_ngrams(toks: F.Column, n: int) -> F.Column:
    """All word n-grams (with duplicates) as space-joined strings; empty
    array when the document has fewer than ``n`` tokens.  Spark's
    ``sequence`` DESCENDS when stop < start, so the short-document case
    must be guarded, not clamped."""
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - F.lit(n) + 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i, F.lit(n))),
        ),
    ).otherwise(F.array().cast("array<string>"))


# --- eval-set decontamination -------------------------------------------------

DECON_N = 5  # word n-gram order; 13 is standard for web corpora, 5 fits the
# synthetic docs (~30-100 words from a ~30-word vocabulary)


def distinct_ngrams_pandas(n: int):
    """Arrow-batched distinct word n-grams: text → sorted array<string>.

    Same justification as ``hashing.minhash_pandas_signature``: shingle
    construction in Catalyst higher-order functions runs interpreted, and
    Python's split + set comprehension over Arrow batches is ~2× faster for
    the whole decontamination query (3.1 s → 1.4 s warm at sf0.1).  Output
    is sorted for determinism; values are identical to the
    ``word_ngrams`` + distinct formulation, so the DuckDB oracle is
    unchanged."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<string>")
    def ngrams(texts):
        out = []
        for t in texts:
            toks = (t or "").strip().split()
            if len(toks) >= n:
                out.append(
                    sorted({" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)})
                )
            else:
                out.append([])
        return pd.Series(out)

    return ngrams


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval n-gram decontamination: docs with ``doc_id % 19 = 3`` act
    as the held-out eval set; every remaining (train) doc reports how many
    of its distinct word 5-grams appear anywhere in the eval set.

    Scale shape: distinct n-grams per doc (one shuffle), left-semi hash
    join against the eval n-gram set — eval sets are tiny relative to the
    corpus, so Catalyst broadcasts them — then a per-doc count.  This is
    the standard contamination check (e.g. GPT-3 appendix C) expressed as
    two aggregates and an equi-join, never a doc×doc comparison."""
    d = _docs(spark, sf_dir)
    # Plan note (measured at sf0.1): explode → one (doc_id, ng) distinct
    # exchange, REUSED by all three consumers (eval set, totals, hits), is
    # the winning shape.  Two "optimizations" lose: per-doc array_distinct
    # dedup with a repartition(doc_id) exchange (7 s — the array shuffle
    # carries the same bytes in fatter rows), and array-side dedup with no
    # exchange at all (16 s — the interpreted n-gram transform runs once per
    # consumer).  The n-gram builder itself is the Arrow UDF (1.4 s vs the
    # Catalyst transform's 3.1 s); the exchange keeps it to ONE execution.
    grams = (
        d.select(
            "doc_id",
            F.explode(distinct_ngrams_pandas(DECON_N)(F.col("text"))).alias("ng"),
        )
        .distinct()
    )
    is_eval = F.col("doc_id") % 19 == 3
    eval_ngs = grams.filter(is_eval).select("ng").distinct()
    train = grams.filter(~is_eval)
    totals = train.groupBy("doc_id").agg(F.count("*").alias("n_ngrams"))
    hits = (
        train.join(eval_ngs, "ng", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_contaminated"))
    )
    return (
        totals.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_ngrams",
            F.coalesce("n_contaminated", F.lit(0)).alias("n_contaminated"),
            F.round(
                F.coalesce("n_contaminated", F.lit(0)) / F.col("n_ngrams"), 6
            ).alias("contamination_frac"),
        )
        .orderBy("doc_id")
    )


# --- fuzzy (MinHash) eval-set decontamination (r7) ---------------------------
#
# Exact n-gram decontamination misses PARAPHRASED leakage: an eval item
# lightly rewritten into the training set shares few exact 5-grams but a
# large shingle-set Jaccard.  The fuzzy pass estimates per-(train, eval)
# document Jaccard from FUZZY_K independent minhashes (P[minhash match] =
# J) and reports pairs with ≥ FUZZY_MIN_MATCHES agreeing hashes.  Scale
# shape: signatures are one groupBy (doc, k) min over the K-exploded
# distinct-shingle rows (map-side combine); candidates come from an
# equi-join on (k, minhash-value) with the KB-sized eval side broadcast —
# the corpus is never compared doc×doc, and a train doc sharing no
# minhash with any eval item never leaves its map task.

FUZZY_K = 12
FUZZY_MIN_MATCHES = 2  # ≥2 of 12 agreeing hashes ≈ est. Jaccard ≥ 0.17
# Hot-bucket guard (r8): a (k, mh) bucket is the unit of candidate
# generation, and a corpus-wide shared n-gram (boilerplate headers,
# license blurbs) can become the slot-minimum for a CONSTANT FRACTION of
# documents — bucket size Θ(n), candidate join Θ(n²/19).  Buckets that
# hot carry no discrimination signal (they assert "shares the corpus
# boilerplate"), so they are dropped from candidate generation when the
# TRAIN side exceeds this cap — the same dial LSH dedup applies to hot
# bands.  Measured: gate-sf max bucket is 4, so gate results are
# byte-identical; the bench corpus ladder measures the capped vs
# uncapped candidate volume on a boilerplate-heavy corpus.
FUZZY_BUCKET_CAP = 128


def fuzzy_minhash_sigs(grams: DataFrame) -> DataFrame:
    """(doc_id, k, mh): the k-th 60-bit minhash of each doc's distinct
    n-gram set, k < FUZZY_K."""
    from changegen_spark.queries.sketches import h60

    return (
        grams.select(
            "doc_id",
            F.explode(
                F.array(*[
                    F.struct(
                        F.lit(k).cast("long").alias("k"),
                        h60(F.concat(F.lit(f"{k}:"), F.col("ng"))).alias("h"),
                    )
                    for k in range(FUZZY_K)
                ])
            ).alias("s"),
        )
        .groupBy("doc_id", "s.k")
        .agg(F.min("s.h").alias("mh"))
    )


def q_fuzzy_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(train_doc_id, eval_doc_id, matches, est_jaccard_e6) for every
    train/eval pair whose minhash signatures agree on ≥ FUZZY_MIN_MATCHES
    of FUZZY_K positions — the paraphrase-tolerant contamination check
    layered over the same eval split as ``q_decontaminate``."""
    d = _docs(spark, sf_dir)
    grams = d.select(
        "doc_id",
        F.explode(distinct_ngrams_pandas(DECON_N)(F.col("text"))).alias("ng"),
    ).distinct()
    sigs = fuzzy_minhash_sigs(grams)
    is_eval = F.col("doc_id") % 19 == 3
    ev = sigs.filter(is_eval).select(
        F.col("doc_id").alias("eval_doc_id"), "k", "mh"
    )
    tr = sigs.filter(~is_eval).select(
        F.col("doc_id").alias("train_doc_id"), "k", "mh"
    )
    bucket = Window.partitionBy("k", "mh")
    tr = (
        tr.withColumn("bc", F.count("*").over(bucket))
        .filter(F.col("bc") <= FUZZY_BUCKET_CAP)
        .drop("bc")
    )
    pairs = (
        tr.join(F.broadcast(ev), ["k", "mh"])
        .groupBy("train_doc_id", "eval_doc_id")
        .agg(F.count("*").cast("long").alias("matches"))
        .filter(F.col("matches") >= FUZZY_MIN_MATCHES)
    )
    return pairs.select(
        "train_doc_id",
        "eval_doc_id",
        "matches",
        F.round(F.col("matches") * 1e6 / FUZZY_K).cast("long").alias(
            "est_jaccard_e6"
        ),
    ).orderBy("train_doc_id", "eval_doc_id")


def fuzzy_decon_candidates(spark: SparkSession, sf_dir: str) -> dict:
    """Candidate-volume audit for the fuzzy-decontamination join (bench
    corpus ladder): the (k, mh) bucket join's row count WITH the
    hot-bucket cap vs WITHOUT it, plus the max train bucket.  The
    candidate count is Σ over buckets of train_ct × eval_ct — the
    eval-side factor is bounded by the eval split (~n/19 docs × FUZZY_K
    slots), so the train-side bucket cap is what keeps the product
    linear on boilerplate-heavy corpora."""
    d = _docs(spark, sf_dir)
    grams = d.select(
        "doc_id",
        F.explode(distinct_ngrams_pandas(DECON_N)(F.col("text"))).alias("ng"),
    ).distinct()
    sigs = fuzzy_minhash_sigs(grams).transform(fence, "fuzzy_decon_candidates sigs")
    is_eval = F.col("doc_id") % 19 == 3
    ev = sigs.filter(is_eval).groupBy("k", "mh").agg(
        F.count("*").alias("ec")
    )
    tr = sigs.filter(~is_eval).groupBy("k", "mh").agg(
        F.count("*").alias("tc")
    )
    joined = tr.join(ev, ["k", "mh"])
    row = joined.agg(
        F.sum(F.col("tc") * F.col("ec")).alias("cand_uncapped"),
        F.sum(
            F.when(
                F.col("tc") <= FUZZY_BUCKET_CAP, F.col("tc") * F.col("ec")
            ).otherwise(0)
        ).alias("cand_capped"),
        F.max("tc").alias("max_train_bucket"),
    ).collect()[0]
    return {
        "cand_capped": int(row.cand_capped or 0),
        "cand_uncapped": int(row.cand_uncapped or 0),
        "max_train_bucket": int(row.max_train_bucket or 0),
    }


_GRAMS_SQL_BODY = f"""toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
), pos AS (
  SELECT doc_id, t, unnest(generate_series(1, len(t) - {DECON_N - 1})) AS i
  FROM toks WHERE len(t) >= {DECON_N}
), grams AS (
  SELECT DISTINCT doc_id,
         array_to_string(t[CAST(i AS INT):CAST(i + {DECON_N - 1} AS INT)], ' ') AS ng
  FROM pos
)"""

Q_FUZZY_DECONTAMINATE_SQL = f"""
WITH {_GRAMS_SQL_BODY}, sigs AS (
  SELECT doc_id, CAST(k AS BIGINT) AS k,
         min(CAST(concat('0x', substr(md5(CAST(k AS VARCHAR) || ':' || ng), 1, 15)) AS BIGINT)) AS mh
  FROM grams CROSS JOIN (SELECT unnest(generate_series(0, {FUZZY_K - 1})) AS k)
  GROUP BY doc_id, k
), tr AS (
  SELECT doc_id, k, mh, count(*) OVER (PARTITION BY k, mh) AS bc
  FROM sigs WHERE doc_id % 19 <> 3
), pairs AS (
  SELECT t.doc_id AS train_doc_id, e.doc_id AS eval_doc_id,
         CAST(count(*) AS BIGINT) AS matches
  FROM tr t JOIN sigs e ON t.k = e.k AND t.mh = e.mh
  WHERE t.bc <= {FUZZY_BUCKET_CAP} AND e.doc_id % 19 = 3
  GROUP BY 1, 2
  HAVING count(*) >= {FUZZY_MIN_MATCHES}
)
SELECT train_doc_id, eval_doc_id, matches,
       CAST(round(matches * 1e6 / {FUZZY_K}) AS BIGINT) AS est_jaccard_e6
FROM pairs ORDER BY train_doc_id, eval_doc_id
"""


Q_DECONTAMINATE_SQL = f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
), pos AS (
  SELECT doc_id, t, unnest(generate_series(1, len(t) - {DECON_N - 1})) AS i
  FROM toks WHERE len(t) >= {DECON_N}
), grams AS (
  SELECT DISTINCT doc_id,
         array_to_string(t[CAST(i AS INT):CAST(i + {DECON_N - 1} AS INT)], ' ') AS ng
  FROM pos
), eval_ngs AS (
  SELECT DISTINCT ng FROM grams WHERE doc_id % 19 = 3
), train AS (
  SELECT * FROM grams WHERE doc_id % 19 <> 3
), totals AS (
  SELECT doc_id, count(*) AS n_ngrams FROM train GROUP BY doc_id
), hits AS (
  SELECT doc_id, count(*) AS n_contaminated
  FROM train WHERE ng IN (SELECT ng FROM eval_ngs) GROUP BY doc_id
)
SELECT t.doc_id, t.n_ngrams,
       coalesce(h.n_contaminated, 0) AS n_contaminated,
       round(coalesce(h.n_contaminated, 0) / t.n_ngrams, 6) AS contamination_frac
FROM totals t LEFT JOIN hits h USING (doc_id)
ORDER BY t.doc_id
"""


# --- external-artifact decontamination ----------------------------------------

# The shipped eval-set artifact (tools/make_evalset.py): a versioned
# parquet of distinct eval 5-grams, read from disk by BOTH engines — the
# production decontamination contract (r2 verdict "What's missing" #3:
# real pipelines check against a shipped eval-set artifact, not an
# in-corpus split recomputed per run).
EVALSET_PATH = os.path.abspath(
    os.path.join(os.path.dirname(__file__), "..", "..", "fixtures", "evalset_ngrams.parquet")
)


def q_external_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document contamination against the SHIPPED eval-set n-gram
    artifact (``fixtures/evalset_ngrams.parquet``).

    Scale shape: identical to ``q_decontaminate`` — per-doc distinct
    n-grams (Arrow UDF, one exchange), left-semi hash join against the
    artifact (kilobytes → Catalyst broadcasts it), per-doc count.  The
    eval side being a file means the corpus-side plan is byte-identical
    from day to day while the artifact is versioned independently —
    the deployment contract for eval suites."""
    d = _docs(spark, sf_dir)
    evalset = spark.read.parquet(EVALSET_PATH)
    grams = d.select(
        "doc_id",
        F.explode(distinct_ngrams_pandas(DECON_N)(F.col("text"))).alias("ng"),
    )
    totals = grams.groupBy("doc_id").agg(F.count("*").alias("n_ngrams"))
    hits = (
        grams.join(evalset, "ng", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_contaminated"))
    )
    return (
        totals.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_ngrams",
            F.coalesce("n_contaminated", F.lit(0)).alias("n_contaminated"),
            F.round(
                F.coalesce("n_contaminated", F.lit(0)) / F.col("n_ngrams"), 6
            ).alias("contamination_frac"),
        )
        .orderBy("doc_id")
    )


Q_EXTERNAL_DECONTAMINATE_SQL = f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
), pos AS (
  SELECT doc_id, t, unnest(generate_series(1, len(t) - {DECON_N - 1})) AS i
  FROM toks WHERE len(t) >= {DECON_N}
), grams AS (
  SELECT DISTINCT doc_id,
         array_to_string(t[CAST(i AS INT):CAST(i + {DECON_N - 1} AS INT)], ' ') AS ng
  FROM pos
), totals AS (
  SELECT doc_id, count(*) AS n_ngrams FROM grams GROUP BY doc_id
), hits AS (
  SELECT doc_id, count(*) AS n_contaminated
  FROM grams WHERE ng IN (SELECT ng FROM '{EVALSET_PATH}') GROUP BY doc_id
)
SELECT t.doc_id, t.n_ngrams,
       coalesce(h.n_contaminated, 0) AS n_contaminated,
       round(coalesce(h.n_contaminated, 0) / t.n_ngrams, 6) AS contamination_frac
FROM totals t LEFT JOIN hits h USING (doc_id)
ORDER BY t.doc_id
"""


# --- PII detection / redaction ------------------------------------------------

# Patterns restricted to syntax valid in BOTH Java regex (Spark) and RE2
# (DuckDB): char classes, bounded repetition, \\d, \\b.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+1 555-\d{4}"
IP_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def _pii_augmented(doc_id: F.Column, text: F.Column) -> F.Column:
    """The synthetic corpus contains no PII, so the query PLANTS
    deterministic synthetic PII (email / phone / IPv4, presence varying by
    doc_id) and then detects and redacts it — the detection plumbing is
    what the operator contract covers, and the oracle constructs the
    identical strings."""
    sid = doc_id.cast("string")
    return F.concat(
        text,
        F.when(
            doc_id % 3 != 0, F.concat(F.lit(" Contact user"), sid, F.lit("@example.com"))
        ).otherwise(F.lit("")),
        F.when(
            doc_id % 4 != 0,
            F.concat(F.lit(" call +1 555-"), F.lpad((doc_id % 10000).cast("string"), 4, "0")),
        ).otherwise(F.lit("")),
        F.when(
            doc_id % 5 != 0,
            F.concat(
                F.lit(" from 10."),
                (doc_id % 256).cast("string"),
                F.lit(".0."),
                (doc_id % 100).cast("string"),
            ),
        ).otherwise(F.lit("")),
    )


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scan + redaction: per-document counts of emails / phone numbers /
    IPv4 addresses and the md5 of the text after replacing each with a typed
    placeholder.  Map-only column expressions (JVM regex, no UDF) — at
    100 TB this pipelines into the scan like the other text signals."""
    d = _docs(spark, sf_dir)
    aug = _pii_augmented(F.col("doc_id"), F.col("text"))
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(aug, EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
        ),
        IP_RE,
        "<IP>",
    )
    return d.select(
        "doc_id",
        F.regexp_count(aug, F.lit(EMAIL_RE)).alias("n_email"),
        F.regexp_count(aug, F.lit(PHONE_RE)).alias("n_phone"),
        F.regexp_count(aug, F.lit(IP_RE)).alias("n_ip"),
        F.md5(redacted).alias("redacted_hash"),
    ).orderBy("doc_id")


_PII_AUG_SQL = """
text
|| CASE WHEN doc_id % 3 <> 0
        THEN ' Contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
        ELSE '' END
|| CASE WHEN doc_id % 4 <> 0
        THEN ' call +1 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        ELSE '' END
|| CASE WHEN doc_id % 5 <> 0
        THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
             || '.0.' || CAST(doc_id % 100 AS VARCHAR)
        ELSE '' END
"""

Q_PII_SCRUB_SQL = f"""
WITH aug AS (
  SELECT doc_id, {_PII_AUG_SQL} AS a FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(a, '{EMAIL_RE}')) AS INT) AS n_email,
       CAST(len(regexp_extract_all(a, '\\+1 555-\\d{{4}}')) AS INT) AS n_phone,
       CAST(len(regexp_extract_all(a, '\\b\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\b')) AS INT) AS n_ip,
       md5(regexp_replace(
             regexp_replace(
               regexp_replace(a, '{EMAIL_RE}', '<EMAIL>', 'g'),
               '\\+1 555-\\d{{4}}', '<PHONE>', 'g'),
             '\\b\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\b', '<IP>', 'g')
          ) AS redacted_hash
FROM aug ORDER BY doc_id
"""


# --- repetition quality signals ----------------------------------------------


def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-document repetition signals: duplicate-word
    fraction (1 − distinct/total), top-word fraction, top-bigram fraction.
    Two explode→groupBy aggregates (words, bigrams) joined per doc — at
    scale both shuffles are keyed by doc and map-side combined."""
    d = _docs(spark, sf_dir)
    toks = d.select("doc_id", _toks(F.col("text")).alias("t")).filter(
        F.size("t") > 0
    )
    wc = (
        toks.select("doc_id", F.explode("t").alias("w"))
        .groupBy("doc_id", "w")
        .count()
    )
    ws = wc.groupBy("doc_id").agg(
        F.sum("count").alias("n_tokens"),
        F.count("*").alias("n_distinct"),
        F.max("count").alias("max_w"),
    )
    bc = (
        toks.select("doc_id", F.explode(word_ngrams(F.col("t"), 2)).alias("b"))
        .groupBy("doc_id", "b")
        .count()
    )
    bs = bc.groupBy("doc_id").agg(
        F.sum("count").alias("n_bigrams"), F.max("count").alias("max_b")
    )
    return (
        ws.join(bs, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.round(1 - F.col("n_distinct") / F.col("n_tokens"), 6).alias(
                "dup_word_frac"
            ),
            F.round(F.col("max_w") / F.col("n_tokens"), 6).alias("top_word_frac"),
            F.coalesce(
                F.round(F.col("max_b") / F.col("n_bigrams"), 6), F.lit(0.0)
            ).alias("top_bigram_frac"),
        )
        .orderBy("doc_id")
    )


Q_REPETITION_SQL = """
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
  FROM documents WHERE trim(text) <> ''
), words AS (
  SELECT doc_id, unnest(t) AS w FROM toks
), wc AS (
  SELECT doc_id, w, count(*) AS c FROM words GROUP BY doc_id, w
), ws AS (
  SELECT doc_id, sum(c) AS n_tokens, count(*) AS n_distinct, max(c) AS max_w
  FROM wc GROUP BY doc_id
), bpos AS (
  SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i
  FROM toks WHERE len(t) >= 2
), bg AS (
  SELECT doc_id,
         list_extract(t, CAST(i AS INT)) || ' ' || list_extract(t, CAST(i + 1 AS INT)) AS b
  FROM bpos
), bc AS (
  SELECT doc_id, b, count(*) AS c FROM bg GROUP BY doc_id, b
), bs AS (
  SELECT doc_id, sum(c) AS n_bigrams, max(c) AS max_b FROM bc GROUP BY doc_id
)
SELECT ws.doc_id,
       CAST(ws.n_tokens AS BIGINT) AS n_tokens,
       round(1 - ws.n_distinct / ws.n_tokens, 6) AS dup_word_frac,
       round(ws.max_w / ws.n_tokens, 6) AS top_word_frac,
       CAST(coalesce(round(bs.max_b / bs.n_bigrams, 6), 0) AS DOUBLE)
         AS top_bigram_frac
FROM ws LEFT JOIN bs USING (doc_id)
ORDER BY ws.doc_id
"""


# --- deterministic hash sampling ---------------------------------------------


def q_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic, retry-stable sampling: a ~20% bernoulli sample via an
    md5 threshold (first 8 hex chars < '33333333' ⇔ u32 < 0.2·2³²) and an
    exactly-3-per-source stratified sample via a hash-ordered row_number.
    Hash sampling beats rand() at scale because membership is a pure
    function of the key — task retries, AQE re-plans, and incremental
    reruns all agree on the sample."""
    d = _docs(spark, sf_dir)
    hkey = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8)
    w = Window.partitionBy("source").orderBy(F.col("hkey"), F.col("doc_id"))
    return (
        d.select("doc_id", "source", hkey.alias("hkey"))
        .withColumn("in_bernoulli", (F.col("hkey") < "33333333").cast("int"))
        .withColumn("strat_rank", F.row_number().over(w))
        .withColumn("strat_keep", (F.col("strat_rank") <= 3).cast("int"))
        .select("doc_id", "source", "hkey", "in_bernoulli", "strat_keep")
        .orderBy("doc_id")
    )


Q_HASH_SAMPLE_SQL = """
WITH h AS (
  SELECT doc_id, source, substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS hkey
  FROM documents
)
SELECT doc_id, source, hkey,
       CAST(hkey < '33333333' AS INT) AS in_bernoulli,
       CAST(row_number() OVER (PARTITION BY source ORDER BY hkey, doc_id) <= 3
            AS INT) AS strat_keep
FROM h ORDER BY doc_id
"""


# --- exact stratified train/val/test split -----------------------------------


def q_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-proportion 80/10/10 train/val/test assignment per language
    stratum: every stratum gets EXACTLY floor(8n/10) train rows,
    floor(9n/10)-floor(8n/10) val rows, remainder test — the contract
    shape when a threshold split's binomial wobble is unacceptable
    (tiny strata, contractual eval sizes).

    Assignment is a pure function of doc_id (md5 order), so retries and
    incremental reruns agree.  The per-stratum rank and stratum size are
    ``operators/ids.prefix_sum`` by lang: range partitions on (lang,
    hash), a partition-local row_number and a broadcast per-(partition,
    lang) offset frame — strata SPAN partitions, so one hot language
    never serializes onto one partition (the Window.partitionBy(lang)
    shape would; that hazard is exactly why ``q_hash_sample``'s
    per-source rank is only for tiny-k picks).  At 100 TB prefer the
    threshold split (``q_hash_sample``) unless exact counts are
    contractual."""
    d = _docs(spark, sf_dir)
    hk = F.md5(F.col("doc_id").cast("string"))
    ranked = prefix_sum(
        d.select("doc_id", "lang", hk.alias("hk")), ["hk", "doc_id"], by=["lang"]
    ).select("doc_id", "lang", F.col("run").alias("rank"), F.col("total").alias("n"))
    n_train = F.expr("(8 * n) div 10")
    n_val = F.expr("(9 * n) div 10")
    return (
        ranked.select(
            "doc_id",
            "lang",
            "rank",
            F.when(F.col("rank") <= n_train, F.lit("train"))
            .when(F.col("rank") <= n_val, F.lit("val"))
            .otherwise(F.lit("test"))
            .alias("split"),
        )
        .orderBy("doc_id")
    )


Q_STRATIFIED_SPLIT_SQL = """
WITH h AS (
  SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR)) AS hk FROM documents
), ranked AS (
  SELECT doc_id, lang,
         CAST(row_number() OVER (PARTITION BY lang ORDER BY hk, doc_id)
              AS BIGINT) AS rank,
         count(*) OVER (PARTITION BY lang) AS n
  FROM h
)
SELECT doc_id, lang, rank,
       CASE WHEN rank <= (8 * n) // 10 THEN 'train'
            WHEN rank <= (9 * n) // 10 THEN 'val'
            ELSE 'test' END AS split
FROM ranked ORDER BY doc_id
"""


# --- token chunking -----------------------------------------------------------

CHUNK, STRIDE = 32, 16


def q_token_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size token windows with stride (training-sequence chunking):
    each document yields chunks of up to 32 tokens starting every 16.
    Array-side ``sequence`` + ``slice`` then one explode — no shuffle; row
    amplification is bounded by tokens/stride."""
    d = _docs(spark, sf_dir)
    toks = d.select("doc_id", _toks(F.col("text")).alias("t")).filter(
        F.size("t") > 0
    )
    return (
        toks.select(
            "doc_id",
            "t",
            F.explode(
                F.sequence(F.lit(1), F.size("t"), F.lit(STRIDE))
            ).alias("s"),
        )
        .select(
            "doc_id",
            ((F.col("s") - 1) / STRIDE).cast("int").alias("chunk_idx"),
            F.size(F.slice(F.col("t"), F.col("s"), F.lit(CHUNK))).alias(
                "n_in_chunk"
            ),
            F.md5(F.concat_ws(" ", F.slice(F.col("t"), F.col("s"), F.lit(CHUNK)))).alias(
                "chunk_hash"
            ),
        )
        .orderBy("doc_id", "chunk_idx")
    )


Q_TOKEN_CHUNKS_SQL = f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
  FROM documents WHERE trim(text) <> ''
), pos AS (
  SELECT doc_id, t, unnest(generate_series(1, len(t), {STRIDE})) AS s FROM toks
)
SELECT doc_id,
       CAST((s - 1) // {STRIDE} AS INT) AS chunk_idx,
       CAST(len(t[CAST(s AS INT):CAST(s + {CHUNK - 1} AS INT)]) AS INT)
         AS n_in_chunk,
       md5(array_to_string(t[CAST(s AS INT):CAST(s + {CHUNK - 1} AS INT)], ' '))
         AS chunk_hash
FROM pos ORDER BY doc_id, chunk_idx
"""


# --- sequence packing ---------------------------------------------------------

PACK_BUDGET = 64  # tokens per training sequence


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-then-split sequence packing (the standard pretraining packer):
    within each source, documents are concatenated in doc_id order and cut
    into fixed 64-token training sequences; each document reports the
    sequence it starts in, its offset there, and how many sequences it
    spans.  One prefix-sum window PER SOURCE — packing parallelizes across
    sources, and a single giant source would swap in
    ``operators/ids.prefix_sum`` by source (per-partition sums + broadcast
    offsets) rather than one task per source."""
    from changegen_spark.functions.text import token_count

    d = _docs(spark, sf_dir)
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    toks = d.select("doc_id", "source", token_count(F.col("text")).alias("n_tokens"))
    start = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return (
        toks.withColumn("start_tok", start)
        .select(
            "doc_id",
            "source",
            "n_tokens",
            F.floor(F.col("start_tok") / PACK_BUDGET).cast("long").alias("seq_id"),
            (F.col("start_tok") % PACK_BUDGET).alias("offset_in_seq"),
            F.when(F.col("n_tokens") == 0, F.lit(0))
            .otherwise(
                F.floor((F.col("start_tok") + F.col("n_tokens") - 1) / PACK_BUDGET)
                - F.floor(F.col("start_tok") / PACK_BUDGET)
                + 1
            )
            .cast("long")
            .alias("n_seqs_spanned"),
        )
        .orderBy("doc_id")
    )


Q_PACK_SEQUENCES_SQL = f"""
WITH toks AS (
  SELECT doc_id, source,
         CASE WHEN trim(text) = '' THEN 0
              ELSE CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
         END AS n_tokens
  FROM documents
), pos AS (
  SELECT doc_id, source, n_tokens,
         coalesce(sum(n_tokens) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_tok
  FROM toks
)
SELECT doc_id, source, n_tokens,
       CAST(start_tok // {PACK_BUDGET} AS BIGINT) AS seq_id,
       CAST(start_tok % {PACK_BUDGET} AS BIGINT) AS offset_in_seq,
       CAST(CASE WHEN n_tokens = 0 THEN 0
                 ELSE (start_tok + n_tokens - 1) // {PACK_BUDGET}
                      - start_tok // {PACK_BUDGET} + 1
            END AS BIGINT) AS n_seqs_spanned
FROM pos ORDER BY doc_id
"""


# --- padding-waste audit (r7) -------------------------------------------------
#
# Padded (non-packed) fine-tuning batches waste FLOPs on pad tokens; the
# standard mitigation is length-bucketed batching.  This audit quantifies
# the win on the actual corpus: batches of PAD_B docs padded to their own
# max length, under (a) arrival order (batch = doc_id div B) and
# (b) length-bucketed order (length bucket, then (n_tokens, doc_id) rank
# within the bucket).  waste_e6 = padded-but-unused slot fraction.
#
# Scale: (a) is map-side arithmetic; (b) ranks within LENGTH BUCKETS —
# bounded, ~uniform groups (the bucket count grows with max doc length,
# not corpus size; a skew-heavy corpus would swap in the ccnet
# range-partition rank stitch, queries/curation.py).

PAD_B = 8  # docs per batch
PAD_BUCKET = 16  # length-bucket width in tokens


def q_padding_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two rows (policy, n_batches, slots, used_tokens, waste_e6):
    dynamic-padding waste under arrival-order vs length-bucketed
    batching — the measured case for bucketed batching on this corpus."""
    from changegen_spark.functions.text import token_count

    d = _docs(spark, sf_dir).select(
        "doc_id", token_count(F.col("text")).alias("n_tokens")
    )
    arrival = d.withColumn(
        "bkey", F.floor(F.col("doc_id") / PAD_B).cast("long")
    )
    wb = Window.partitionBy("lb").orderBy("n_tokens", "doc_id")
    bucketed = (
        d.withColumn("lb", F.floor(F.col("n_tokens") / PAD_BUCKET))
        .withColumn(
            "bkey",
            F.col("lb") * 1_000_000_000
            + F.floor((F.row_number().over(wb) - 1) / PAD_B).cast("long"),
        )
    )

    def audit(frame: DataFrame, policy: str) -> DataFrame:
        batches = frame.groupBy("bkey").agg(
            F.count("*").alias("n"),
            F.max("n_tokens").alias("mx"),
            F.sum("n_tokens").alias("used"),
        )
        return batches.agg(
            F.lit(policy).alias("policy"),
            F.count("*").cast("long").alias("n_batches"),
            F.sum(F.col("n") * F.col("mx")).cast("long").alias("slots"),
            F.sum("used").cast("long").alias("used_tokens"),
        ).select(
            "policy",
            "n_batches",
            "slots",
            "used_tokens",
            F.round((F.col("slots") - F.col("used_tokens")) * 1e6 / F.col("slots"))
            .cast("long")
            .alias("waste_e6"),
        )

    return (
        audit(arrival, "arrival")
        .unionByName(audit(bucketed.select("doc_id", "n_tokens", "bkey"), "bucketed"))
        .orderBy("policy")
    )


Q_PADDING_WASTE_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         CASE WHEN trim(text) = '' THEN 0
              ELSE CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
         END AS n_tokens
  FROM documents
), arrival AS (
  SELECT doc_id, n_tokens, CAST(doc_id // {PAD_B} AS BIGINT) AS bkey FROM toks
), ranked AS (
  SELECT doc_id, n_tokens, n_tokens // {PAD_BUCKET} AS lb,
         row_number() OVER (PARTITION BY n_tokens // {PAD_BUCKET}
                            ORDER BY n_tokens, doc_id) AS rn
  FROM toks
), bucketed AS (
  SELECT doc_id, n_tokens,
         CAST(lb * 1000000000 + (rn - 1) // {PAD_B} AS BIGINT) AS bkey
  FROM ranked
), audits AS (
  SELECT 'arrival' AS policy, bkey, count(*) AS n, max(n_tokens) AS mx,
         sum(n_tokens) AS used
  FROM arrival GROUP BY bkey
  UNION ALL
  SELECT 'bucketed', bkey, count(*), max(n_tokens), sum(n_tokens)
  FROM bucketed GROUP BY bkey
)
SELECT policy, CAST(count(*) AS BIGINT) AS n_batches,
       CAST(sum(n * mx) AS BIGINT) AS slots,
       CAST(sum(used) AS BIGINT) AS used_tokens,
       CAST(round((sum(n * mx) - sum(used)) * 1e6 / sum(n * mx)) AS BIGINT) AS waste_e6
FROM audits GROUP BY policy ORDER BY policy
"""


# --- end-to-end corpus pipeline ----------------------------------------------


def corpus_pipeline(
    d: DataFrame,
    is_eval=None,
    min_tokens: int = 20,
    min_alpha: float = 0.5,
    max_contamination: float = 0.5,
    pack_budget: int = None,
    keep_text: bool = False,
    sort: bool = True,
) -> DataFrame:
    """Parameterized end-to-end corpus build: exact dedup (min doc_id per
    content hash) → quality gate (≥min_tokens, alpha_ratio ≥ min_alpha) →
    eval-holdout exclusion + decontamination (≤max_contamination n-gram
    overlap vs the holdout) → per-source sequence packing.  The CONTRACT
    instantiation (the oracle-checked q_corpus_pipeline) uses the default
    thresholds and is_eval = doc_id %% 19 == 3; the corpus CLI
    (``python -m changegen_spark.corpus``) drives the same code path with
    user thresholds.  Shuffle inventory at scale: one hash agg (dedup),
    one n-gram distinct + semi-join (decon), one per-source window (pack)
    — nothing quadratic, nothing driver-side.  ``sort=False`` drops the
    final presentation ``orderBy`` (a full-output range exchange whose
    only purpose is display determinism) — the scale path for
    programmatic consumers: the corpus CLI writes hash-placed shards
    whose within-shard order the sink itself fixes, so a global sort
    here is pure waste at 100 TB (r4 verdict #5; plan-pinned: no
    rangepartitioning exchange in the sort=False plan)."""
    from changegen_spark.functions.text import quality_features

    if pack_budget is None:
        pack_budget = PACK_BUDGET
    if is_eval is None:
        is_eval = F.lit(False)
    # 1. exact dedup, first-writer (min doc_id) wins
    hashed = d.withColumn("__h", F.md5(F.trim("text")))
    keep = hashed.groupBy("__h").agg(F.min("doc_id").alias("doc_id"))
    dedup = hashed.join(keep, ["__h", "doc_id"], "left_semi")
    # 2. quality gate (exact quality_features expressions)
    feats = quality_features(F.col("text"))
    qual = dedup.select(
        "doc_id",
        "source",
        "text",
        feats["n_tokens"].alias("n_tokens"),
        feats["alpha_ratio"].alias("alpha_ratio"),
    ).filter(
        (F.col("n_tokens") >= min_tokens) & (F.col("alpha_ratio") >= min_alpha)
    )
    # 3. decontamination vs the eval split (docs with <5 tokens have no
    # n-grams → no decon row → treated as clean; they cannot reach here
    # anyway with the ≥20-token gate)
    grams = (
        d.select(
            "doc_id",
            F.explode(distinct_ngrams_pandas(DECON_N)(F.col("text"))).alias("ng"),
        )
        .distinct()
    )
    eval_ngs = grams.filter(is_eval).select("ng").distinct()
    train = grams.filter(~is_eval)
    totals = train.groupBy("doc_id").agg(F.count("*").alias("n_ngrams"))
    hits = (
        train.join(eval_ngs, "ng", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hits"))
    )
    decon = totals.join(hits, "doc_id", "left").select(
        "doc_id",
        F.round(F.coalesce("n_hits", F.lit(0)) / F.col("n_ngrams"), 6).alias(
            "contamination_frac"
        ),
    )
    final = (
        qual.filter(~is_eval)
        .join(decon, "doc_id", "left")
        .withColumn(
            "contamination_frac", F.coalesce("contamination_frac", F.lit(0.0))
        )
        .filter(F.col("contamination_frac") <= max_contamination)
    )
    # 4. pack survivors into training sequences per source
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    text_cols = ["text"] if keep_text else []
    out = final.withColumn("start_tok", start).select(
        "doc_id",
        "source",
        "n_tokens",
        "contamination_frac",
        F.floor(F.col("start_tok") / pack_budget).cast("long").alias("seq_id"),
        (F.col("start_tok") % pack_budget).alias("offset_in_seq"),
        *text_cols,
    )
    return out.orderBy("doc_id") if sort else out


def q_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship training-data pipeline contract row: the parameterized
    ``corpus_pipeline`` at the contract constants (dedup → ≥20-token /
    ≥0.5-alpha quality gate → doc_id %% 19 == 3 eval holdout, ≤0.5
    contamination → per-source packing) — hash-checked against the
    DuckDB oracle below."""
    return corpus_pipeline(
        _docs(spark, sf_dir), is_eval=F.col("doc_id") % 19 == 3
    )


Q_CORPUS_PIPELINE_SQL = f"""
WITH hashed AS (
  SELECT doc_id, source, text, md5(trim(text)) AS h FROM documents
), keepmin AS (
  SELECT h, min(doc_id) AS doc_id FROM hashed GROUP BY h
), dedup AS (
  SELECT hashed.* FROM hashed JOIN keepmin USING (h, doc_id)
), qual AS (
  SELECT doc_id, source,
         CASE WHEN trim(text) = '' THEN 0
              ELSE CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
         END AS n_tokens,
         CASE WHEN length(text) > 0
              THEN round(CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
                         / length(text), 6)
              ELSE 0.0 END AS alpha_ratio
  FROM dedup
), quals AS (
  SELECT * FROM qual WHERE n_tokens >= 20 AND alpha_ratio >= 0.5
), toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
), pos AS (
  SELECT doc_id, t, unnest(generate_series(1, len(t) - {DECON_N - 1})) AS i
  FROM toks WHERE len(t) >= {DECON_N}
), grams AS (
  SELECT DISTINCT doc_id,
         array_to_string(t[CAST(i AS INT):CAST(i + {DECON_N - 1} AS INT)], ' ') AS ng
  FROM pos
), eval_ngs AS (
  SELECT DISTINCT ng FROM grams WHERE doc_id % 19 = 3
), train AS (
  SELECT * FROM grams WHERE doc_id % 19 <> 3
), totals AS (
  SELECT doc_id, count(*) AS n_ngrams FROM train GROUP BY doc_id
), hits AS (
  SELECT doc_id, count(*) AS n_hits
  FROM train WHERE ng IN (SELECT ng FROM eval_ngs) GROUP BY doc_id
), decon AS (
  SELECT t.doc_id,
         round(coalesce(h.n_hits, 0) / t.n_ngrams, 6) AS contamination_frac
  FROM totals t LEFT JOIN hits h USING (doc_id)
), final AS (
  SELECT q.doc_id, q.source, q.n_tokens,
         coalesce(d.contamination_frac, 0.0) AS contamination_frac
  FROM quals q LEFT JOIN decon d USING (doc_id)
  WHERE q.doc_id % 19 <> 3 AND coalesce(d.contamination_frac, 0.0) <= 0.5
), packed AS (
  SELECT *,
         coalesce(sum(n_tokens) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_tok
  FROM final
)
SELECT doc_id, source, n_tokens, contamination_frac,
       CAST(start_tok // {PACK_BUDGET} AS BIGINT) AS seq_id,
       CAST(start_tok % {PACK_BUDGET} AS BIGINT) AS offset_in_seq
FROM packed ORDER BY doc_id
"""


# --- data-mixing plan ---------------------------------------------------------


def q_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixing budget plan: target half the corpus tokens, split evenly
    across sources; each source reports its sampling rate (capped at 1.0)
    and the exact token count it contributes (integer arithmetic, so the
    plan is reproducible).  Shape at scale: one groupBy(source) with
    map-side combine + a broadcast of the one-row totals — the planning
    step ahead of a weighted `q_hash_sample`-style rate-threshold pass."""
    from changegen_spark.functions.text import token_count

    d = _docs(spark, sf_dir)
    per_src = d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(token_count(F.col("text"))).alias("n_tokens"),
    )
    totals = per_src.agg(
        F.sum("n_tokens").alias("total_tokens"),
        F.count("*").alias("n_sources"),
    )
    budget = F.floor(
        F.floor(F.col("total_tokens") / 2) / F.col("n_sources")
    ).cast("long")
    return (
        per_src.crossJoin(F.broadcast(totals))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            budget.alias("budget_tokens"),
            F.round(
                F.least(F.lit(1.0), budget / F.col("n_tokens")), 6
            ).alias("sample_rate"),
            F.least(F.col("n_tokens"), budget).alias("contrib_tokens"),
        )
        .orderBy("source")
    )


Q_MIXTURE_PLAN_SQL = """
WITH per_src AS (
  SELECT source, count(*) AS n_docs,
         sum(CASE WHEN trim(text) = '' THEN 0
                  ELSE CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
             END) AS n_tokens
  FROM documents GROUP BY source
), totals AS (
  SELECT sum(n_tokens) AS total_tokens, count(*) AS n_sources FROM per_src
)
SELECT source, n_docs, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST((total_tokens // 2) // n_sources AS BIGINT) AS budget_tokens,
       round(least(1.0, CAST((total_tokens // 2) // n_sources AS DOUBLE) / n_tokens), 6)
         AS sample_rate,
       CAST(least(n_tokens, (total_tokens // 2) // n_sources) AS BIGINT)
         AS contrib_tokens
FROM per_src CROSS JOIN totals
ORDER BY source
"""


WS_SAMPLES = 50  # systematic sample size


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact weighted systematic (PPS) sampling: {WS_SAMPLES} sample points
    at positions k·W/{WS_SAMPLES} (k = 0..m-1) over the cumulative weight
    line of documents ordered by doc_id, weight = n_chars.  A document is
    picked once per sample point falling inside its weight interval
    [c_i, c_i + w_i) — large documents can be picked multiply, the defined
    PPS-with-multiplicity contract (the inclusion-probability shape data
    mixtures use to sample by token budget rather than by document count).

    Everything is integer arithmetic:  n_picks_i =
    ceil((c_i+w_i)·m / W) - ceil(c_i·m / W) with ceil(a/b) =
    (a + b - 1) div b — engine-exact, and Σ n_picks = m by telescoping.

    Scale shape: the exclusive prefix sum c_i = run - w_i and the total
    weight W are ``operators/ids.prefix_sum`` over doc_id: range
    partitions, a partition-local running sum, then per-partition offsets
    from a window over the TINY (num_partitions)-row frame broadcast
    back.  No global single-partition pass ever touches the data; the
    result is partitioning-invariant because the prefix sum is defined by
    the global doc_id order, not by where partition boundaries fall."""
    d = _docs(spark, sf_dir).select(
        "doc_id", F.col("n_chars").cast("long").alias("w")
    )
    ceil_div = lambda a: F.expr(f"({a} + tw - 1) div tw")  # noqa: E731
    return (
        prefix_sum(d, ["doc_id"], value="w")
        .select(
            "doc_id", "w", (F.col("run") - F.col("w")).alias("c"),
            F.col("total").alias("tw"),
        )
        .withColumn(
            "n_picks",
            (
                ceil_div(f"(c + w) * {WS_SAMPLES}") - ceil_div(f"c * {WS_SAMPLES}")
            ).cast("long"),
        )
        .filter(F.col("n_picks") > 0)
        .select("doc_id", "w", "c", "n_picks")
        .orderBy("doc_id")
    )


Q_WEIGHTED_SAMPLE_SQL = f"""
WITH d AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS w,
         CAST(coalesce(sum(n_chars) OVER (ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS c
  FROM documents
), t AS (SELECT CAST(sum(n_chars) AS BIGINT) AS tw FROM documents)
SELECT doc_id, w, c,
       CAST(((c + w) * {WS_SAMPLES} + tw - 1) // tw
            - (c * {WS_SAMPLES} + tw - 1) // tw AS BIGINT) AS n_picks
FROM d CROSS JOIN t
WHERE ((c + w) * {WS_SAMPLES} + tw - 1) // tw
      - (c * {WS_SAMPLES} + tw - 1) // tw > 0
ORDER BY doc_id
"""



RS_K = 50
_TWO60F = float(1 << 60)


def es_sample_keys(id_col, w_col, salt: str = ""):
    """Efraimidis-Spirakis sampling key: -ln(u)/w with u a DETERMINISTIC
    uniform in (0, 1] derived from the shared 60-bit md5 hash of the row
    id (optionally salted) -- reproducible across retries/engines, unlike
    rand().  k smallest keys = a without-replacement weighted sample with
    P(i first) = w_i / sum(w) (Efraimidis & Spirakis 2006, the one-pass
    distributed weighted sampler).  Rounded to 9 dp so the Spark/DuckDB
    libm ulp gap cannot reorder; ties broken by id downstream."""
    from changegen_spark.queries.sketches import h60

    h = h60(F.concat(F.lit(salt), id_col.cast("string"))) if salt else h60(id_col)
    u = (h.cast("double") + F.lit(1.0)) / F.lit(_TWO60F)
    # Zero/NULL weight must NOT yield a NULL key: Spark's x/0 is NULL and
    # ascending orderBy puts NULLs FIRST, which would select weight-0 rows
    # at the head of the sample (DuckDB yields inf and sorts them last —
    # a silent cross-engine divergence).  A weight-0 row has selection
    # probability 0 under E-S, so its key is +inf == never sampled; the
    # query-level w > 0 filters keep such rows out of the plan entirely.
    return F.when(
        w_col.cast("double") > 0, F.round(-F.log(u) / w_col.cast("double"), 9)
    ).otherwise(F.lit(float("inf")))


def q_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed weighted reservoir sample WITHOUT replacement: the
    {RS_K} documents with the smallest Efraimidis-Spirakis keys
    (weight = n_chars).  The complement of q_weighted_sample's PPS
    systematic sampler: no prefix sum, no global ordering pass -- one
    map computes keys, TakeOrderedAndProject keeps a k-row heap per
    partition and merges k rows on the driver, the cheapest possible
    plan for "sample k of 100 TB by weight" (plan-pinned)."""
    d = (
        _docs(spark, sf_dir)
        .select("doc_id", F.col("n_chars").cast("long").alias("w"))
        .filter(F.col("w") > 0)  # weight 0 ⇒ P(select)=0; see es_sample_keys
    )
    keyed = d.withColumn("es_key", es_sample_keys(F.col("doc_id"), F.col("w")))
    return (
        keyed.orderBy("es_key", "doc_id")
        .limit(RS_K)
        .select("doc_id", "w", "es_key")
    )


RS_GROUP_K = 10


def q_reservoir_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum weighted reservoir: the RS_GROUP_K smallest E-S keys
    WITHIN each source — weighted sampling per group in one window pass
    (rank pushes a partial WindowGroupLimit below the shuffle, so each
    map task forwards at most k rows per group; plan-pinned).  The
    grouped form of q_reservoir_sample for per-domain quota sampling."""
    d = (
        _docs(spark, sf_dir)
        .select("doc_id", "source", F.col("n_chars").cast("long").alias("w"))
        .filter(F.col("w") > 0)  # weight 0 ⇒ P(select)=0; see es_sample_keys
    )
    keyed = d.withColumn("es_key", es_sample_keys(F.col("doc_id"), F.col("w")))
    win = Window.partitionBy("source").orderBy("es_key", "doc_id")
    return (
        keyed.withColumn("rank", F.row_number().over(win).cast("long"))
        .filter(F.col("rank") <= RS_GROUP_K)
        .select("source", "doc_id", "w", "es_key", "rank")
        .orderBy("source", "rank")
    )


Q_RESERVOIR_PER_SOURCE_SQL = f"""
WITH keyed AS (
  SELECT doc_id, source, CAST(n_chars AS BIGINT) AS w,
         round(-ln(((CAST({{h}} AS DOUBLE) + 1.0) / {{two60}}))
               / CAST(n_chars AS DOUBLE), 9) AS es_key
  FROM documents WHERE n_chars > 0
), ranked AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY source
                                    ORDER BY es_key, doc_id) AS BIGINT) AS rank
  FROM keyed
)
SELECT source, doc_id, w, es_key, rank
FROM ranked WHERE rank <= {{k}}
ORDER BY source, rank
"""


_RS_U = (
    "((CAST(" + _H60_SQL.format(x="doc_id") + " AS DOUBLE) + 1.0) / "
    + repr(_TWO60F) + ")"
)

Q_RESERVOIR_SAMPLE_SQL = f"""
WITH keyed AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS w,
         round(-ln({_RS_U}) / CAST(n_chars AS DOUBLE), 9) AS es_key
  FROM documents WHERE n_chars > 0
)
SELECT doc_id, w, es_key
FROM keyed
ORDER BY es_key, doc_id
LIMIT {RS_K}
"""

DSIR_BUCKETS = 4096
DSIR_TARGET = "src0"  # the target-domain slice (documents.source)
DSIR_K = 50


def _dsir_occ(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, bucket) bigram-occurrence frame shared by the
    distribution builder and the per-doc weighting."""
    from changegen_spark.queries.sketches import h60

    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", "source", _toks(F.col("text")).alias("t")).filter(
        (F.trim(F.col("source")).isNotNull()) & (F.size("t") >= 2)
    )
    return toks.select(
        "doc_id",
        "source",
        F.explode(word_ngrams(F.col("t"), 2)).alias("g"),
    ).select(
        "doc_id", "source", F.pmod(h60(F.col("g")), F.lit(DSIR_BUCKETS)).alias("b")
    )


def _dsir_ratio_from_per_bucket(per_b: DataFrame) -> DataFrame:
    """(b, c_r, c_t) per-bucket counts → (b, term_e6) smoothed e6-integer
    log p/q ratios.  The totals n_r / n_t are derived from the SAME tiny
    per-bucket frame (one broadcastable aggregate), and the conditional
    c_t column replaces the r13 second (filtered) corpus aggregate + left
    join — exact integer inputs either way, so term_e6 is bit-identical."""
    n = per_b.agg(F.sum("c_r").alias("n_r"), F.sum("c_t").alias("n_t"))
    B = F.lit(DSIR_BUCKETS)
    return per_b.crossJoin(F.broadcast(n)).select(
        "b",
        F.round(
            F.lit(1e6)
            * F.log(
                ((F.col("c_t") + 1) * (F.col("n_r") + B)).cast("double")
                / ((F.col("c_r") + 1) * (F.col("n_t") + B)).cast("double")
            )
        )
        .cast("long")
        .alias("term_e6"),
    )


def _dsir_ratio_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned (bucket, e6-integer log p/q ratio) table — the KB-sized
    DSIR model artifact (also exported to the streaming scorer via
    ``streaming.corpus.dsir_ratio_terms``).

    One corpus pass (r14, guide §2.4): both distributions come from a
    single bucket-keyed aggregate with a conditional target count — the
    r13 shape ran the tokenize+explode twice (raw and the filtered tgt)
    and stitched them with a left join."""
    occ = _dsir_occ(spark, sf_dir)
    per_b = occ.groupBy("b").agg(
        F.count("*").alias("c_r"),
        F.count(F.when(F.col("source") == DSIR_TARGET, True)).alias("c_t"),
    )
    return _dsir_ratio_from_per_bucket(per_b)


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al. 2023, "Data Selection for Language
    Models via Importance Resampling"): hashed-bigram importance weights
    of every document against a target domain, plus the top-k selection.

    Features are bigrams hashed into DSIR_BUCKETS buckets; the target
    distribution p comes from the DSIR_TARGET source slice, the raw
    distribution q from the whole corpus (both add-one smoothed).  A
    document's weight is Σ_b count_b · log(p_b / q_b) — computed with one
    shared e6-scaled-integer log-ratio per bucket, so the per-doc sum is
    exact integer arithmetic (shuffle-order-proof, engine-identical).

    Scale: ONE explode+groupBy pass over the corpus (r14, guide §2.4 —
    the r13 plan re-ran the tokenize+explode three times: raw, the
    filtered tgt, and docb) builds the fenced per-document histogram;
    both distributions derive from it with bucket-keyed aggregates over
    KB-sized frames; the 4096-row log-ratio table broadcasts; per-doc
    weighting is a bucket-keyed aggregate; selection is a TakeOrdered
    top-k, never a global sort.

    Output: doc_id, n_grams, logw_e6, selected (1 for the DSIR_K docs
    with the highest weight, ties to the smaller doc_id)."""
    # (doc_id, source, b, c): source is functional on doc_id, so the
    # groups — and c — are exactly the r13 (doc_id, b) histogram; carrying
    # source lets the target distribution derive from this same frame.
    docb = (
        _dsir_occ(spark, sf_dir)
        .groupBy("doc_id", "source", "b")
        .agg(F.count("*").alias("c"))
        .transform(fence, "q_dsir_weights docb", eager=False)
    )
    per_b = docb.groupBy("b").agg(
        F.sum("c").alias("c_r"),
        F.sum(
            F.when(F.col("source") == DSIR_TARGET, F.col("c")).otherwise(0)
        ).alias("c_t"),
    )
    ratio = _dsir_ratio_from_per_bucket(per_b)
    weights = (
        docb.join(F.broadcast(ratio), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_grams"),
            F.sum(F.col("c") * F.col("term_e6")).alias("logw_e6"),
        )
    )
    top = (
        weights.orderBy(F.col("logw_e6").desc(), "doc_id")
        .limit(DSIR_K)
        .select("doc_id", F.lit(1).alias("selected"))
    )
    return (
        weights.join(top, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_grams").cast("long").alias("n_grams"),
            "logw_e6",
            F.coalesce("selected", F.lit(0)).alias("selected"),
        )
        .orderBy("doc_id")
    )


Q_DSIR_WEIGHTS_SQL = f"""
WITH toks AS (
  SELECT doc_id, source, string_split_regex(trim(text), '\\s+') AS t
  FROM documents WHERE trim(text) <> '' AND trim(source) IS NOT NULL
), bpos AS (
  SELECT doc_id, source, t, unnest(generate_series(1, len(t) - 1)) AS i
  FROM toks WHERE len(t) >= 2
), occ AS (
  SELECT doc_id, source,
         ({_H60_SQL.format(x="list_extract(t, CAST(i AS INT)) || ' ' || list_extract(t, CAST(i + 1 AS INT))")})
           % {DSIR_BUCKETS} AS b
  FROM bpos
), raw AS (
  SELECT b, count(*) AS c_r FROM occ GROUP BY b
), tgt AS (
  SELECT b, count(*) AS c_t FROM occ WHERE source = '{DSIR_TARGET}' GROUP BY b
), nr AS (SELECT sum(c_r) AS n_r FROM raw),
nt AS (SELECT sum(c_t) AS n_t FROM tgt),
ratio AS (
  SELECT raw.b,
         CAST(round(1e6 * ln(
           CAST((coalesce(tgt.c_t, 0) + 1) * (nr.n_r + {DSIR_BUCKETS}) AS DOUBLE)
           / CAST((raw.c_r + 1) * (nt.n_t + {DSIR_BUCKETS}) AS DOUBLE)
         )) AS BIGINT) AS term_e6
  FROM raw LEFT JOIN tgt ON raw.b = tgt.b CROSS JOIN nr CROSS JOIN nt
), docb AS (
  SELECT doc_id, b, count(*) AS c FROM occ GROUP BY doc_id, b
), weights AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
         CAST(sum(c * term_e6) AS BIGINT) AS logw_e6
  FROM docb JOIN ratio ON docb.b = ratio.b
  GROUP BY doc_id
), ranked AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY logw_e6 DESC, doc_id) AS rn
  FROM weights
)
SELECT w.doc_id, w.n_grams, w.logw_e6,
       CASE WHEN r.rn <= {DSIR_K} THEN 1 ELSE 0 END AS selected
FROM weights w JOIN ranked r ON w.doc_id = r.doc_id
ORDER BY w.doc_id
"""


QUERIES = {
    "q_dsir_weights": q_dsir_weights,
    "q_decontaminate": q_decontaminate,
    "q_fuzzy_decontaminate": q_fuzzy_decontaminate,
    "q_padding_waste": q_padding_waste,
    "q_weighted_sample": q_weighted_sample,
    "q_external_decontaminate": q_external_decontaminate,
    "q_corpus_pipeline": q_corpus_pipeline,
    "q_mixture_plan": q_mixture_plan,
    "q_pii_scrub": q_pii_scrub,
    "q_repetition": q_repetition,
    "q_hash_sample": q_hash_sample,
    "q_reservoir_sample": q_reservoir_sample,
    "q_reservoir_per_source": q_reservoir_per_source,
    "q_stratified_split": q_stratified_split,
    "q_token_chunks": q_token_chunks,
    "q_pack_sequences": q_pack_sequences,
}

ORACLES = {
    "q_dsir_weights": Q_DSIR_WEIGHTS_SQL,
    "q_decontaminate": Q_DECONTAMINATE_SQL,
    "q_fuzzy_decontaminate": Q_FUZZY_DECONTAMINATE_SQL,
    "q_padding_waste": Q_PADDING_WASTE_SQL,
    "q_weighted_sample": Q_WEIGHTED_SAMPLE_SQL,
    "q_external_decontaminate": Q_EXTERNAL_DECONTAMINATE_SQL,
    "q_corpus_pipeline": Q_CORPUS_PIPELINE_SQL,
    "q_mixture_plan": Q_MIXTURE_PLAN_SQL,
    "q_pii_scrub": Q_PII_SCRUB_SQL,
    "q_repetition": Q_REPETITION_SQL,
    "q_hash_sample": Q_HASH_SAMPLE_SQL,
    "q_reservoir_sample": Q_RESERVOIR_SAMPLE_SQL,
    "q_reservoir_per_source": Q_RESERVOIR_PER_SOURCE_SQL.format(
        h=_H60_SQL.format(x="doc_id"), two60=repr(_TWO60F), k=RS_GROUP_K
    ),
    "q_stratified_split": Q_STRATIFIED_SPLIT_SQL,
    "q_token_chunks": Q_TOKEN_CHUNKS_SQL,
    "q_pack_sequences": Q_PACK_SEQUENCES_SQL,
}
