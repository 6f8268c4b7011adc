"""Corpus-curation scorecards: the published rule-sets and selection
signals an LLM data pipeline runs between raw scrape and training mix.

* ``q_gopher_rules`` — the Gopher/MassiveText document-quality rule set
  (Rae et al. 2021, table A1) as one map-only scan.
* ``q_ccnet_buckets`` — CCNet-style per-language perplexity terciles
  (Wenzek et al. 2020): head/middle/tail assignment under the corpus
  bigram LM of ``queries/lm.py``.
* ``q_mixture_temperature`` — temperature-scaled source sampling
  (the multilingual/multi-domain mixing rule p_i ∝ n_i^α; α = 1/2 here
  so the power is an IEEE-exact ``sqrt`` on both engines).
* ``q_ngram_novelty`` — per-document novelty: the fraction of its
  distinct bigrams whose FIRST corpus occurrence (min doc_id) is this
  document — the "how much new text does this doc add" ordering signal.

All four are single-scan or single-shuffle shapes that hold at 100 TB;
every double that reaches the output is rounded or scaled-integer per
registry convention.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from changegen_spark.operators.fence import fence
from changegen_spark.operators.ids import prefix_sum
from changegen_spark.sources.tables import load_table


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


# --- Gopher rule set ---------------------------------------------------------

# the rule thresholds (Rae et al. 2021 A1.1, the subset meaningful for
# whitespace-token text; bullet/ellipsis line rules degenerate to 0 on
# single-line documents but are still computed and gated)
GOPHER_MIN_WORDS, GOPHER_MAX_WORDS = 50, 100_000
GOPHER_MIN_MWL, GOPHER_MAX_MWL = 3.0, 10.0
GOPHER_MIN_ALPHA_FRAC = 0.8
GOPHER_MIN_STOP_HITS = 2
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with", "a"]


def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher document-quality scorecard: every signal and the composite
    keep flag in ONE map-only pass over the text column (no shuffle, no
    UDF — pure Catalyst higher-order functions; at 100 TB this is a scan
    at I/O speed).  Signals: word count bounds, mean word length band,
    fraction of words containing an alphabetic character, and ≥2 distinct
    stop words present (the "is this prose at all" test)."""
    d = _docs(spark, sf_dir)
    t = F.split(F.trim("text"), r"\s+")
    n = F.when(F.trim("text") == "", F.lit(0)).otherwise(F.size(t)).cast("long")
    sum_len = F.aggregate(
        t, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    )
    mwl = F.when(n > 0, sum_len.cast("double") / n).otherwise(F.lit(0.0))
    n_alpha = F.size(F.filter(t, lambda x: x.rlike("[a-zA-Z]"))).cast("long")
    alpha_frac = F.when(n > 0, n_alpha.cast("double") / n).otherwise(F.lit(0.0))
    stop_hits = sum(
        [
            F.array_contains(t, s).cast("int")
            for s in GOPHER_STOPWORDS
        ],
        start=F.lit(0),
    ).cast("long")
    keep = (
        (n >= GOPHER_MIN_WORDS)
        & (n <= GOPHER_MAX_WORDS)
        & (mwl >= GOPHER_MIN_MWL)
        & (mwl <= GOPHER_MAX_MWL)
        & (alpha_frac >= GOPHER_MIN_ALPHA_FRAC)
        & (stop_hits >= GOPHER_MIN_STOP_HITS)
    )
    return d.select(
        "doc_id",
        n.alias("n_words"),
        F.round(mwl, 6).alias("mean_word_len"),
        F.round(alpha_frac, 6).alias("alpha_word_frac"),
        stop_hits.alias("n_stop_hits"),
        keep.cast("long").alias("keep"),
    ).orderBy("doc_id")


_G_STOPS = " + ".join(
    f"CAST(list_contains(t, '{s}') AS BIGINT)" for s in GOPHER_STOPWORDS
)

Q_GOPHER_RULES_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         CASE WHEN trim(text) = '' THEN [] ELSE string_split_regex(trim(text), '\\s+') END AS t
  FROM documents
), sig AS (
  SELECT doc_id,
         CAST(len(t) AS BIGINT) AS n_words,
         CASE WHEN len(t) > 0
              THEN CAST(list_sum(list_transform(t, x -> CAST(length(x) AS BIGINT))) AS DOUBLE) / len(t)
              ELSE 0.0 END AS mwl,
         CASE WHEN len(t) > 0
              THEN CAST(len(list_filter(t, x -> regexp_matches(x, '[a-zA-Z]'))) AS DOUBLE) / len(t)
              ELSE 0.0 END AS af,
         CAST({_G_STOPS} AS BIGINT) AS n_stop_hits
  FROM toks
)
SELECT doc_id, n_words,
       round(mwl, 6) AS mean_word_len,
       round(af, 6) AS alpha_word_frac,
       n_stop_hits,
       CAST(n_words >= {GOPHER_MIN_WORDS} AND n_words <= {GOPHER_MAX_WORDS}
            AND mwl >= {GOPHER_MIN_MWL} AND mwl <= {GOPHER_MAX_MWL}
            AND af >= {GOPHER_MIN_ALPHA_FRAC}
            AND n_stop_hits >= {GOPHER_MIN_STOP_HITS} AS BIGINT) AS keep
FROM sig
ORDER BY doc_id
"""


# --- CCNet perplexity buckets ------------------------------------------------


def q_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style quality bucketing: documents ranked by LM perplexity
    WITHIN their language and split into head/middle/tail terciles —
    the selection stage CCNet/RedPajama run after language ID.  Reuses
    the corpus bigram LM of q_lm_score (queries/lm.py — the per-doc NLL
    join shapes are plan-pinned there).

    Scale shape (r5 verdict #3): a naive ``ntile(3) OVER (PARTITION BY
    lang ...)`` forces an entire language through ONE window task — at
    100 TB a dominant language is billions of rows in a single sort.
    Instead the (doc_id, lang, nll, ppl) rank payload (text never enters
    the shuffle) goes through ``operators/ids.prefix_sum`` by lang:
    RANGE-partitioned on the total order (lang, nll, doc_id), ranked
    per-partition, and stitched into exact global per-language ranks
    with broadcast prefix-sum offsets that also carry each language's
    count.  Tercile assignment is then map-side arithmetic using ntile's
    exact size rule (first ``n%3`` buckets get ``n//3 + 1``), so the
    result is byte-identical to the oracle's ntile — with the dominant
    language's sort spread across the whole cluster."""
    from changegen_spark.queries.lm import q_lm_score

    scored = q_lm_score(spark, sf_dir).select("doc_id", "nll", "ppl")
    langs = _docs(spark, sf_dir).select("doc_id", "lang")
    joined = scored.join(langs, "doc_id")

    # prefix_sum's repartitionByRange SAMPLES its child to pick
    # boundaries, then shuffles it — two executions of the upstream
    # lm_score pipeline per materialization.  Fencing `joined` first makes
    # the sampling pass materialize the scored rows once and the shuffle
    # read them back (guide §2.4: at corpus scale this halves the work
    # feeding the rank).
    joined = joined.transform(fence, "q_ccnet_buckets joined", eager=False)
    ranked = prefix_sum(joined, ["nll", "doc_id"], by=["lang"])
    rank = F.col("run")
    base = F.floor(F.col("total") / 3).cast("long")
    rem = F.col("total") % 3
    s1 = base + (rem >= 1).cast("long")
    s2 = s1 + base + (rem >= 2).cast("long")
    tercile = (
        F.when(rank <= s1, 1).when(rank <= s2, 2).otherwise(3).cast("long")
    )
    return ranked.select(
        "doc_id",
        "lang",
        "nll",
        "ppl",
        tercile.alias("tercile"),
        F.element_at(
            F.array(F.lit("head"), F.lit("middle"), F.lit("tail")),
            tercile.cast("int"),
        ).alias("bucket"),
    ).orderBy("doc_id")


# the lm oracle, minus its trailing ORDER BY, embeds as a subquery
def _lm_sql_body() -> str:
    from changegen_spark.queries.lm import Q_LM_SCORE_SQL

    return Q_LM_SCORE_SQL.strip().rstrip(";").rsplit("ORDER BY", 1)[0]


def _ccnet_sql() -> str:
    return f"""
WITH lm AS (
{_lm_sql_body()}
), ranked AS (
  SELECT lm.doc_id, d.lang, lm.nll, lm.ppl,
         CAST(ntile(3) OVER (PARTITION BY d.lang ORDER BY lm.nll, lm.doc_id) AS BIGINT) AS tercile
  FROM lm JOIN documents d ON lm.doc_id = d.doc_id
)
SELECT doc_id, lang, nll, ppl, tercile,
       CASE tercile WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
FROM ranked
ORDER BY doc_id
"""


# --- temperature-scaled mixture ----------------------------------------------


def q_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source sampling plan: p_i ∝ n_tokens_i^(1/2) —
    the standard rule for flattening a skewed domain/language mix without
    discarding the head (α→0 uniform, α→1 proportional).  All downstream
    numbers derive from e6 scaled INTEGERS (w_e6 = round(1e6·sqrt(n)));
    the per-source token contribution at a half-corpus budget is integer
    arithmetic on those — reproducible across engines, retries, and
    partitionings.  One groupBy(source) + a broadcast one-row total."""
    from changegen_spark.functions.text import token_count

    d = _docs(spark, sf_dir)
    per_src = d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(token_count(F.col("text"))).alias("n_tokens"),
    )
    w_e6 = F.round(F.sqrt(F.col("n_tokens").cast("double")) * 1e6).cast("long")
    keyed = per_src.withColumn("w_e6", w_e6)
    totals = keyed.agg(
        F.sum("w_e6").alias("sum_w_e6"),
        F.floor(F.sum("n_tokens") / 2).cast("long").alias("budget_tokens"),
    )
    p_e6 = F.round(F.lit(1e6) * F.col("w_e6") / F.col("sum_w_e6")).cast("long")
    out = keyed.crossJoin(F.broadcast(totals)).withColumn("p_e6", p_e6)
    # integer division (Spark `div`), NOT a double divide + cast: the
    # quotient must match DuckDB's `//` exactly at any magnitude
    contrib = F.expr("budget_tokens * p_e6 div 1000000")
    return out.select(
        "source",
        "n_docs",
        "n_tokens",
        "p_e6",
        "budget_tokens",
        contrib.alias("contrib_tokens"),
        F.round(F.lit(1e6) * contrib / F.col("n_tokens")).cast("long").alias("epochs_e6"),
    ).orderBy("source")


Q_MIXTURE_TEMPERATURE_SQL = """
WITH per_src AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum(CASE WHEN trim(text) = '' THEN 0
                       ELSE CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
                  END) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
), keyed AS (
  SELECT *, CAST(round(sqrt(CAST(n_tokens AS DOUBLE)) * 1e6) AS BIGINT) AS w_e6
  FROM per_src
), totals AS (
  SELECT CAST(sum(w_e6) AS BIGINT) AS sum_w_e6,
         CAST(sum(n_tokens) // 2 AS BIGINT) AS budget_tokens
  FROM keyed
), p AS (
  SELECT keyed.*, totals.budget_tokens,
         CAST(round(1e6 * w_e6 / sum_w_e6) AS BIGINT) AS p_e6
  FROM keyed CROSS JOIN totals
)
SELECT source, n_docs, n_tokens, p_e6, budget_tokens,
       CAST(budget_tokens * p_e6 // 1000000 AS BIGINT) AS contrib_tokens,
       CAST(round(1e6 * (budget_tokens * p_e6 // 1000000) / n_tokens) AS BIGINT) AS epochs_e6
FROM p
ORDER BY source
"""


# --- n-gram novelty ----------------------------------------------------------

NOVELTY_N = 2


def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: of the document's DISTINCT bigrams, the
    fraction whose first corpus occurrence (min doc_id) is this document —
    the "new text introduced" signal used to order or prune crawl dumps
    (a doc full of already-seen n-grams adds little).  One explode of the
    per-doc DISTINCT bigrams (array_distinct — dedup before the shuffle,
    no (doc_id, g) distinct exchange), then ``min(doc_id) over
    (partition by g)`` — the q_dup_spans window recipe — instead of a
    groupBy + self-join on g whose two consumers re-ran the explode
    (guide §2.4; r13 A/B min-of-4: 1.55 → 1.43 s, one tokenize+explode
    pass instead of two).  Every stage is a hash shuffle with map-side
    combine, nothing quadratic."""
    from changegen_spark.queries.mlprep import _toks, word_ngrams

    d = _docs(spark, sf_dir)
    grams = d.select("doc_id", _toks(F.col("text")).alias("t")).filter(
        F.size("t") >= NOVELTY_N
    ).select(
        "doc_id",
        F.explode(F.array_distinct(word_ngrams(F.col("t"), NOVELTY_N))).alias(
            "g"
        ),
    )
    wg = Window.partitionBy("g")
    per_doc = (
        grams.withColumn("first_doc", F.min("doc_id").over(wg))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum((F.col("first_doc") == F.col("doc_id")).cast("long")).alias(
                "n_novel"
            ),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_grams",
        "n_novel",
        F.round(F.col("n_novel") / F.col("n_grams"), 6).alias("novelty_frac"),
    ).orderBy("doc_id")


Q_NGRAM_NOVELTY_SQL = f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
), grams AS (
  SELECT DISTINCT doc_id,
         t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1] AS g
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i
        FROM toks WHERE len(t) >= {NOVELTY_N})
), first AS (
  SELECT g, min(doc_id) AS first_doc FROM grams GROUP BY g
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(sum(CAST(first_doc = doc_id AS BIGINT)) AS BIGINT) AS n_novel,
       round(sum(CAST(first_doc = doc_id AS BIGINT)) / count(*), 6) AS novelty_frac
FROM grams JOIN first USING (g)
GROUP BY doc_id
ORDER BY doc_id
"""


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXECUTE the temperature plan: per-source Bernoulli document
    selection at the plan's realized token rate (contrib/n_tokens), with
    the uniform drawn from the deterministic 60-bit hash of the doc id —
    the map-only pass that turns q_mixture_temperature's KB-sized plan
    into an actual training mix.  Reproducible across engines, retries
    and partitionings (no rand()); the per-source rate join is a
    broadcast of the |sources| plan rows.  Emits selected docs only."""
    from changegen_spark.functions.text import token_count
    from changegen_spark.queries.sketches import h60

    plan = q_mixture_temperature(spark, sf_dir).select(
        "source", "n_tokens", "contrib_tokens"
    )
    d = _docs(spark, sf_dir).select(
        "doc_id", "source", token_count(F.col("text")).alias("doc_tokens")
    )
    u_e6 = F.floor(
        (h60(F.col("doc_id")).cast("double") / F.lit(float(1 << 60))) * 1e6
    ).cast("long")
    rate_e6 = F.floor(F.lit(1e6) * F.col("contrib_tokens") / F.col("n_tokens")).cast(
        "long"
    )
    return (
        d.join(F.broadcast(plan), "source")
        .withColumn("u_e6", u_e6)
        .withColumn("rate_e6", rate_e6)
        .filter(F.col("u_e6") < F.col("rate_e6"))
        .select("doc_id", "source", "doc_tokens", "u_e6", "rate_e6")
        .orderBy("doc_id")
    )


_MIX_PLAN_BODY = Q_MIXTURE_TEMPERATURE_SQL.strip().rsplit("ORDER BY", 1)[0]

Q_MIXTURE_SAMPLE_SQL = f"""
WITH plan AS (
{_MIX_PLAN_BODY}
), d AS (
  SELECT doc_id, source,
         CASE WHEN trim(text) = '' THEN 0
              ELSE CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
         END AS doc_tokens
  FROM documents
)
SELECT d.doc_id, d.source, d.doc_tokens,
       CAST(floor((CAST({{h}} AS DOUBLE) / {{two60}}) * 1e6) AS BIGINT) AS u_e6,
       CAST(floor(1e6 * plan.contrib_tokens / plan.n_tokens) AS BIGINT) AS rate_e6
FROM d JOIN plan ON d.source = plan.source
WHERE CAST(floor((CAST({{h}} AS DOUBLE) / {{two60}}) * 1e6) AS BIGINT)
      < CAST(floor(1e6 * plan.contrib_tokens / plan.n_tokens) AS BIGINT)
ORDER BY doc_id
"""


# --- compression-ratio quality signal -----------------------------------

ZRATIO_MIN_E6 = 300_000  # keep docs with deflate ratio >= 0.30 (highly
# repetitive text compresses far below this — the classic cheap
# repetition filter alongside q_repetition's exact token fractions)


def q_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document deflate compression ratio — the cheap whole-document
    repetitiveness signal (a document that compresses to near nothing is
    boilerplate/spam; used alongside token-level repetition fractions).
    zlib level 6 over UTF-8 bytes, e6-integer ratio; Arrow-batched
    map-only.  The oracle is a VALUES golden computed by an independent
    zlib call over the same fixture (a determinism pin, like the JPEG
    decode golden: DEFLATE output is fixed for a given library/level,
    and the container pins one zlib)."""
    import pandas as pd
    import zlib

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("struct<n_bytes:long, z_bytes:long>")
    def zsize(texts):
        nb, zb = [], []
        for t in texts:
            raw = (t or "").encode("utf-8")
            nb.append(len(raw))
            zb.append(len(zlib.compress(raw, 6)))
        return pd.DataFrame({"n_bytes": nb, "z_bytes": zb})

    d = _docs(spark, sf_dir)
    out = d.select("doc_id", zsize(F.col("text")).alias("s")).select(
        "doc_id",
        F.col("s.n_bytes").alias("n_bytes"),
        F.col("s.z_bytes").alias("z_bytes"),
    )
    # n_bytes=0 (empty/whitespace-only doc) → ratio 0, matching the golden's
    # 0/0 convention; plain division would yield NULL and desync the oracle.
    ratio = F.when(
        F.col("n_bytes") > 0,
        F.round(F.lit(1e6) * F.col("z_bytes") / F.col("n_bytes")).cast("long"),
    ).otherwise(F.lit(0))
    return out.select(
        "doc_id",
        "n_bytes",
        "z_bytes",
        ratio.alias("ratio_e6"),
        (ratio >= ZRATIO_MIN_E6).cast("long").alias("keep"),
    ).orderBy("doc_id")


def _zratio_values_sql(sf_dir: str = "/root/testdata/sf0.01") -> str:
    import os
    import zlib

    import duckdb

    con = duckdb.connect()
    rows = con.execute(
        "SELECT doc_id, text FROM read_parquet(?) ORDER BY doc_id",
        [os.path.join(sf_dir, "documents.parquet")],
    ).fetchall()
    con.close()
    from decimal import ROUND_HALF_UP, Decimal

    vals = []
    for doc_id, text in rows:
        raw = (text or "").encode("utf-8")
        nb, zb = len(raw), len(zlib.compress(raw, 6))
        # Spark round(double) is HALF_UP; Python round() is banker's —
        # mirror Spark exactly on the .5 boundaries
        r = (
            int(Decimal(repr(1e6 * zb / nb)).quantize(Decimal("1"), rounding=ROUND_HALF_UP))
            if nb
            else 0
        )
        vals.append(f"({doc_id}, {nb}, {zb}, {r}, {1 if r >= ZRATIO_MIN_E6 else 0})")
    return (
        "SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(n_bytes AS BIGINT) AS n_bytes,\n"
        "       CAST(z_bytes AS BIGINT) AS z_bytes, CAST(ratio_e6 AS BIGINT) AS ratio_e6,\n"
        "       CAST(keep AS BIGINT) AS keep\n"
        f"FROM (VALUES {', '.join(vals)}) AS t(doc_id, n_bytes, z_bytes, ratio_e6, keep)\n"
        "ORDER BY doc_id"
    )


def _mix_sample_sql() -> str:
    from changegen_spark.queries.mlprep import _TWO60F
    from changegen_spark.queries.sketches import _H60_SQL

    return Q_MIXTURE_SAMPLE_SQL.format(
        h=_H60_SQL.format(x="d.doc_id"), two60=repr(_TWO60F)
    )


QUERIES = {
    "q_gopher_rules": q_gopher_rules,
    "q_ccnet_buckets": q_ccnet_buckets,
    "q_mixture_temperature": q_mixture_temperature,
    "q_mixture_sample": q_mixture_sample,
    "q_compression_ratio": q_compression_ratio,
    "q_ngram_novelty": q_ngram_novelty,
}

ORACLES = {
    "q_gopher_rules": Q_GOPHER_RULES_SQL,
    "q_ccnet_buckets": _ccnet_sql(),
    "q_mixture_temperature": Q_MIXTURE_TEMPERATURE_SQL,
    "q_mixture_sample": _mix_sample_sql(),
    "q_compression_ratio": _zratio_values_sql(),
    "q_ngram_novelty": Q_NGRAM_NOVELTY_SQL,
}
