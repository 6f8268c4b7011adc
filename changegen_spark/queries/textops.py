"""Text-analysis & dedup operator queries over the documents table.

The training-data-pipeline surface: token counting, quality scoring,
language ID, fingerprint dedup, exact dedup, MinHash signatures, LSH
candidate pairs, n-gram Jaccard, SimHash.  All pure column expressions
(JVM-side) on the Spark side; oracles reproduce the identical md5/integer
arithmetic in DuckDB SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from changegen_spark.functions.hashing import (
    char_shingles,
    hamming16,
    jaccard_pairs,
    minhash_candidates,
    minhash_signature,
    simhash16,
)
from changegen_spark.functions.text import (
    fingerprint,
    lang_id,
    quality_features,
    token_count,
)
from changegen_spark.sources.tables import load_table


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


# --- token counting ---

def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return d.select("doc_id", token_count(F.col("text")).alias("n_tokens")).orderBy(
        "doc_id"
    )


Q_TOKEN_COUNT_SQL = """
SELECT doc_id,
       CASE WHEN trim(text) = '' THEN 0
            ELSE CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) END AS n_tokens
FROM documents ORDER BY doc_id
"""


# --- quality scoring ---

def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    feats = quality_features(F.col("text"))
    return d.select(
        "doc_id", *[expr.alias(name) for name, expr in feats.items()]
    ).orderBy("doc_id")


Q_TEXT_QUALITY_SQL = """
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars,
       CASE WHEN trim(text) = '' THEN 0
            ELSE CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) END AS n_tokens,
       round(CASE WHEN length(text) > 0
             THEN CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) / length(text)
             ELSE 0 END, 6) AS alpha_ratio,
       round(CASE WHEN length(text) > 0
             THEN CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / length(text)
             ELSE 0 END, 6) AS digit_ratio,
       round(CASE WHEN length(text) > 0
             THEN CAST(length(regexp_replace(text, '[^ ]', '', 'g')) AS DOUBLE) / length(text)
             ELSE 0 END, 6) AS space_ratio,
       round(CASE WHEN trim(text) = '' THEN 0
             ELSE (CAST(length(text) AS DOUBLE) - length(regexp_replace(text, '[^ ]', '', 'g')))
                  / len(string_split_regex(trim(text), '\\s+')) END, 6) AS avg_token_len
FROM documents ORDER BY doc_id
"""


# --- language ID heuristic ---

def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return d.select("doc_id", lang_id(F.col("text")).alias("lang_pred")).orderBy("doc_id")


def _occ(marker: str) -> str:
    pad = "' ' || lower(text) || ' '"
    return (
        f"CAST((length({pad}) - length(replace({pad}, '{marker}', ''))) / {len(marker)} AS BIGINT)"
    )


_LANG_SCORE_SQL = {
    "en": " + ".join(_occ(m) for m in [" the ", " a ", " of "]),
    "es": " + ".join(_occ(m) for m in [" el ", " la ", " de "]),
    "fr": " + ".join(_occ(m) for m in [" le ", " la ", " et "]),
    "de": " + ".join(_occ(m) for m in [" der ", " die ", " und "]),
    "zh": " + ".join(_occ(m) for m in [" zh ", " de "]),
}

Q_LANG_ID_SQL = f"""
WITH scores AS (
  SELECT doc_id,
         {_LANG_SCORE_SQL['de']} AS s_de,
         {_LANG_SCORE_SQL['en']} AS s_en,
         {_LANG_SCORE_SQL['es']} AS s_es,
         {_LANG_SCORE_SQL['fr']} AS s_fr,
         {_LANG_SCORE_SQL['zh']} AS s_zh
  FROM documents
)
SELECT doc_id,
  CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) = 0 THEN 'und'
       WHEN s_de >= greatest(s_en, s_es, s_fr, s_zh) THEN 'de'
       WHEN s_en >= greatest(s_es, s_fr, s_zh) THEN 'en'
       WHEN s_es >= greatest(s_fr, s_zh) THEN 'es'
       WHEN s_fr >= s_zh THEN 'fr'
       ELSE 'zh' END AS lang_pred
FROM scores ORDER BY doc_id
"""


# --- fingerprint + exact dedup ---

def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-distinct-token fingerprint; group sizes expose near-dup docs
    that differ only in token order/repetition."""
    d = _docs(spark, sf_dir)
    fp = d.select("doc_id", fingerprint(F.col("text")).alias("fp"))
    sizes = fp.groupBy("fp").agg(
        F.count("*").alias("group_size"), F.min("doc_id").alias("canonical_id")
    )
    return (
        fp.join(sizes, "fp")
        .select("doc_id", "fp", "group_size", "canonical_id")
        .orderBy("doc_id")
    )


Q_FINGERPRINT_SQL = """
WITH fp AS (
  SELECT doc_id,
         md5(array_to_string(list_sort(list_distinct(string_split_regex(trim(lower(text)), '\\s+'))), ' ')) AS fp
  FROM documents
), sizes AS (
  SELECT fp, count(*) AS group_size, min(doc_id) AS canonical_id FROM fp GROUP BY fp
)
SELECT f.doc_id, f.fp, s.group_size, s.canonical_id
FROM fp f JOIN sizes s USING (fp) ORDER BY f.doc_id
"""


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact hash dedup: md5(text) group, keep min doc_id as canonical —
    the 100 TB form is this exact map-side-combine groupBy."""
    d = _docs(spark, sf_dir)
    h = d.select(
        "doc_id", F.md5(F.to_binary(F.col("text"), F.lit("utf-8"))).alias("h")
    )
    return (
        h.groupBy("h")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies"))
        .orderBy("keep_id")
    )


Q_EXACT_DEDUP_SQL = """
SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS n_copies
FROM documents GROUP BY md5(text) ORDER BY keep_id
"""


# --- MinHash signature ---

def q_minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).filter(F.col("doc_id") < 100)
    sig = minhash_signature(char_shingles(F.col("text"), 5), num_hashes=4)
    return d.select(
        "doc_id", F.concat_ws("|", sig).alias("sig")
    ).orderBy("doc_id")


Q_MINHASH_SQL = """
WITH pos AS (
  SELECT doc_id, lower(text) AS lt,
         unnest(generate_series(1, length(text) - 4)) AS i
  FROM documents WHERE doc_id < 100 AND length(text) >= 5
), sh AS (
  SELECT DISTINCT doc_id, substr(lt, CAST(i AS INT), 5) AS shingle FROM pos
)
SELECT doc_id,
       min(md5('0:' || shingle)) || '|' || min(md5('1:' || shingle)) || '|' ||
       min(md5('2:' || shingle)) || '|' || min(md5('3:' || shingle)) AS sig
FROM sh GROUP BY doc_id ORDER BY doc_id
"""


# --- LSH candidate pairs ---

def q_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return minhash_candidates(
        d, id_col="doc_id", text_col="text", ngram=3, num_hashes=8, bands=4
    ).orderBy("id_a", "id_b")


def _minhash_terms(n: int) -> str:
    # 4 independent 32-bit windows per md5 — mirrors hashing.minhash_candidates
    return ",\n       ".join(
        f"min(substr(md5('{i // 4}:' || shingle), {(i % 4) * 8 + 1}, 8)) AS mh{i}"
        for i in range(n)
    )


Q_LSH_PAIRS_SQL = f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         CASE WHEN len(t) >= 3
              THEN list_extract(t, CAST(i AS INT)) || ' ' || list_extract(t, CAST(i AS INT)+1) || ' ' || list_extract(t, CAST(i AS INT)+2)
              ELSE array_to_string(t, ' ') END AS shingle
  FROM (SELECT doc_id, t, unnest(generate_series(1, greatest(len(t)-2, 1))) AS i FROM toks)
), sig AS (
  SELECT doc_id, {_minhash_terms(8)}
  FROM sh GROUP BY doc_id
), banded AS (
  SELECT doc_id, 0 AS band, md5(mh0 || '|' || mh1) AS bh FROM sig
  UNION ALL SELECT doc_id, 1, md5(mh2 || '|' || mh3) FROM sig
  UNION ALL SELECT doc_id, 2, md5(mh4 || '|' || mh5) FROM sig
  UNION ALL SELECT doc_id, 3, md5(mh6 || '|' || mh7) FROM sig
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM banded a JOIN banded b
  ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
ORDER BY id_a, id_b
"""


# --- n-gram Jaccard over LSH candidates ---

def q_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).filter(F.col("doc_id") < 200)
    pairs = (
        d.alias("a")
        .join(
            d.alias("b"),
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("a.doc_id") % 10 == 0),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
    )
    return (
        jaccard_pairs(d, pairs, id_col="doc_id", text_col="text", k=5)
        .filter(F.col("jaccard") >= 0.2)
        .orderBy("id_a", "id_b")
    )


Q_JACCARD_SQL = """
WITH docs AS (SELECT * FROM documents WHERE doc_id < 200),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM docs a JOIN docs b
    ON a.lang = b.lang AND a.doc_id < b.doc_id AND a.doc_id % 10 = 0
), pos AS (
  SELECT doc_id, lower(text) AS lt,
         unnest(generate_series(1, length(text) - 4)) AS i
  FROM docs WHERE length(text) >= 5
), sh AS (
  SELECT DISTINCT doc_id, substr(lt, CAST(i AS INT), 5) AS shingle FROM pos
), sizes AS (
  SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
), inter AS (
  SELECT p.id_a, p.id_b, count(*) AS n_inter
  FROM pairs p
  JOIN sh sa ON sa.doc_id = p.id_a
  JOIN sh sb ON sb.doc_id = p.id_b AND sb.shingle = sa.shingle
  GROUP BY p.id_a, p.id_b
)
SELECT p.id_a AS id_a, p.id_b AS id_b,
       round(CAST(coalesce(i.n_inter, 0) AS DOUBLE)
             / (za.n_sh + zb.n_sh - coalesce(i.n_inter, 0)), 6) AS jaccard
FROM pairs p
LEFT JOIN inter i ON i.id_a = p.id_a AND i.id_b = p.id_b
JOIN sizes za ON za.doc_id = p.id_a
JOIN sizes zb ON zb.doc_id = p.id_b
WHERE round(CAST(coalesce(i.n_inter, 0) AS DOUBLE)
            / (za.n_sh + zb.n_sh - coalesce(i.n_inter, 0)), 6) >= 0.2
ORDER BY id_a, id_b
"""


# --- SimHash fingerprint + hamming pairs ---

def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).filter(F.col("doc_id") < 150)
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    return d.select("doc_id", simhash16(toks).alias("simhash")).orderBy("doc_id")


_SIMHASH_BIT_SQL = """
  SELECT doc_id, j,
         CASE WHEN sum(2 * (((strpos('0123456789abcdef',
                substr(md5(tok), 1 + CAST(j // 4 AS INT), 1)) - 1)
                >> CAST(3 - (j % 4) AS INT)) & 1) - 1) > 0
              THEN 1 ELSE 0 END AS bit
  FROM toks, generate_series(0, 15) s(j)
  GROUP BY doc_id, j
"""

Q_SIMHASH_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
  FROM documents WHERE doc_id < 150
), bits AS ({_SIMHASH_BIT_SQL})
SELECT doc_id,
       CAST(sum(bit * power(2, 15 - j)) AS BIGINT) AS simhash
FROM bits GROUP BY doc_id ORDER BY doc_id
"""


def q_simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: hamming distance ≤ 6 over a probe subset."""
    d = _docs(spark, sf_dir).filter(F.col("doc_id") < 150)
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    sh = d.select("doc_id", simhash16(toks).alias("sh"))
    a, b = sh.alias("a"), sh.alias("b")
    pairs = a.join(
        b, (F.col("a.doc_id") < F.col("b.doc_id")) & (F.col("a.doc_id") % 25 == 0)
    )
    return (
        pairs.select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            hamming16(F.col("a.sh"), F.col("b.sh")).alias("hamming"),
        )
        .filter(F.col("hamming") <= 6)
        .orderBy("id_a", "id_b")
    )


Q_SIMHASH_PAIRS_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
  FROM documents WHERE doc_id < 150
), bits AS ({_SIMHASH_BIT_SQL}),
sh AS (
  SELECT doc_id, CAST(sum(bit * power(2, 15 - j)) AS BIGINT) AS sh
  FROM bits GROUP BY doc_id
),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, xor(a.sh, b.sh) AS x
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id AND a.doc_id % 25 = 0
)
SELECT id_a, id_b, CAST(bit_count(x) AS BIGINT) AS hamming
FROM pairs WHERE bit_count(x) <= 6
ORDER BY id_a, id_b
"""


# --- end-to-end dedup: LSH pairs → connected components → keep list ---

def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full near-dup dedup decision: MinHash-LSH candidate pairs →
    connected components (large-star/small-star rounds) → keep the
    min-id doc per cluster.  Only clustered docs emitted (unpaired docs
    are trivially kept)."""
    from changegen_spark.functions.clustering import dedup_keep_list

    d = _docs(spark, sf_dir)
    pairs = minhash_candidates(d, id_col="doc_id", text_col="text")
    out = dedup_keep_list(d, pairs)
    sizes = out.groupBy("cluster").agg(F.count("*").alias("sz"))
    return (
        out.join(sizes, "cluster")
        .filter(F.col("sz") > 1)
        .select("doc_id", "cluster", "keep")
        .orderBy("doc_id")
    )


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware cluster representative selection — the step after
    clustering in a production dedup pass: within each near-dup cluster
    keep the LONGEST member (trimmed length; ties break to the smaller
    doc_id), the common "keep the most complete copy" heuristic, instead
    of q_dedup_clusters' neutral min-id rule.

    Plan: the connected components of the LSH candidate graph (identical
    machinery to q_dedup_clusters) joined with per-doc lengths, then one
    max_by per cluster broadcast back — selection is a tiny |clusters|
    aggregate, never a per-pair comparison."""
    from changegen_spark.functions.clustering import dedup_keep_list

    d = _docs(spark, sf_dir)
    pairs = minhash_candidates(d, id_col="doc_id", text_col="text")
    comp = dedup_keep_list(d, pairs).drop("keep")
    lens = d.select("doc_id", F.length(F.trim("text")).alias("len"))
    labeled = comp.join(lens, "doc_id")
    best = labeled.groupBy("cluster").agg(
        F.count("*").alias("sz"),
        F.max_by(
            F.col("doc_id"), F.struct(F.col("len"), -F.col("doc_id"))
        ).alias("best_id"),
    )
    return (
        labeled.join(best, "cluster")
        .filter(F.col("sz") > 1)
        .select(
            "doc_id",
            "cluster",
            "len",
            (F.col("doc_id") == F.col("best_id")).cast("boolean").alias("keep"),
        )
        .orderBy("doc_id")
    )


Q_DEDUP_CLUSTERS_SQL = f"""
WITH RECURSIVE pos AS (
  SELECT doc_id, lower(text) AS lt, string_split_regex(trim(lower(text)), '\\s+') AS t
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         CASE WHEN len(t) >= 3
              THEN list_extract(t, CAST(i AS INT)) || ' ' || list_extract(t, CAST(i AS INT)+1) || ' ' || list_extract(t, CAST(i AS INT)+2)
              ELSE array_to_string(t, ' ') END AS shingle
  FROM (SELECT doc_id, t, unnest(generate_series(1, greatest(len(t)-2, 1))) AS i FROM pos)
), sig AS (
  SELECT doc_id, {_minhash_terms(8)}
  FROM sh GROUP BY doc_id
), banded AS (
  SELECT doc_id, 0 AS band, md5(mh0 || '|' || mh1) AS bh FROM sig
  UNION ALL SELECT doc_id, 1, md5(mh2 || '|' || mh3) FROM sig
  UNION ALL SELECT doc_id, 2, md5(mh4 || '|' || mh5) FROM sig
  UNION ALL SELECT doc_id, 3, md5(mh6 || '|' || mh7) FROM sig
), pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
), edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION SELECT id_b, id_a FROM pairs
), reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
), comp AS (
  SELECT a AS node, least(a, min(b)) AS cluster
  FROM reach GROUP BY a
), sized AS (
  SELECT cluster, count(*) AS sz FROM comp GROUP BY cluster
)
SELECT c.node AS doc_id, c.cluster, c.node = c.cluster AS keep
FROM comp c JOIN sized s USING (cluster)
WHERE s.sz > 1
ORDER BY doc_id
"""

_KEEP_BEST_TAIL = """, lens AS (
  SELECT doc_id, CAST(length(trim(text)) AS INT) AS len FROM documents
), ranked AS (
  SELECT c.node AS doc_id, c.cluster, l.len,
         row_number() OVER (PARTITION BY c.cluster
                            ORDER BY l.len DESC, c.node ASC) AS rn,
         count(*) OVER (PARTITION BY c.cluster) AS sz
  FROM comp c JOIN lens l ON c.node = l.doc_id
)
SELECT doc_id, cluster, len, rn = 1 AS keep
FROM ranked WHERE sz > 1
ORDER BY doc_id
"""

# identical candidate-graph + components CTEs; only the selection differs
Q_DEDUP_KEEP_BEST_SQL = Q_DEDUP_CLUSTERS_SQL.replace(
    """, sized AS (
  SELECT cluster, count(*) AS sz FROM comp GROUP BY cluster
)
SELECT c.node AS doc_id, c.cluster, c.node = c.cluster AS keep
FROM comp c JOIN sized s USING (cluster)
WHERE s.sz > 1
ORDER BY doc_id
""",
    _KEEP_BEST_TAIL.lstrip("\n").lstrip(),
)
assert "rn = 1" in Q_DEDUP_KEEP_BEST_SQL


# --- composite quality filter (C4/Gopher-style keep rules) ---

def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus filtering decision: keep docs passing all quality rules
    (length bounds, alpha ratio, mean token length band); emits the rule
    bitmap for auditability — quarantine-style routing, not dropping."""
    d = _docs(spark, sf_dir)
    feats = quality_features(F.col("text"))
    n = feats["n_chars"]
    toks = feats["n_tokens"]
    alpha = feats["alpha_ratio"]
    atl = feats["avg_token_len"]
    rules = {
        "len_ok": (n >= 100) & (n <= 20000),
        "tokens_ok": toks >= 20,
        "alpha_ok": alpha >= 0.6,
        "token_len_ok": (atl >= 2.0) & (atl <= 12.0),
    }
    out = d.select(
        "doc_id",
        *[cond.alias(name) for name, cond in rules.items()],
    )
    keep = None
    for name in rules:
        keep = F.col(name) if keep is None else (keep & F.col(name))
    return out.withColumn("keep", keep).orderBy("doc_id")


Q_QUALITY_FILTER_SQL = """
WITH feats AS (
  SELECT doc_id,
         CAST(length(text) AS BIGINT) AS n,
         CASE WHEN trim(text) = '' THEN 0
              ELSE CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) END AS toks,
         round(CASE WHEN length(text) > 0
               THEN CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) / length(text)
               ELSE 0 END, 6) AS alpha,
         round(CASE WHEN trim(text) = '' THEN 0
               ELSE (CAST(length(text) AS DOUBLE) - length(regexp_replace(text, '[^ ]', '', 'g')))
                    / len(string_split_regex(trim(text), '\\s+')) END, 6) AS atl
  FROM documents
)
SELECT doc_id,
       n >= 100 AND n <= 20000 AS len_ok,
       toks >= 20 AS tokens_ok,
       alpha >= 0.6 AS alpha_ok,
       atl >= 2.0 AND atl <= 12.0 AS token_len_ok,
       (n >= 100 AND n <= 20000) AND toks >= 20 AND alpha >= 0.6
           AND (atl >= 2.0 AND atl <= 12.0) AS keep
FROM feats ORDER BY doc_id
"""


# --- TF-IDF top terms per language ---

def q_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per language: token explode → per-(lang, term)
    tf → document frequency → idf = ln(N/df) → rank.  Whole pipeline is
    two hash aggregations + one window."""
    d = _docs(spark, sf_dir)
    n_docs = d.count()
    toks = d.select(
        "doc_id", "lang", F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("term")
    )
    tf = toks.groupBy("lang", "term").agg(F.count("*").alias("tf"))
    df_ = toks.select("doc_id", "term").distinct().groupBy("term").agg(
        F.count("*").alias("df")
    )
    scored = tf.join(df_, "term").withColumn(
        "tfidf", F.round(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6)
    )
    w = Window.partitionBy("lang").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("lang", "term", "tfidf", F.col("rank").cast("long").alias("rank"))
        .orderBy("lang", "rank")
    )


Q_TFIDF_SQL = """
WITH toks AS (
  SELECT doc_id, lang, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
  FROM documents
), tf AS (
  SELECT lang, term, count(*) AS tf FROM toks GROUP BY lang, term
), df AS (
  SELECT term, count(*) AS df FROM (SELECT DISTINCT doc_id, term FROM toks) GROUP BY term
), scored AS (
  SELECT lang, term, tf,
         round(tf * ln(CAST((SELECT count(*) FROM documents) AS DOUBLE) / df), 6) AS tfidf
  FROM tf JOIN df USING (term)
), ranked AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY lang ORDER BY tfidf DESC, term ASC) AS BIGINT) AS rank
  FROM scored
)
SELECT lang, term, tfidf, rank FROM ranked WHERE rank <= 3
ORDER BY lang, rank
"""


# --- language-ID evaluation: confusion matrix vs the labeled column ---

def q_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier evaluation as a query: predicted vs labeled language
    cross-tab — the QA loop a corpus pipeline runs after every heuristic
    change."""
    d = _docs(spark, sf_dir)
    pred = d.select("doc_id", "lang", lang_id(F.col("text")).alias("pred"))
    return (
        pred.groupBy("lang", "pred")
        .agg(F.count("*").alias("n"))
        .orderBy("lang", "pred")
    )


Q_LANG_CONFUSION_SQL = f"""
WITH scores AS (
  SELECT doc_id, lang,
         {_LANG_SCORE_SQL['de']} AS s_de,
         {_LANG_SCORE_SQL['en']} AS s_en,
         {_LANG_SCORE_SQL['es']} AS s_es,
         {_LANG_SCORE_SQL['fr']} AS s_fr,
         {_LANG_SCORE_SQL['zh']} AS s_zh
  FROM documents
), pred AS (
  SELECT lang,
    CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) = 0 THEN 'und'
         WHEN s_de >= greatest(s_en, s_es, s_fr, s_zh) THEN 'de'
         WHEN s_en >= greatest(s_es, s_fr, s_zh) THEN 'en'
         WHEN s_es >= greatest(s_fr, s_zh) THEN 'es'
         WHEN s_fr >= s_zh THEN 'fr'
         ELSE 'zh' END AS pred
  FROM scores
)
SELECT lang, pred, count(*) AS n FROM pred GROUP BY lang, pred
ORDER BY lang, pred
"""


# GPT-2-style pre-tokenizer classes, ASCII-simplified so Java and DuckDB
# regex engines agree byte-for-byte: letter runs, digit runs, and
# non-alphanumeric-non-space runs.
REGEX_TOK = {
    "word": "[A-Za-z]+",
    "num": "[0-9]+",
    "punct": "[^A-Za-z0-9 \\t\\n\\r]+",
}


def q_regex_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex pre-tokenization counts (the BPE-ish tokenizer front end):
    per document, the number of letter-run, digit-run, and punctuation-run
    tokens plus their total character coverage — all exact integers from
    ``regexp_extract_all`` with an ASCII-only pattern both engines
    interpret identically."""
    d = _docs(spark, sf_dir)

    def cnt(pat):
        return F.size(F.expr(f"regexp_extract_all(text, '{pat}', 0)"))

    def chars(pat):
        return F.aggregate(
            F.expr(f"regexp_extract_all(text, '{pat}', 0)"),
            F.lit(0),
            lambda acc, x: acc + F.length(x),
        )

    return d.select(
        "doc_id",
        cnt(REGEX_TOK["word"]).alias("n_word_tokens"),
        cnt(REGEX_TOK["num"]).alias("n_num_tokens"),
        cnt(REGEX_TOK["punct"]).alias("n_punct_tokens"),
        (
            chars(REGEX_TOK["word"]) + chars(REGEX_TOK["num"]) + chars(REGEX_TOK["punct"])
        ).alias("covered_chars"),
    ).orderBy("doc_id")


Q_REGEX_TOKENS_SQL = """
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS INT) AS n_word_tokens,
       CAST(len(regexp_extract_all(text, '[0-9]+')) AS INT) AS n_num_tokens,
       CAST(len(regexp_extract_all(text, '[^A-Za-z0-9 \t\n\r]+')) AS INT)
         AS n_punct_tokens,
       CAST(
         list_sum(list_transform(regexp_extract_all(text, '[A-Za-z]+'), x -> length(x)))
         + coalesce(list_sum(list_transform(regexp_extract_all(text, '[0-9]+'), x -> length(x))), 0)
         + coalesce(list_sum(list_transform(regexp_extract_all(text, '[^A-Za-z0-9 \t\n\r]+'), x -> length(x))), 0)
       AS INT) AS covered_chars
FROM documents ORDER BY doc_id
"""


QUERIES = {
    "q_lang_confusion": q_lang_confusion,
    "q_dedup_clusters": q_dedup_clusters,
    "q_dedup_keep_best": q_dedup_keep_best,
    "q_regex_tokens": q_regex_tokens,
    "q_quality_filter": q_quality_filter,
    "q_tfidf_terms": q_tfidf_terms,
    "q_token_count": q_token_count,
    "q_text_quality": q_text_quality,
    "q_lang_id": q_lang_id,
    "q_fingerprint": q_fingerprint,
    "q_exact_dedup": q_exact_dedup,
    "q_minhash_signature": q_minhash_signature,
    "q_lsh_pairs": q_lsh_pairs,
    "q_jaccard_pairs": q_jaccard_pairs,
    "q_simhash": q_simhash,
    "q_simhash_near_pairs": q_simhash_near_pairs,
}

ORACLES = {
    "q_lang_confusion": Q_LANG_CONFUSION_SQL,
    "q_dedup_clusters": Q_DEDUP_CLUSTERS_SQL,
    "q_dedup_keep_best": Q_DEDUP_KEEP_BEST_SQL,
    "q_regex_tokens": Q_REGEX_TOKENS_SQL,
    "q_quality_filter": Q_QUALITY_FILTER_SQL,
    "q_tfidf_terms": Q_TFIDF_SQL,
    "q_token_count": Q_TOKEN_COUNT_SQL,
    "q_text_quality": Q_TEXT_QUALITY_SQL,
    "q_lang_id": Q_LANG_ID_SQL,
    "q_fingerprint": Q_FINGERPRINT_SQL,
    "q_exact_dedup": Q_EXACT_DEDUP_SQL,
    "q_minhash_signature": Q_MINHASH_SQL,
    "q_lsh_pairs": Q_LSH_PAIRS_SQL,
    "q_jaccard_pairs": Q_JACCARD_SQL,
    "q_simhash": Q_SIMHASH_SQL,
    "q_simhash_near_pairs": Q_SIMHASH_PAIRS_SQL,
}
