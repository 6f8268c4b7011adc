"""Sparse document-to-document similarity via a DF-pruned inverted index
(r7 new family) — the "related documents" / near-neighbor-by-content
operator that search and recommendation pipelines run corpus-wide.

Unlike the MinHash/SimHash family (binary near-DUP detection) this ranks
GRADED similarity: TF-IDF-weighted cosine between shingle profiles, top
``REL_TOPK`` neighbors per document.  The scale problem is the candidate
join: pairing documents through shared terms costs Σ_t df(t)² pairs, and
a corpus-frequent term alone makes that quadratic.  The fix is DF
pruning with an ABSOLUTE cap (r7 verdict #2): terms with df >
``REL_DF_CAP`` are dropped from the INDEX before the self-join.  The r7
version used a FRACTIONAL cap (df ≤ n/20), which leaves the candidate
bound Θ(n²/400) — the same shape class the media family's 8-bit banding
was retired for.  With the absolute cap the bound is linear in corpus
size: Σ_{kept} df² ≤ REL_DF_CAP · Σ_{kept} df ≤ REL_DF_CAP · |postings|,
i.e. 10× docs → ≤10× candidates, no matter the term distribution (the
bench relatedness ladder measures exactly this).  Dropped terms are
corpus-frequent, so they carry near-zero IDF weight anyway; planted
near-dups pair through their RARE shared trigrams, which the cap keeps
(pinned by tests/test_relatedness.py's planted-quality test).  The same
dial ER blocking audits with Σ block² (queries/er.py).

Determinism contract: tf and df are exact integers; idf is e3-quantized
BEFORE weighting (w = tf·idf_e3, BIGINT), so dots and norms are exact
integer sums; the one closing division + sqrt runs on bit-identical
integers in both engines.  Terms are word trigrams (the corpus
vocabulary is small, so unigram df ≈ n and everything would prune).

100 TB shape: one (doc, term, tf) aggregate, a KB-per-term df frame, an
equi-join on term whose volume is the AUDITED Σ df², one (a, b) hash
aggregate, and a per-doc top-k window over candidate neighbors only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from changegen_spark.operators.fence import fence
from changegen_spark.sources.tables import load_table

REL_N = 3  # word n-gram terms
REL_TOPK = 3
# Absolute index-inclusion cap: keep terms with 2 <= df <= REL_DF_CAP.
# Candidate volume is then ≤ REL_DF_CAP · |postings| — linear in corpus
# size (r7 verdict #2 replaced the fractional n/20 cap, whose worst case
# was Θ(n²/400)).  64 binds well below the sf0.1 corpus' n/20 (~300), so
# the ladder's 10× rung exercises the cap, while rare shared trigrams
# (df of a planted near-dup pair ≈ 2) sit far under it.
REL_DF_CAP = 64
REL_MIN_COS_E6 = 10_000  # drop noise pairs below cosine 0.01


def trigram_tf_pandas():
    """Arrow-batched per-document term frequencies: text →
    array<struct<term,tf>> with one entry per DISTINCT word trigram.

    Same two-jobs-in-one-pass justification as ``lm.bigram_counts_pandas``
    (the r2 minhash lesson): Catalyst's interpreted transform/slice
    n-gram build is the expensive part of this query, and pre-counting
    inside the executor batch removes the (doc_id, term) aggregation
    exchange entirely — the first shuffle left is the per-term df
    aggregate.  Python's argless split() equals split(trim(text), '\\s+')
    on every input (no empty tokens, all-whitespace → no grams)."""
    import collections

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<struct<term:string,tf:long>>")
    def tf_counts(texts):
        out = []
        for t in texts:
            toks = (t or "").split()
            cnt = collections.Counter(
                " ".join(toks[i : i + REL_N])
                for i in range(len(toks) - REL_N + 1)
            )
            out.append(list(cnt.items()))
        return pd.Series(out)

    return tf_counts


def _term_freqs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # Scale-adaptive parallelism, cost-gated (guide §2, r14): the Arrow
    # trigram-count UDF is CPU-bound Python inside the scan stage, and
    # locally the documents table is one parquet split, so the whole tf
    # pass (and the tfs fence materialization feeding it) would serialize
    # on one core.  The per-doc Counter work is in the medium cost regime:
    # GRAM_BYTES_PER_TASK (64 KiB/task, the r14 A/B winner recorded in
    # functions/spread.py) sets the spread; at scale splits >= cores and
    # this is a no-op (text is never shuffled).
    from changegen_spark.functions.spread import (
        GRAM_BYTES_PER_TASK,
        spread_if_narrow,
    )

    d = spread_if_narrow(d, "doc_id", GRAM_BYTES_PER_TASK)
    return d.select(
        "doc_id", F.explode(trigram_tf_pandas()(F.col("text"))).alias("s")
    ).select(
        "doc_id", F.col("s.term").alias("term"), F.col("s.tf").alias("tf")
    )


def q_related_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, rank, rel_doc_id, cos_e6): top-{REL_TOPK} most similar
    documents per document by DF-pruned TF-IDF cosine over word
    trigrams; ties break on the smaller neighbor id."""
    # Fence: tfs feeds three distinct consumers (n_docs, df, w) and w
    # feeds three more (norms and both self-join sides) — without the
    # fences each consumer re-runs the Arrow tf UDF / the kept join
    # (the setsim lesson: fence exactly when consumers DIFFER).
    tfs = _term_freqs(spark, sf_dir).transform(fence, "q_related_docs tfs", eager=False)
    n_docs = tfs.select("doc_id").distinct().agg(
        F.count("*").cast("long").alias("n_docs")
    )
    df = tfs.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    kept = (
        df.crossJoin(F.broadcast(n_docs))
        .filter((F.col("df") >= 2) & (F.col("df") <= REL_DF_CAP))
        .select(
            "term",
            F.round(F.log(F.col("n_docs") / F.col("df")) * 1e3)
            .cast("long")
            .alias("idf_e3"),
        )
    )
    w = tfs.join(kept, "term").select(
        "doc_id", "term", (F.col("tf") * F.col("idf_e3")).alias("w")
    )
    # r13 optimization (guide §2.3/§3): attach the per-doc norm to the
    # POSTINGS before the candidate join and carry it through the (da, db)
    # aggregation (n2 is constant per doc, so min() recovers it exactly).
    # The r8-r12 shape sort-merge-joined norms onto the aggregated pairs
    # TWICE (exchange by da, then by db, four sorts) — at 100 TB those two
    # exchanges move the candidate-pair table (up to REL_DF_CAP x the
    # postings volume).
    #
    # r13 second pass (guide §2.4): the first cut attached norms with a
    # groupBy + doc_id self-join BELOW the term self-join, and the final
    # AQE plan showed the whole w⋈norms subtree executed TWICE (no
    # ReusedExchange fires across the fence scans): 2 SortMergeJoins, 2
    # norms aggregations, 6 exchanges.  n2 is a per-doc sum, so a window
    # over doc_id computes it in ONE pass (one exchange + sort, exact
    # integer arithmetic — addition order irrelevant), and the fence moves
    # to w2 so both self-join sides read the finished frame.  Interleaved
    # A/B min-of-4/5 with the _term_freqs spread: 3.23/3.73 → 2.97/3.40 s;
    # results proven equal by full collect comparison at sf0.1; oracle
    # green.
    w2 = w.withColumn(
        "n2",
        F.sum(F.col("w") * F.col("w"))
        .over(Window.partitionBy("doc_id"))
        .cast("long"),
    ).transform(fence, "q_related_docs w2", eager=False)
    a = w2.select(
        F.col("doc_id").alias("da"),
        "term",
        F.col("w").alias("wa"),
        F.col("n2").alias("na2"),
    )
    b = w2.select(
        F.col("doc_id").alias("db"),
        "term",
        F.col("w").alias("wb"),
        F.col("n2").alias("nb2"),
    )
    # r13 third pass (guide §2.3 "shuffle fewer bytes"): the dot product is
    # symmetric, so pair every candidate ONCE under da < db — half the
    # candidate stream (Σ df² − Σ df over kept terms, the query's largest
    # exchange) enters the term join and the (da, db) shuffle — then
    # mirror each aggregated pair in place with a 2-element explode
    # (dot unchanged, norms swap).  The explode keeps the aggregate a
    # SINGLE consumer subtree (a self-union would re-execute the join:
    # ReuseExchange cannot canonicalize across fenced RDD scans,
    # the same AQE gap the window-norms pass fixed).  Row-for-row
    # identical output: the (x, y) cell with x < y is the old
    # (da=x, db=y) cell, its mirror the old (da=y, db=x) cell.
    half = (
        a.join(b, "term")
        .filter(F.col("da") < F.col("db"))
        .groupBy("da", "db")
        .agg(
            F.sum(F.col("wa") * F.col("wb")).cast("long").alias("dot"),
            F.min("na2").alias("na2"),
            F.min("nb2").alias("nb2"),
        )
    )
    dots = half.select(
        F.explode(
            F.array(
                F.struct("da", "db", "dot", "na2", "nb2"),
                F.struct(
                    F.col("db").alias("da"),
                    F.col("da").alias("db"),
                    F.col("dot"),
                    F.col("nb2").alias("na2"),
                    F.col("na2").alias("nb2"),
                ),
            )
        ).alias("p")
    ).select("p.da", "p.db", "p.dot", "p.na2", "p.nb2")
    scored = dots.select(
        "da",
        "db",
        F.round(
            F.col("dot") * 1e6 / (F.sqrt(F.col("na2")) * F.sqrt(F.col("nb2")))
        )
        .cast("long")
        .alias("cos_e6"),
    ).filter(F.col("cos_e6") >= REL_MIN_COS_E6)
    wnd = Window.partitionBy("da").orderBy(F.desc("cos_e6"), "db")
    return (
        scored.withColumn("rank", F.row_number().over(wnd).cast("long"))
        .filter(F.col("rank") <= REL_TOPK)
        .select(
            F.col("da").alias("doc_id"),
            "rank",
            F.col("db").alias("rel_doc_id"),
            "cos_e6",
        )
        .orderBy("doc_id", "rank")
    )


Q_RELATED_DOCS_SQL = f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
), grams AS (
  SELECT doc_id,
         array_to_string(t[CAST(i AS INT):CAST(i + {REL_N - 1} AS INT)], ' ') AS term
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - {REL_N - 1})) AS i
        FROM toks WHERE len(t) >= {REL_N})
), tfs AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM grams GROUP BY doc_id, term
), nd AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs FROM tfs),
kept AS (
  SELECT term,
         CAST(round(ln(n_docs / (1.0 * df)) * 1e3) AS BIGINT) AS idf_e3
  FROM (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tfs GROUP BY term)
  CROSS JOIN nd
  WHERE df >= 2 AND df <= {REL_DF_CAP}
), w AS (
  SELECT doc_id, tfs.term, CAST(tf * idf_e3 AS BIGINT) AS w
  FROM tfs JOIN kept ON tfs.term = kept.term
), norms AS (
  SELECT doc_id, CAST(sum(w * w) AS BIGINT) AS n2 FROM w GROUP BY doc_id
), dots AS (
  SELECT a.doc_id AS da, b.doc_id AS db, CAST(sum(a.w * b.w) AS BIGINT) AS dot
  FROM w a JOIN w b ON a.term = b.term AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
), scored AS (
  SELECT da, db,
         CAST(round(dot * 1e6 / (sqrt(na.n2) * sqrt(nb.n2))) AS BIGINT) AS cos_e6
  FROM dots JOIN norms na ON na.doc_id = da JOIN norms nb ON nb.doc_id = db
), ranked AS (
  SELECT da, db, cos_e6,
         row_number() OVER (PARTITION BY da ORDER BY cos_e6 DESC, db) AS rank
  FROM scored WHERE cos_e6 >= {REL_MIN_COS_E6}
)
SELECT da AS doc_id, CAST(rank AS BIGINT) AS rank, db AS rel_doc_id, cos_e6
FROM ranked WHERE rank <= {REL_TOPK}
ORDER BY doc_id, rank
"""


def q_df_prune_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row: the candidate-volume audit the similarity join is sized
    by — Σ df² over KEPT terms (≤ REL_DF_CAP · |postings| by
    construction) vs over ALL terms (the pruning win), plus term counts.
    The same role q_er_blocks plays for ER blocking."""
    tfs = _term_freqs(spark, sf_dir)
    df = tfs.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    flagged = df.select(
        "df",
        ((F.col("df") >= 2) & (F.col("df") <= REL_DF_CAP)).alias("kept"),
    )
    return flagged.agg(
        F.count("*").cast("long").alias("n_terms"),
        F.sum(F.col("kept").cast("long")).cast("long").alias("n_kept"),
        F.sum(F.col("df") * F.col("df")).cast("long").alias("sum_df2_all"),
        F.sum(
            F.when(F.col("kept"), F.col("df") * F.col("df")).otherwise(0)
        )
        .cast("long")
        .alias("sum_df2_kept"),
    )


Q_DF_PRUNE_AUDIT_SQL = f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
), grams AS (
  SELECT doc_id,
         array_to_string(t[CAST(i AS INT):CAST(i + {REL_N - 1} AS INT)], ' ') AS term
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - {REL_N - 1})) AS i
        FROM toks WHERE len(t) >= {REL_N})
), tfs AS (
  SELECT doc_id, term, count(*) AS tf FROM grams GROUP BY doc_id, term
), dfs AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df,
         (count(*) >= 2 AND count(*) <= {REL_DF_CAP}) AS kept
  FROM tfs GROUP BY term
)
SELECT CAST(count(*) AS BIGINT) AS n_terms,
       CAST(sum(CAST(kept AS BIGINT)) AS BIGINT) AS n_kept,
       CAST(sum(df * df) AS BIGINT) AS sum_df2_all,
       CAST(sum(CASE WHEN kept THEN df * df ELSE 0 END) AS BIGINT) AS sum_df2_kept
FROM dfs
"""


QUERIES = {
    "q_related_docs": q_related_docs,
    "q_df_prune_audit": q_df_prune_audit,
}
ORACLES = {
    "q_related_docs": Q_RELATED_DOCS_SQL,
    "q_df_prune_audit": Q_DF_PRUNE_AUDIT_SQL,
}
