"""Distributed suffix-array construction (prefix doubling) and exact
longest-repeated-substring mining.

Suffix arrays are the exact-substring-dedup primitive (Lee et al. 2022
"Deduplicating Training Data Makes Language Models Better" build one over
the corpus to find all ≥50-token verbatim repeats; ``q_dup_spans`` is the
fixed-n n-gram approximation of the same goal).  This module constructs
true suffix RANKS distributively by prefix doubling (Manber-Myers; the
standard distributed formulation, e.g. Flick & Aluru SC'15): after round
``j`` every suffix is ranked by its first 2^j characters, and a round
re-ranks by the pair (rank(i), rank(i + 2^j)) — so ceil(log2(maxlen))
rounds of pure equi-joins + a dense rank produce the full lexicographic
ranking WITHOUT ever materializing suffix strings.

The DuckDB oracle is the structurally opposite algorithm: it MATERIALIZES
every suffix string and sorts them (fine at fixture scale, impossible at
corpus scale) — a green row proves the doubling recurrence equals the
definitional sort.

Scale design: each round is (a) one self-equi-join on (doc_id, pos+2^j)
to fetch the partner rank and (b) one dense rank of the DISTINCT pair
set via ``operators/ids.prefix_sum`` (range partitions, no
single-partition sort of the data), behind a per-round lazy
fence (the PageRank lineage idiom).  Total cost is
O(log maxlen) shuffles of n rows — the accepted distributed-SA price.
Equal suffixes (possible across documents) legitimately share a dense
rank; the recurrence preserves ties exactly, matching dense_rank over
full strings.

The repeats query reports rank-adjacent suffix pairs with their exact
common-prefix length (capped at LCP_CAP chars): the maximal entries are
the corpus's longest verbatim repeats — substring-exact dedup evidence
n-gram windows can only approximate.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from changegen_spark.operators.fence import fence
from changegen_spark.operators.ids import prefix_sum
from changegen_spark.sources.tables import load_table

SUB_MOD = 25  # sub-corpus slice: doc_id % SUB_MOD == 0 (~20 docs at sf0.01)
LCP_CAP = 200  # repeats are reported up to this many chars
MIN_REPEAT = 12  # minimum repeated-substring length worth reporting
TOP_REPEATS = 20


def _sub_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "documents")
        .filter((F.col("doc_id") % SUB_MOD == 0) & (F.length("text") > 0))
        .select("doc_id", F.col("text").alias("s"))
    )


def _dense_rank(distinct_keys: DataFrame, cols: list[str]) -> DataFrame:
    """rank 1..K for the already-DISTINCT key frame, ordered by ``cols``
    ascending."""
    return prefix_sum(distinct_keys, cols).select(*cols, F.col("run").alias("rank"))


def suffix_ranks(docs: DataFrame) -> DataFrame:
    """(doc_id, pos, rank): dense lexicographic rank of every suffix
    ``substr(s, pos)`` across all documents, by prefix doubling."""
    spark = docs.sparkSession
    chars = docs.select(
        "doc_id",
        F.posexplode(
            F.expr("transform(sequence(1, length(s)), i -> substring(s, i, 1))")
        ).alias("p0", "c"),
    ).select("doc_id", (F.col("p0") + 1).alias("pos"), "c")

    # round 0: rank by the single character
    r = chars.join(
        _dense_rank(chars.select("c").distinct(), ["c"]), "c"
    ).select("doc_id", "pos", "rank")
    r = r.transform(fence, "suffix_ranks r", eager=False)

    max_len = docs.agg(F.max(F.length("s"))).collect()[0][0] or 1
    rounds = max(1, math.ceil(math.log2(max_len))) if max_len > 1 else 0

    k = 1
    for _ in range(rounds):
        partner = r.select(
            "doc_id",
            (F.col("pos") - F.lit(k)).alias("pos"),
            F.col("rank").alias("rb"),
        )
        paired = (
            r.withColumnRenamed("rank", "ra")
            .join(partner, ["doc_id", "pos"], "left")
            .withColumn("rb", F.coalesce("rb", F.lit(0)))
        )
        ranks = _dense_rank(
            paired.select("ra", "rb").distinct(), ["ra", "rb"]
        )
        r = paired.join(ranks, ["ra", "rb"]).select("doc_id", "pos", "rank")
        r = r.transform(fence, "suffix_ranks r", eager=False)
        k *= 2
    return r


def q_suffix_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The suffix array of the ``doc_id % 25 == 0`` sub-corpus as dense
    ranks per (doc_id, pos) — prefix doubling vs the oracle's
    materialize-and-sort."""
    return suffix_ranks(_sub_docs(spark, sf_dir)).orderBy("doc_id", "pos")


Q_SUFFIX_RANKS_SQL = f"""
WITH d AS (
  SELECT doc_id, text AS s FROM documents
  WHERE doc_id % {SUB_MOD} = 0 AND length(text) > 0
), suf AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos, substr(s, CAST(i AS INT)) AS sx
  FROM (SELECT doc_id, s, unnest(generate_series(1, length(s))) AS i FROM d)
)
SELECT doc_id, pos, CAST(dense_rank() OVER (ORDER BY sx) AS BIGINT) AS rank
FROM suf ORDER BY doc_id, pos
"""


def _lcp_pandas(cap: int):
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def lcp(a, b):
        out = []
        for x, y in zip(a, b):
            x = (x or "")[:cap]
            y = (y or "")[:cap]
            n = min(len(x), len(y))
            i = 0
            while i < n and x[i] == y[i]:
                i += 1
            out.append(i)
        return pd.Series(out)

    return lcp


def q_longest_repeats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{TOP_REPEATS} longest verbatim repeated substrings of the
    sub-corpus: rank-adjacent suffix pairs (the only places a maximal
    repeat can appear) with their exact common-prefix length, capped at
    LCP_CAP chars, reported with an md5 of the repeated text so the
    repeat itself is verifiable without shipping it."""
    docs = _sub_docs(spark, sf_dir)
    ranked = suffix_ranks(docs).join(docs, "doc_id").select(
        "doc_id",
        "pos",
        "rank",
        F.expr(f"substring(s, pos, {LCP_CAP})").alias("px"),
    )
    # neighbours in (rank, doc_id, pos) order meet on consecutive ``run``:
    # rank alone is not a key, as identical suffixes of different documents
    # share a rank.  Fenced once, so the self-join's two sides share one
    # prefix_sum pass.
    seq = prefix_sum(ranked, ["rank", "doc_id", "pos"]).transform(
        fence, "q_longest_repeats seq", eager=False
    )
    prev = seq.select(
        (F.col("run") + 1).alias("run"),
        F.col("doc_id").alias("p_doc"),
        F.col("pos").alias("p_pos"),
        F.col("px").alias("p_px"),
    )
    adj = seq.join(prev, "run")
    out = (
        adj.withColumn("lcp", _lcp_pandas(LCP_CAP)(F.col("px"), F.col("p_px")))
        .filter(F.col("lcp") >= F.lit(MIN_REPEAT))
        .select(
            F.col("p_doc").alias("doc_a"),
            F.col("p_pos").alias("pos_a"),
            F.col("doc_id").alias("doc_b"),
            F.col("pos").alias("pos_b"),
            "lcp",
            F.md5(F.expr("substring(px, 1, cast(lcp as int))")).alias("repeat_md5"),
        )
        .orderBy(F.desc("lcp"), "doc_a", "pos_a", "doc_b", "pos_b")
        .limit(TOP_REPEATS)
    )
    return out


Q_LONGEST_REPEATS_SQL = f"""
WITH d AS (
  SELECT doc_id, text AS s FROM documents
  WHERE doc_id % {SUB_MOD} = 0 AND length(text) > 0
), suf AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         substr(s, CAST(i AS INT), {LCP_CAP}) AS px,
         substr(s, CAST(i AS INT)) AS sx
  FROM (SELECT doc_id, s, unnest(generate_series(1, length(s))) AS i FROM d)
), adj AS (
  SELECT doc_id, pos, px,
         lag(doc_id) OVER w AS p_doc,
         lag(pos) OVER w AS p_pos,
         lag(px) OVER w AS p_px
  FROM suf WINDOW w AS (ORDER BY sx, doc_id, pos)
), lcps AS (
  SELECT p_doc AS doc_a, p_pos AS pos_a, doc_id AS doc_b, pos AS pos_b, px,
         coalesce((SELECT max(l)
                   FROM (SELECT unnest(generate_series(1,
                              least(length(px), length(p_px)))) AS l)
                   WHERE substr(px, 1, CAST(l AS INT))
                         = substr(p_px, 1, CAST(l AS INT))), 0) AS lcp
  FROM adj WHERE p_doc IS NOT NULL
)
SELECT doc_a, pos_a, doc_b, pos_b, lcp,
       md5(substr(px, 1, CAST(lcp AS INT))) AS repeat_md5
FROM lcps WHERE lcp >= {MIN_REPEAT}
ORDER BY lcp DESC, doc_a, pos_a, doc_b, pos_b
LIMIT {TOP_REPEATS}
"""


QUERIES = {
    "q_suffix_ranks": q_suffix_ranks,
    "q_longest_repeats": q_longest_repeats,
}
ORACLES = {
    "q_suffix_ranks": Q_SUFFIX_RANKS_SQL,
    "q_longest_repeats": Q_LONGEST_REPEATS_SQL,
}
