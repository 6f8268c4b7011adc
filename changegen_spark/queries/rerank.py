"""MMR diversified re-ranking (r6 new family).

Maximal Marginal Relevance (Carbonell & Goldstein 1998): after a
retrieval stage produces a relevance-ranked candidate pool, greedily
select k results trading relevance against redundancy:

    pick argmax over remaining c of  rel(c) − max_{s ∈ selected} sim(c, s)

(the λ=½ form, scaled by 2 so everything stays integer).  The engine
follows the k-means integer-exact contract: embeddings are e6-quantized
once (BIGINT), relevance and pairwise similarity are EXACT integer dot
products, ties break on vec_id — so the greedy trajectory is fully
deterministic and the oracle can replay it as a k-round unrolled SQL
query (the PageRank/k-means fixed-depth contract shape).

Stages: brute-force relevance scoring (the existing ANN family provides
the scale path for this stage — MMR consumes ANY pool), top-``MMR_POOL``
pool per query, then ``MMR_K − 1`` greedy rounds.

100 TB shape: pool construction is the retrieval problem (banded/IVF
paths elsewhere); the rerank itself touches n_queries × MMR_POOL rows —
per-query constant work, embarrassingly parallel across queries.  Each
greedy round is one broadcast-sized join; the selected set is
checkpointed per round so the plan stays linear in k.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from changegen_spark.operators.fence import fence
from changegen_spark.sources.tables import load_table

MMR_K = 4
MMR_POOL = 16
MMR_QMOD = 100  # queries = vec_id % MMR_QMOD == 0 (the ANN convention)


def _vecs_e6(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = load_table(spark, sf_dir, "embeddings")
    return v.select(
        "vec_id",
        F.transform(
            "embedding", lambda x: F.round(x.cast("double") * 1e6).cast("long")
        ).alias("v"),
    )


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _queries_frame(v: DataFrame) -> DataFrame:
    return v.filter(F.col("vec_id") % MMR_QMOD == 0).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )


def _top_pool(scored: DataFrame) -> DataFrame:
    # r13: no checkpoint fence — the pandas greedy rerank is the pool's
    # ONLY consumer now (the k-round DataFrame loop it fenced is gone),
    # so the eager materialization job was pure overhead.
    w = Window.partitionBy("query_id").orderBy(F.desc("rel"), "vec_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= MMR_POOL)
        .drop("rn")
    )


def q_mmr_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-``MMR_K`` diversified results per query.  ``rel_dot`` is the
    exact integer relevance; ``mmr_score`` is the objective value at the
    moment of selection (= rel_dot for rank 1).  The pool here is the
    EXACT brute-force top-``MMR_POOL`` (corpus×queries) — the small-sf
    baseline; ``q_mmr_topk_lsh`` is the scale path."""
    v = _vecs_e6(spark, sf_dir)
    q = _queries_frame(v)
    scored = (
        v.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", "v", _dot("qv", "v").alias("rel"))
    )
    pool = _top_pool(scored)
    return _greedy_rerank(pool)


def _greedy_rerank(pool: DataFrame) -> DataFrame:
    """MMR_K greedy rounds over a (query_id, vec_id, v, rel) pool — shared
    by the exact and the LSH-fed pools.

    r13 rewrite (guide §1.2 step 1 — fix the distributed algorithm): the
    greedy trajectory is per-query independent over a pool of at most
    ``MMR_POOL`` rows, so the whole k-round loop runs inside ONE
    ``applyInPandas`` pass keyed by query_id — one exchange total,
    replacing MMR_K−1 rounds of (left_anti join + join + groupBy +
    window + union + eager fence), each of which was a full
    Spark job whose fixed cost dominated the 16-row-per-query work.  At
    100 TB the shape is unchanged-or-better: per-query state is bounded
    by MMR_POOL and queries spread across tasks; the former loop's
    O(MMR_K) sequential job barrier disappears.

    Arithmetic is the same exact-integer contract: rel and pairwise dots
    are int products of the e6-quantized vectors (Python ints — no
    overflow, no float), ties break on vec_id; selection order and
    objective values are pinned against an independent Python MMR in
    tests/test_rerank.py."""
    import pandas as pd

    def mmr(pdf: pd.DataFrame) -> pd.DataFrame:
        cand = sorted(
            (
                (int(r.rel), int(r.vec_id), [int(x) for x in r.v])
                for r in pdf.itertuples(index=False)
            ),
            key=lambda c: (-c[0], c[1]),
        )
        qid = int(pdf["query_id"].iloc[0])
        out_rows = []
        selected: list[list[int]] = []
        remaining = cand
        for t in range(1, MMR_K + 1):
            if not remaining:
                break
            if t == 1:
                best = remaining[0]  # max rel, tie vec_id asc (pre-sorted)
                score = best[0]
            else:
                best, score = None, None
                for rel, vid, v in remaining:
                    s = rel - max(
                        sum(x * y for x, y in zip(v, sv)) for sv in selected
                    )
                    if best is None or s > score or (s == score and vid < best[1]):
                        best, score = (rel, vid, v), s
            selected.append(best[2])
            out_rows.append((qid, t, best[1], best[0], score))
            remaining = [c for c in remaining if c[1] != best[1]]
        return pd.DataFrame(
            out_rows,
            columns=["query_id", "rank", "vec_id", "rel_dot", "mmr_score"],
        )

    return (
        pool.groupBy("query_id")
        .applyInPandas(
            mmr,
            schema=(
                "query_id long, rank long, vec_id long, "
                "rel_dot long, mmr_score long"
            ),
        )
        .orderBy("query_id", "rank")
    )


# --- LSH-fed pool (r7: the retrieval-fed scale path, r6 verdict #3) ---------
#
# The exact form's pool build scores every corpus vector against every
# query (crossJoin → BroadcastNestedLoopJoin): O(n·q) dot products.  The
# scale path draws candidates from OR-amplified sign-LSH band collisions —
# the same banded plan shape as q_hard_negatives_lsh / q_embedding_dedup_lsh
# — so only collided candidates are scored; the greedy rerank is byte-for-
# byte the shared _greedy_rerank.  Band geometry is the measured
# hard-negatives operating point (queries/vectors.py LSH_BANDS, 8 bands ×
# 4 bits): this fixture's top-relevance pairs sit at cos ≲ 0.5 where sign
# planes agree only ~65%/bit, so recall is bought with bands, not bits —
# the 4×8-bit dedup config collides near-NOTHING here (measured recall 0).
# Buckets are computed from the e6-QUANTIZED integers (sign of v[d]) so
# engine and oracle replay the exact same pool; pool recall vs the exact
# pool is pytest-pinned (tests/test_rerank.py).
from changegen_spark.queries.vectors import LSH_BANDS as MMR_BANDS


def _int_bucket(col, dims: list[int]):
    b = F.lit(0)
    for j, d in enumerate(dims):
        b = b + F.when(F.element_at(F.col(col), d + 1) > 0, F.lit(1 << j)).otherwise(
            F.lit(0)
        )
    return b.cast("int")


def _lsh_pool(v: DataFrame, q: DataFrame) -> DataFrame:
    """Top-``MMR_POOL`` per query from sign-LSH band collisions: ONE
    bucket equi-join on (band, bucket) with the query side broadcast
    carrying ids only; candidates deduped, vectors re-attached by id,
    scored exactly.

    r13 (guide §2.4): all ``len(MMR_BANDS)`` band buckets are computed in
    one projection and ``posexplode``d, so the corpus side is scanned and
    joined ONCE on the composite (band, bucket) key — the previous
    per-band loop built 8 join branches + a union, each branch re-reading
    the corpus frame.  The collision set is identical: a (query, vec)
    pair collides in band i iff it joins on key (i, bucket_i)."""
    vb = v.select(
        "vec_id",
        F.posexplode(
            F.array(*[_int_bucket("v", bd) for bd in MMR_BANDS])
        ).alias("band", "bucket"),
    )
    qb = q.select(
        "query_id",
        F.posexplode(
            F.array(*[_int_bucket("qv", bd) for bd in MMR_BANDS])
        ).alias("band", "bucket"),
    )
    cands = (
        vb.join(F.broadcast(qb), ["band", "bucket"])
        .select("query_id", "vec_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .distinct()
    )
    scored = (
        cands.join(v, "vec_id")
        .join(F.broadcast(q), "query_id")
        .select("query_id", "vec_id", "v", _dot("qv", "v").alias("rel"))
    )
    return _top_pool(scored)


def q_mmr_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR over an LSH-retrieved pool: candidates collide with the query
    in ≥1 of the 8 4-bit sign bands (bucket equi-joins with the query
    side broadcast, ids only), are scored exactly, pooled
    top-``MMR_POOL``, then greedily reranked exactly like ``q_mmr_topk``.
    Corpus-side work is O(n·bands) map + O(collisions) — no
    BroadcastNestedLoopJoin over the corpus (plan-pinned)."""
    v = _vecs_e6(spark, sf_dir).transform(fence, "q_mmr_topk_lsh v")
    q = _queries_frame(v)
    return _greedy_rerank(_lsh_pool(v, q))


def _bucket_sql(col: str, dims: list[int]) -> str:
    return (
        "("
        + " + ".join(
            f"(CASE WHEN list_extract({col}, {d + 1}) > 0 THEN {1 << j} ELSE 0 END)"
            for j, d in enumerate(dims)
        )
        + ")"
    )


def _mmr_sql(lsh_pool: bool = False) -> str:
    vq = (
        "list_transform(embedding,"
        " x -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT))"
    )

    def dot(a: str, b: str) -> str:
        return (
            f"CAST(list_sum(list_transform(list_zip({a}, {b}),"
            " z -> z[1]*z[2])) AS BIGINT)"
        )

    if lsh_pool:
        sig = "\n  UNION ALL ".join(
            f"SELECT vec_id, {i} AS band, {_bucket_sql('v', bd)} AS bucket FROM v"
            for i, bd in enumerate(MMR_BANDS)
        )
        qsig = "\n  UNION ALL ".join(
            f"SELECT query_id, {i} AS band, {_bucket_sql('qv', bd)} AS bucket FROM q"
            for i, bd in enumerate(MMR_BANDS)
        )
        pool_ctes = f"""sig AS (
  {sig}
), qsig AS (
  {qsig}
), cand AS (
  SELECT DISTINCT p.query_id, s.vec_id
  FROM sig s JOIN qsig p ON s.band = p.band AND s.bucket = p.bucket
  WHERE s.vec_id <> p.query_id
),
rel AS (SELECT c.query_id, c.vec_id, v.v, {dot("q.qv", "v.v")} AS rel
        FROM cand c JOIN v ON v.vec_id = c.vec_id
        JOIN q ON q.query_id = c.query_id)"""
    else:
        pool_ctes = f"""rel AS (SELECT q.query_id, v.vec_id, v.v, {dot("q.qv", "v.v")} AS rel
        FROM q JOIN v ON v.vec_id <> q.query_id)"""

    sql = f"""WITH v AS (SELECT vec_id, {vq} AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM v WHERE vec_id % {MMR_QMOD} = 0),
{pool_ctes},
pool AS (SELECT query_id, vec_id, v, rel FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, vec_id) AS rn
           FROM rel) WHERE rn <= {MMR_POOL}),
s1 AS (SELECT query_id, vec_id, v, rel, 1 AS rank, rel AS mmr_score FROM (
         SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, vec_id) AS rk
         FROM pool) WHERE rk = 1)"""
    prev = "s1"
    for t in range(2, MMR_K + 1):
        sql += f""",
c{t} AS (SELECT p.query_id, p.vec_id, p.v, p.rel,
                p.rel - max({dot("p.v", "s.v")}) AS score
         FROM pool p JOIN {prev} s USING (query_id)
         WHERE NOT EXISTS (SELECT 1 FROM {prev} x
                           WHERE x.query_id = p.query_id AND x.vec_id = p.vec_id)
         GROUP BY p.query_id, p.vec_id, p.v, p.rel),
p{t} AS (SELECT query_id, vec_id, v, rel, {t} AS rank, score AS mmr_score FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rk
           FROM c{t}) WHERE rk = 1),
s{t} AS (SELECT * FROM {prev} UNION ALL SELECT * FROM p{t})"""
        prev = f"s{t}"
    sql += f"""
SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id, rel AS rel_dot, mmr_score
FROM {prev} ORDER BY query_id, rank"""
    return sql


QUERIES = {"q_mmr_topk": q_mmr_topk, "q_mmr_topk_lsh": q_mmr_topk_lsh}
ORACLES = {
    "q_mmr_topk": _mmr_sql(),
    "q_mmr_topk_lsh": _mmr_sql(lsh_pool=True),
}
