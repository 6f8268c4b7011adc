"""Lloyd's k-means over the embeddings table — the clustering stage
production pipelines run before semantic dedup (SemDeDup partitions by
k-means cells), IVF index training, and mixture analysis.  The repo's
IVF quantizer (functions/similarity.py) deliberately uses a medoid rule
to stay oracle-able; this module is the real iterative Lloyd's loop,
made engine-exact so it can carry a FULL SQL oracle (a 3-round unroll,
the fixed-depth contract shape PageRank established).

Integer determinism contract (both engines, any partitioning):
  * vectors quantized once: v[d] = CAST(round(emb[d]·1e6) AS BIGINT);
  * init: the K vectors with smallest (h60(vec_id), vec_id) become
    centroids 0..K-1 in that order (no rand());
  * assignment: argmin of the EXACT integer squared distance, ties to
    the smaller cluster id;
  * update: per-dimension integer division (Σv) div n — Spark ``div``
    and DuckDB ``//`` both truncate toward zero (verified on
    negatives); empty clusters keep their previous centroid;
  * KM_ITERS assign+update rounds, then one final assignment.

100 TB design: per round the plan is one broadcast join of the KB-sized
centroid table against the vectors (map-only distance + argmin via a
single min(struct)) and one posexplode/groupBy hash shuffle of
(cluster, dim) partial sums with map-side combine.  Nothing quadratic;
the only driver-side artifact is the k×dim centroid table (the same
bounded-collect contract as bpe_train / IVF).  The vector frame is
fenced once, so the parquet scan happens once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from changegen_spark.operators.fence import fence
from changegen_spark.sources.tables import load_table

K_CLUSTERS = 8
KM_ITERS = 3
KM_DIM = 64


def _vecs_e6(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = load_table(spark, sf_dir, "embeddings")
    return v.select(
        "vec_id",
        F.transform(
            "embedding", lambda x: F.round(x.cast("double") * 1e6).cast("long")
        ).alias("v"),
    )


def _assign(vecs: DataFrame, cent_df: DataFrame) -> DataFrame:
    """One assignment pass: broadcast centroids, exact integer argmin."""
    d2 = F.aggregate(
        F.zip_with("v", "c", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        vecs.crossJoin(F.broadcast(cent_df))
        .withColumn("d2", d2)
        .groupBy("vec_id")
        .agg(F.min(F.struct("d2", "cluster")).alias("m"))
        .select(
            "vec_id", F.col("m.cluster").alias("cluster"), F.col("m.d2").alias("d2")
        )
    )


def kmeans_fit(
    vecs: DataFrame, k: int = K_CLUSTERS, iters: int = KM_ITERS
) -> tuple[DataFrame, list[tuple[int, list[int]]]]:
    """Lloyd's loop over a (vec_id, v: array<long>) frame.  Returns the
    final assignment frame (vec_id, cluster, d2) and the final centroid
    table."""
    spark = vecs.sparkSession
    from changegen_spark.queries.sketches import h60

    # every round and the final assignment read the fenced vectors
    vecs = vecs.transform(fence, "kmeans_fit vectors")
    init = vecs.orderBy(h60(F.col("vec_id")), "vec_id").limit(k).collect()
    cents: list[tuple[int, list[int]]] = [
        (i, list(r["v"])) for i, r in enumerate(init)
    ]
    for _ in range(iters):
        cent_df = spark.createDataFrame(cents, "cluster INT, c array<bigint>")
        best = _assign(vecs, cent_df)
        upd = (
            best.join(vecs, "vec_id")
            .select("cluster", F.posexplode("v").alias("dim", "val"))
            .groupBy("cluster", "dim")
            .agg(F.sum("val").alias("s"), F.count("*").alias("n"))
            .select("cluster", "dim", F.expr("s div n").alias("cv"))
            .groupBy("cluster")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "cv"))),
                    lambda x: x["cv"],
                ).alias("c")
            )
            .collect()
        )
        new = {r["cluster"]: list(r["c"]) for r in upd}
        # empty clusters keep their previous centroid
        cents = [(cid, new.get(cid, old)) for cid, old in cents]
    final = _assign(
        vecs, spark.createDataFrame(cents, "cluster INT, c array<bigint>")
    )
    return final, cents


def q_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final k-means assignment per vector with the exact integer
    squared distance (e6-quantized units)."""
    final, _cents = kmeans_fit(_vecs_e6(spark, sf_dir))
    return final.select(
        "vec_id",
        "cluster",
        F.col("d2").alias("dist2_e12"),
    ).orderBy("vec_id")


def _kmeans_sql() -> str:
    from changegen_spark.queries.sketches import _H60_SQL

    h = _H60_SQL.format(x="vec_id")
    vq = (
        "list_transform(embedding,"
        " x -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT))"
    )
    dist = (
        "CAST(list_sum(list_transform(list_zip(v.v, c.c),"
        " s -> (s[1]-s[2])*(s[1]-s[2]))) AS BIGINT)"
    )
    sql = f"""WITH v AS (SELECT vec_id, {vq} AS v FROM embeddings),
init AS (SELECT vec_id, v, row_number() OVER (ORDER BY {h}, vec_id) AS rn FROM v),
c0 AS (SELECT CAST(rn - 1 AS INT) AS cluster, v AS c FROM init WHERE rn <= {K_CLUSTERS})"""
    prev = "c0"
    for i in range(1, KM_ITERS + 1):
        sql += f""",
a{i} AS (SELECT vec_id, v, cluster,
         row_number() OVER (PARTITION BY vec_id ORDER BY d2, cluster) AS rk
         FROM (SELECT v.vec_id, v.v, c.cluster, {dist} AS d2
               FROM v CROSS JOIN {prev} c)),
b{i} AS (SELECT vec_id, v, cluster FROM a{i} WHERE rk = 1),
d{i} AS (SELECT cluster, unnest(generate_series(1, {KM_DIM})) AS i, v FROM b{i}),
m{i} AS (SELECT cluster, CAST(i AS INT) AS dim,
         CAST(sum(v[CAST(i AS INT)]) // count(*) AS BIGINT) AS cv
         FROM d{i} GROUP BY cluster, i),
l{i} AS (SELECT cluster, list(cv ORDER BY dim) AS c FROM m{i} GROUP BY cluster),
c{i} AS (SELECT p.cluster, coalesce(l.c, p.c) AS c
         FROM {prev} p LEFT JOIN l{i} l USING (cluster))"""
        prev = f"c{i}"
    sql += f""",
fin AS (SELECT vec_id, cluster, d2,
        row_number() OVER (PARTITION BY vec_id ORDER BY d2, cluster) AS rk
        FROM (SELECT v.vec_id, c.cluster, {dist} AS d2
              FROM v CROSS JOIN {prev} c))
SELECT vec_id, cluster, d2 AS dist2_e12 FROM fin WHERE rk = 1 ORDER BY vec_id"""
    return sql


# --- greedy k-center coreset (r7) --------------------------------------------
#
# Data-pruning pipelines select a small DIVERSE subset (a coreset) to
# represent the corpus — the classic 2-approximation is Gonzalez's greedy
# k-center: start from a fixed seed, repeatedly add the point FARTHEST
# from the selected set.  The max-min distance at each pick is the
# coverage radius — the quantity a pruning run budgets against.  Fully
# deterministic here: exact integer squared distances on the e6-quantized
# vectors, ties to the smaller vec_id, fixed unroll depth — the same
# contract that lets k-means/MMR carry full SQL oracles.
#
# 100 TB shape: each round is one broadcast of the ≤KC_K selected vectors
# against the corpus (map-only distance + min), one hash aggregate, one
# top-1 TakeOrdered — nothing quadratic, no corpus-side state between
# rounds beyond the persisted scan.

KC_K = 6


def q_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(rank, vec_id, radius_d2): the KC_K greedy k-center picks in order;
    ``radius_d2`` is the exact integer max-min squared distance at the
    moment of selection (0 for the seed), non-increasing by construction."""
    v = _vecs_e6(spark, sf_dir).transform(fence, "q_kcenter_coreset v")
    sel = (
        v.orderBy("vec_id")
        .limit(1)
        .select(
            "vec_id",
            "v",
            F.lit(1).cast("long").alias("rank"),
            F.lit(0).cast("long").alias("radius_d2"),
        )
    )
    d2 = F.aggregate(
        F.zip_with("v", "c", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    for t in range(2, KC_K + 1):
        mind = (
            v.crossJoin(F.broadcast(sel.select(F.col("v").alias("c"))))
            .withColumn("d2", d2)
            .groupBy("vec_id")
            .agg(F.min("d2").alias("mind"))
        )
        pick = (
            mind.join(sel.select("vec_id"), "vec_id", "left_anti")
            .orderBy(F.desc("mind"), "vec_id")
            .limit(1)
        )
        pick = pick.join(v, "vec_id").select(
            "vec_id",
            "v",
            F.lit(t).cast("long").alias("rank"),
            F.col("mind").alias("radius_d2"),
        )
        sel = sel.unionByName(pick).transform(fence, "q_kcenter_coreset sel")
    return sel.select("rank", "vec_id", "radius_d2").orderBy("rank")


def _kcenter_sql() -> str:
    vq = (
        "list_transform(embedding,"
        " x -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT))"
    )
    dist = (
        "CAST(list_sum(list_transform(list_zip(a.v, s.v),"
        " z -> (z[1]-z[2])*(z[1]-z[2]))) AS BIGINT)"
    )
    sql = f"""WITH v AS (SELECT vec_id, {vq} AS v FROM embeddings),
s1 AS (SELECT vec_id, v, CAST(1 AS BIGINT) AS rank, CAST(0 AS BIGINT) AS radius_d2
       FROM v ORDER BY vec_id LIMIT 1)"""
    prev = "s1"
    for t in range(2, KC_K + 1):
        sql += f""",
c{t} AS (SELECT a.vec_id, min({dist}) AS mind
         FROM v a CROSS JOIN {prev} s
         WHERE a.vec_id NOT IN (SELECT vec_id FROM {prev})
         GROUP BY a.vec_id),
p{t} AS (SELECT vec_id, CAST(mind AS BIGINT) AS mind
         FROM c{t} ORDER BY mind DESC, vec_id LIMIT 1),
s{t} AS (SELECT * FROM {prev}
         UNION ALL
         SELECT v.vec_id, v.v, CAST({t} AS BIGINT), p.mind
         FROM p{t} p JOIN v ON v.vec_id = p.vec_id)"""
        prev = f"s{t}"
    sql += f"""
SELECT rank, vec_id, radius_d2 FROM {prev} ORDER BY rank"""
    return sql


QUERIES = {"q_kmeans": q_kmeans, "q_kcenter_coreset": q_kcenter_coreset}
ORACLES = {
    "q_kmeans": _kmeans_sql(),
    "q_kcenter_coreset": _kcenter_sql(),
}
