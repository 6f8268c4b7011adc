"""Vector similarity-search queries over the embeddings table.

Brute-force cosine top-k (exact baseline) and sign-LSH bucketed top-k
(approximate scale path).  Dot products are sequential double folds on both
sides so values match exactly; similarities are rounded to 6 dp inside the
query and ordering carries a vec_id tie-break.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from changegen_spark.functions.similarity import (
    as_double,
    brute_force_topk,
    cosine,
    cosine_arrow,
    lsh_bucketed_topk,
    norm,
    sign_lsh_bucket,
)
from changegen_spark.sources.tables import load_table

# Sequential-fold dot product in DuckDB: list_dot_product and list_cosine
# aggregate in index order over DOUBLE lists, matching Spark's F.aggregate
# fold.  Embeddings are FLOAT[]; both sides cast elementwise to DOUBLE first.
_VD = "list_transform(embedding, x -> CAST(x AS DOUBLE))"


def _vecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings")


def q_embed_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _vecs(spark, sf_dir)
    vd = as_double(F.col("embedding"))
    return v.select(
        "vec_id",
        F.round(norm(vd), 6).alias("l2_norm"),
        F.size("embedding").alias("dim"),
    ).orderBy("vec_id")


Q_EMBED_NORM_SQL = f"""
SELECT vec_id,
       round(sqrt(list_dot_product({_VD}, {_VD})), 6) AS l2_norm,
       CAST(len(embedding) AS INT) AS dim
FROM embeddings ORDER BY vec_id
"""


def q_ann_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _vecs(spark, sf_dir)
    queries = v.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return brute_force_topk(v, queries, k=10).orderBy("query_id", "rank")


Q_ANN_BRUTE_SQL = f"""
WITH v AS (SELECT vec_id, {_VD} AS e FROM embeddings),
q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id % 100 = 0),
scored AS (
  SELECT q.query_id, v.vec_id,
         round(list_dot_product(qe, e) / (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(e, e))), 6) AS cos_sim
  FROM v CROSS JOIN q WHERE v.vec_id != q.query_id
), ranked AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id ASC) AS BIGINT) AS rank
  FROM scored
)
SELECT query_id, vec_id, cos_sim, rank FROM ranked WHERE rank <= 10
ORDER BY query_id, rank
"""


# 8 bands × 4 sign bits over the 64-dim embedding: OR-amplified LSH (a
# vector is a candidate on ANY band collision).  r2's single band had
# recall@5 = 0.16 on the fixture; 4 bands measured 0.40-0.44; r5 doubles
# to 8 bands after an offline sweep (candidate-containment recall 0.56 →
# 0.80 at a 0.23 → 0.41 candidate fraction — this fixture's pairs top out
# at cos ~0.46, where sign-planes agree only ~65% per bit, so recall is
# bought with bands, not bits).  tests/test_similarity.py pins the floors.
LSH_BANDS = [
    [0, 8, 16, 24],
    [32, 40, 48, 56],
    [4, 12, 20, 28],
    [36, 44, 52, 60],
    [2, 10, 18, 26],
    [34, 42, 50, 58],
    [6, 14, 22, 30],
    [38, 46, 54, 62],
]


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _vecs(spark, sf_dir)
    queries = v.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return lsh_bucketed_topk(
        v, queries, k=5, bands=LSH_BANDS
    ).orderBy("query_id", "rank")


def _band_sql(dims: list[int]) -> str:
    terms = " + ".join(
        f"(CASE WHEN embedding[{d + 1}] > 0 THEN {1 << j} ELSE 0 END)"
        for j, d in enumerate(dims)
    )
    return f"({terms})"


_BAND_COLS = ", ".join(
    f"{_band_sql(dims)} AS b{i}" for i, dims in enumerate(LSH_BANDS)
)
_BAND_UNION = "\n    UNION\n".join(
    f"    SELECT bq.query_id, bv.vec_id FROM b bv JOIN qb bq ON bv.b{i} = bq.b{i}"
    for i in range(len(LSH_BANDS))
)

Q_ANN_LSH_SQL = f"""
WITH v AS (
  SELECT vec_id, {_VD} AS e FROM embeddings
),
b AS (
  SELECT vec_id, {_BAND_COLS} FROM embeddings
),
qb AS (SELECT vec_id AS query_id, * EXCLUDE (vec_id) FROM b WHERE vec_id % 50 = 0),
cand AS (
  SELECT DISTINCT query_id, vec_id FROM (
{_BAND_UNION}
  ) WHERE vec_id != query_id
),
scored AS (
  SELECT c.query_id, c.vec_id,
         round(list_dot_product(qv.e, vv.e) / (sqrt(list_dot_product(qv.e, qv.e)) * sqrt(list_dot_product(vv.e, vv.e))), 6) AS cos_sim
  FROM cand c
  JOIN v vv ON c.vec_id = vv.vec_id
  JOIN v qv ON c.query_id = qv.vec_id
), ranked AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id ASC) AS BIGINT) AS rank
  FROM scored
)
SELECT query_id, vec_id, cos_sim, rank FROM ranked WHERE rank <= 5
ORDER BY query_id, rank
"""


# --- product quantization ANN ------------------------------------------------

PQ_M, PQ_KS, PQ_DIM = 16, 64, 64


def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-compressed approximate top-k (asymmetric distance): the corpus
    is represented by 16 one-byte codes per vector (16× compression of the
    64-dim float embedding) against a deterministic medoid codebook; each
    query ranks candidates by the exact distance from its raw subvectors
    to the candidates' code vectors.  (m=16, ks=64 measured best of the
    SQL-expressible configs: recall@10 0.50 vs 0.12 at m=4/ks=16;
    tests/test_similarity.py pins the floor.)

    This is the memory-compression leg of the ANN family (IVF partitions
    the corpus, LSH buckets it, PQ SHRINKS it — production systems compose
    IVF+PQ).  Codebooks are kilobytes and inlined as literals, so encoding
    and scoring are zero-shuffle projections; the only exchange is the
    per-query top-k window."""
    from changegen_spark.functions.similarity import pq_topk

    v = _vecs(spark, sf_dir)
    queries = v.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return pq_topk(v, queries, k=10, m=PQ_M, ks=PQ_KS, dim=PQ_DIM).orderBy(
        "query_id", "rank"
    )


_PQ_SUB = PQ_DIM // PQ_M

Q_ANN_PQ_SQL = f"""
WITH v AS (
  SELECT vec_id, {_VD} AS e FROM embeddings
),
js AS (SELECT unnest(generate_series(0, {PQ_M - 1})) AS j),
samp AS (
  SELECT CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS INT) AS code, e
  FROM v
  QUALIFY code < {PQ_KS}
),
cb AS (
  SELECT j, code,
         e[CAST(j * {_PQ_SUB} + 1 AS INT):CAST((j + 1) * {_PQ_SUB} AS INT)] AS cv
  FROM samp CROSS JOIN js
),
subs AS (
  SELECT vec_id, j,
         e[CAST(j * {_PQ_SUB} + 1 AS INT):CAST((j + 1) * {_PQ_SUB} AS INT)] AS sv
  FROM v CROSS JOIN js
),
codes AS (
  SELECT vec_id, j, code FROM (
    SELECT s.vec_id, s.j, cb.code,
           row_number() OVER (
             PARTITION BY s.vec_id, s.j
             ORDER BY list_dot_product(s.sv, s.sv) - 2 * list_dot_product(s.sv, cb.cv)
                      + list_dot_product(cb.cv, cb.cv), cb.code
           ) AS rn
    FROM subs s JOIN cb ON s.j = cb.j
  ) WHERE rn = 1
),
q AS (SELECT vec_id AS query_id FROM embeddings WHERE vec_id % 100 = 0),
qsubs AS (
  SELECT q.query_id, s.j, s.sv FROM q JOIN subs s ON s.vec_id = q.query_id
),
scored AS (
  SELECT qs.query_id, c.vec_id,
         round(sum(list_dot_product(qs.sv, qs.sv) - 2 * list_dot_product(qs.sv, cb.cv)
                   + list_dot_product(cb.cv, cb.cv)), 6) AS est_d2
  FROM codes c
  JOIN cb ON c.j = cb.j AND c.code = cb.code
  JOIN qsubs qs ON qs.j = c.j
  WHERE c.vec_id != qs.query_id
  GROUP BY qs.query_id, c.vec_id
),
ranked AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY est_d2 ASC, vec_id ASC) AS BIGINT) AS rank
  FROM scored
)
SELECT query_id, vec_id, est_d2, rank FROM ranked WHERE rank <= 10
ORDER BY query_id, rank
"""


def q_embedding_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup detection: pairs with cos ≥ 0.35 among a
    probe slice — the semantic-dedup primitive for training corpora.  The
    pair volume makes the interpreted Catalyst cosine fold the bottleneck,
    so the refine runs the bit-identical Arrow kernel (16.74 s → 3.58 s at
    sf0.1, GAPS.md)."""
    v = _vecs(spark, sf_dir).select("vec_id", as_double(F.col("embedding")).alias("e"))
    a = v.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("id_a"), F.col("e").alias("ea")
    )
    pairs = a.join(v, F.col("vec_id") > F.col("id_a"))
    pairs = pairs.withColumn(
        "cos_sim", F.round(cosine_arrow()(F.col("ea"), F.col("e")), 6)
    ).filter(F.col("cos_sim") >= 0.35)
    return pairs.select("id_a", F.col("vec_id").alias("id_b"), "cos_sim").orderBy(
        "id_a", "id_b"
    )


Q_EMBED_DEDUP_SQL = f"""
WITH v AS (SELECT vec_id, {_VD} AS e FROM embeddings),
a AS (SELECT vec_id AS id_a, e AS ea FROM v WHERE vec_id % 10 = 0),
pairs AS (
  SELECT id_a, vec_id AS id_b,
         round(list_dot_product(ea, e) / (sqrt(list_dot_product(ea, ea)) * sqrt(list_dot_product(e, e))), 6) AS cos_sim
  FROM a JOIN v ON vec_id > id_a
)
SELECT id_a, id_b, cos_sim FROM pairs WHERE cos_sim >= 0.35
ORDER BY id_a, id_b
"""


# 4 staggered sign-bit bands for the embedding-dedup SCALE path.  The
# bits-per-band GROW with log(n): with a fixed bucket space, within-band
# candidates are Σ_b n_b·(n_b/10) — quadratic in n (measured: 10.7×
# growth for 10× data at a fixed 8 bits on the sf1 ladder) — while
# occupancy-targeted bits keep expected bucket fill ~EMB_DEDUP_OCC rows,
# making candidate volume ~linear.  The contract/oracle scale (sf0.01,
# n=500) resolves to the 8-bit floor, so the static oracle SQL below
# stays exact; recall on true near-dups (cos ≳ 0.95) stays usable as
# bits grow (p_band = (1-θ/π)^bits; add bands to buy it back if needed).
EMB_DEDUP_N_BANDS = 4
EMB_DEDUP_OCC = 4  # target expected rows per (band, bucket)


def emb_dedup_bits(n_vectors: int) -> int:
    import math

    return min(16, max(8, math.ceil(math.log2(max(n_vectors, 2) / EMB_DEDUP_OCC))))


def emb_dedup_bands(bits: int) -> list[list[int]]:
    # stride-EMB_DEDUP_N_BANDS staggering keeps the 4 bands dim-disjoint
    # for any bits ≤ 16 over the 64-dim embedding
    return [
        [o + EMB_DEDUP_N_BANDS * j for j in range(bits)]
        for o in range(EMB_DEDUP_N_BANDS)
    ]


EMB_DEDUP_BANDS = emb_dedup_bands(8)  # the contract (oracle-scale) config
EMB_DEDUP_SIM = 0.35  # same floor as the exact query, so recall is measurable


def _dedup_sigs(
    df: DataFrame, id_name: str, bands: list[list[int]], vec_col: str = "e"
) -> DataFrame:
    """(id, band, bucket) sign-LSH signature rows — one explode over the
    per-band bucket structs, so each vector is hashed once per band in a
    single map pass (no joins, no shuffle)."""
    return df.select(
        F.col(df.columns[0]).alias(id_name),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        sign_lsh_bucket(F.col(vec_col), bd).alias("bucket"),
                    )
                    for i, bd in enumerate(bands)
                ]
            )
        ).alias("s"),
    ).select(id_name, "s.band", "s.bucket")


def q_embedding_dedup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE PATH of embedding near-dup detection: candidate pairs come
    from OR-amplified sign-LSH band collisions instead of the probe×corpus
    theta join of the exact ``q_embedding_dedup`` (which plans as a
    nested-loop and does O(n²/10) compare work).

    Shape: one map computes 4 band buckets per vector (explode, no
    shuffle), candidates are ONE equi-join on (band, bucket) carrying only
    ids, deduped, and scored exactly after re-attaching vectors by id —
    O(n·bands) map work + O(collisions), every join an equi-join
    (plan-pinned: no BroadcastNestedLoopJoin/CartesianProduct).  The exact
    form stays as the small-sf oracle baseline; containment (lsh ⊆ exact)
    and a recall floor on high-similarity pairs are pytest-pinned."""
    v = _vecs(spark, sf_dir).select("vec_id", as_double(F.col("embedding")).alias("e"))
    # occupancy-targeted band width: one cheap count (a stats lookup on a
    # real catalog) sizes the bucket space so candidates stay ~linear in n
    bands = emb_dedup_bands(emb_dedup_bits(v.count()))
    probe = v.filter(F.col("vec_id") % 10 == 0)
    vs = _dedup_sigs(v, "id_b", bands)
    ps = _dedup_sigs(probe, "id_a", bands)
    cands = (
        vs.join(ps, ["band", "bucket"])
        .filter(F.col("id_b") > F.col("id_a"))
        .select("id_a", "id_b")
        .distinct()
    )
    a_side = v.select(F.col("vec_id").alias("id_a"), F.col("e").alias("ea"))
    b_side = v.select(F.col("vec_id").alias("id_b"), F.col("e").alias("e"))
    pairs = (
        cands.join(a_side, "id_a")
        .join(b_side, "id_b")
        .withColumn("cos_sim", F.round(cosine(F.col("ea"), F.col("e")), 6))
        .filter(F.col("cos_sim") >= EMB_DEDUP_SIM)
    )
    return pairs.select("id_a", "id_b", "cos_sim").orderBy("id_a", "id_b")


def _dedup_bucket_sql(dims: list[int]) -> str:
    return (
        "("
        + " + ".join(
            f"(CASE WHEN list_extract(embedding, {d + 1}) > 0 THEN {1 << j} ELSE 0 END)"
            for j, d in enumerate(dims)
        )
        + ")"
    )


_EMB_DEDUP_SIG_UNION = "\n  UNION ALL ".join(
    f"SELECT vec_id, {i} AS band, {_dedup_bucket_sql(bd)} AS bucket FROM embeddings"
    for i, bd in enumerate(EMB_DEDUP_BANDS)
)

Q_EMBED_DEDUP_LSH_SQL = f"""
WITH sig AS (
  {_EMB_DEDUP_SIG_UNION}
),
cand AS (
  SELECT DISTINCT p.vec_id AS id_a, s.vec_id AS id_b
  FROM sig s JOIN sig p ON s.band = p.band AND s.bucket = p.bucket
  WHERE p.vec_id % 10 = 0 AND s.vec_id > p.vec_id
),
v AS (SELECT vec_id, {_VD} AS e FROM embeddings),
pairs AS (
  SELECT c.id_a, c.id_b,
         round(list_dot_product(a.e, b.e)
               / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))), 6)
           AS cos_sim
  FROM cand c JOIN v a ON a.vec_id = c.id_a JOIN v b ON b.vec_id = c.id_b
)
SELECT id_a, id_b, cos_sim FROM pairs WHERE cos_sim >= {EMB_DEDUP_SIM}
ORDER BY id_a, id_b
"""


def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid vectors (the k-means/IVF building block as a
    standalone operator): posexplode to (label, dim) cells, sum in exact
    scaled-integer units (order-independent), divide once at the end.
    One shuffle keyed by (label, pos) with map-side combine — at 100 TB
    the reduce state is n_labels × dim, independent of row count."""
    v = _vecs(spark, sf_dir)
    vd = as_double(F.col("embedding"))
    el = v.select("label", F.posexplode(vd).alias("pos", "val"))
    return (
        el.groupBy("label", "pos")
        .agg(
            F.sum(F.round(F.col("val") * 1e6).cast("long")).alias("sum_e6"),
            F.count("*").alias("n_vecs"),
        )
        .select(
            "label",
            "pos",
            F.round(F.col("sum_e6") / F.col("n_vecs") / 1e6, 6).alias("centroid_val"),
            "n_vecs",
        )
        .orderBy("label", "pos")
    )


Q_LABEL_CENTROIDS_SQL = f"""
WITH el AS (
  SELECT label,
         unnest(generate_series(0, len(embedding) - 1)) AS pos,
         unnest({_VD}) AS val
  FROM embeddings
)
SELECT label, CAST(pos AS INT) AS pos,
       round(sum(CAST(round(val * 1e6) AS BIGINT)) / count(*) / 1e6, 6)
         AS centroid_val,
       count(*) AS n_vecs
FROM el GROUP BY label, pos ORDER BY label, pos
"""


def q_dim_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension feature standardization, the classic two-phase
    scaling operator: (1) one (pos)-keyed aggregate computes each
    dimension's mean/std in exact scaled-integer sums (order-independent,
    engine-identical; BIGINT square sums are exact to ~10⁶ vectors at e6
    scale — drop to e4 beyond), (2) the dim-count-sized stats frame
    broadcasts back and the z-transform is MAP-ONLY.  Output per vector:
    the extreme z-score and how many dims clip at |z| > 3 — the outlier
    profile a feature-scaling pass feeds to quality filtering.

    At 100 TB: one shuffle whose reduce state is `dim` rows, then a
    broadcast join — the standardize itself never shuffles."""
    v = _vecs(spark, sf_dir)
    vd = as_double(F.col("embedding"))
    el = v.select("vec_id", F.posexplode(vd).alias("pos", "val")).withColumn(
        "e6", F.round(F.col("val") * 1e6).cast("long")
    )
    stats = el.groupBy("pos").agg(
        F.count("*").alias("n"),
        F.sum("e6").alias("s1"),
        F.sum(F.col("e6") * F.col("e6")).alias("s2"),
    )
    mean = F.col("s1") / F.col("n") / 1e6
    # explicit product (not pow): x*x and pow(x, 2) may differ in the last
    # ulp between runtimes, and the oracle squares by multiplication
    m1 = F.col("s1") / F.col("n")
    var = (F.col("s2") / F.col("n") - m1 * m1) / 1e12
    stats = stats.select("pos", mean.alias("mu"), F.sqrt(var).alias("sigma"))
    z = (F.col("e6") / 1e6 - F.col("mu")) / F.col("sigma")
    return (
        el.join(F.broadcast(stats), "pos")
        .withColumn("z", z)
        .groupBy("vec_id")
        .agg(
            F.round(F.max(F.abs(F.col("z"))), 6).alias("max_abs_z"),
            F.sum((F.abs(F.col("z")) > 3.0).cast("long")).alias("n_clipped"),
            # mean via exact integer sum of per-element-rounded z: a double
            # F.avg's summation order varies with partitioning — not hashable
            F.round(
                F.sum(F.round(F.col("z") * 1e6).cast("long")) / F.count("*") / 1e6,
                6,
            ).alias("mean_z"),
        )
        .orderBy("vec_id")
    )


Q_DIM_STANDARDIZE_SQL = f"""
WITH el AS (
  SELECT vec_id,
         unnest(generate_series(0, len(embedding) - 1)) AS pos,
         unnest(list_transform({_VD}, x -> CAST(round(x * 1e6) AS BIGINT))) AS e6
  FROM embeddings
), stats AS (
  SELECT pos, count(*) AS n,
         CAST(sum(e6) AS BIGINT) AS s1, CAST(sum(e6 * e6) AS BIGINT) AS s2
  FROM el GROUP BY pos
), sd AS (
  SELECT pos,
         CAST(s1 AS DOUBLE) / n / 1e6 AS mu,
         sqrt((CAST(s2 AS DOUBLE) / n
               - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)) / 1e12)
           AS sigma
  FROM stats
), zs AS (
  SELECT vec_id, (CAST(e6 AS DOUBLE) / 1e6 - mu) / sigma AS z
  FROM el JOIN sd ON el.pos = sd.pos
)
SELECT vec_id,
       round(max(abs(z)), 6) AS max_abs_z,
       CAST(sum(CASE WHEN abs(z) > 3.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped,
       round(CAST(sum(CAST(round(z * 1e6) AS BIGINT)) AS DOUBLE)
             / count(*) / 1e6, 6) AS mean_z
FROM zs GROUP BY vec_id ORDER BY vec_id
"""


RP_DIM = 16  # random-projection target dimensionality


def q_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss sign random projection to RP_DIM dims with a
    HASH-DEFINED projection matrix: sign(i,j) = ±1 by the first hex char
    of md5('rp_<i>_<j>') — no materialized matrix, any engine (and any
    executor, with no broadcast of model state) reconstructs the same
    projection from nothing.  Output pins the JL contract: the projected
    norm (scaled by 1/sqrt(RP_DIM)) approximates the original norm; the
    ratio column makes preservation auditable per vector.

    At 100 TB the signs frame is RP_DIM x dim rows (KBs) broadcast
    against the exploded vectors — one (vec_id, i)-keyed aggregate, no
    other shuffle."""
    v = _vecs(spark, sf_dir)
    vd = as_double(F.col("embedding"))
    dim = 64
    signs = (
        spark.range(dim)
        .select(F.col("id").cast("int").alias("pos"))
        .crossJoin(spark.range(RP_DIM).select(F.col("id").cast("int").alias("i")))
        .select(
            "pos",
            "i",
            F.when(
                F.substring(
                    F.md5(F.concat_ws("_", F.lit("rp"), F.col("i"), F.col("pos"))),
                    1,
                    1,
                )
                < F.lit("8"),
                F.lit(1),
            )
            .otherwise(F.lit(-1))
            .cast("long")
            .alias("sgn"),
        )
    )
    el = v.select("vec_id", F.posexplode(vd).alias("pos", "val"))
    proj = (
        el.join(F.broadcast(signs), "pos")
        .groupBy("vec_id", "i")
        .agg(
            F.sum(
                F.col("sgn") * (F.round(F.col("val") * 1e6).cast("long"))
            ).alias("p_e6")
        )
    )
    orig = v.select("vec_id", F.round(norm(vd), 6).alias("l2_orig"))
    out = proj.groupBy("vec_id").agg(
        F.round(
            F.sqrt(F.sum(F.col("p_e6") * F.col("p_e6")) / 1e12 / F.lit(RP_DIM)), 6
        ).alias("l2_proj")
    )
    return (
        out.join(orig, "vec_id")
        .select(
            "vec_id",
            "l2_orig",
            "l2_proj",
            F.round(F.col("l2_proj") / F.col("l2_orig"), 6).alias("ratio"),
        )
        .orderBy("vec_id")
    )


Q_RANDOM_PROJECTION_SQL = f"""
WITH el AS (
  SELECT vec_id,
         unnest(generate_series(0, len(embedding) - 1)) AS pos,
         unnest(list_transform({_VD}, x -> CAST(round(x * 1e6) AS BIGINT))) AS e6
  FROM embeddings
), signs AS (
  SELECT p.pos, i.i,
         CASE WHEN substr(md5('rp_' || CAST(i.i AS VARCHAR) || '_'
                           || CAST(p.pos AS VARCHAR)), 1, 1) < '8'
              THEN 1 ELSE -1 END AS sgn
  FROM (SELECT unnest(generate_series(0, 63)) AS pos) p,
       (SELECT unnest(generate_series(0, {RP_DIM - 1})) AS i) i
), proj AS (
  SELECT vec_id, i, CAST(sum(sgn * e6) AS BIGINT) AS p_e6
  FROM el JOIN signs ON el.pos = signs.pos
  GROUP BY vec_id, i
), pn AS (
  SELECT vec_id,
         round(sqrt(CAST(sum(p_e6 * p_e6) AS DOUBLE) / 1e12 / {RP_DIM}), 6)
           AS l2_proj
  FROM proj GROUP BY vec_id
), onorm AS (
  SELECT vec_id, round(sqrt(list_dot_product({_VD}, {_VD})), 6) AS l2_orig
  FROM embeddings
)
SELECT pn.vec_id, onorm.l2_orig, pn.l2_proj,
       round(pn.l2_proj / onorm.l2_orig, 6) AS ratio
FROM pn JOIN onorm ON pn.vec_id = onorm.vec_id
ORDER BY pn.vec_id
"""


HARDNEG_K = 5


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard-negative mining: for each sampled anchor vector,
    the HARDNEG_K most-similar vectors carrying a DIFFERENT label — the
    negative-selection step of contrastive/triplet embedding training
    (in-batch negatives miss exactly these near-boundary cases).

    Scale: the anchor sample is broadcast (KB-sized), the corpus side is
    a map-only score + per-anchor top-k (WindowGroupLimit keeps each map
    task's local top-k before the anchor-keyed exchange); at 100 TB the
    exact scorer swaps for the IVF/LSH candidate stage (q_ann_ivf) with
    identical downstream semantics.

    Output: anchor_id, anchor_label, vec_id, neg_label, cos_sim, rank."""
    from pyspark.sql import Window

    base = _vecs(spark, sf_dir).select(
        "vec_id", as_double(F.col("embedding")).alias("v"), "label"
    )
    anchors = base.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("v").alias("q"),
        F.col("label").alias("anchor_label"),
    )
    scored = (
        base.join(F.broadcast(anchors))
        .filter(F.col("label") != F.col("anchor_label"))
        .withColumn("cos_sim", F.round(cosine(F.col("q"), F.col("v")), 6))
    )
    w = Window.partitionBy("anchor_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= HARDNEG_K)
        .select(
            "anchor_id",
            "anchor_label",
            "vec_id",
            F.col("label").alias("neg_label"),
            "cos_sim",
            F.col("rank").cast("long").alias("rank"),
        )
        .orderBy("anchor_id", "rank")
    )


Q_HARD_NEGATIVES_SQL = f"""
WITH v AS (SELECT vec_id, {_VD} AS e, label FROM embeddings),
a AS (
  SELECT vec_id AS anchor_id, e AS qe, label AS anchor_label
  FROM v WHERE vec_id % 100 = 0
), scored AS (
  SELECT a.anchor_id, a.anchor_label, v.vec_id, v.label AS neg_label,
         round(list_dot_product(qe, e)
               / (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(e, e))), 6)
           AS cos_sim
  FROM v CROSS JOIN a WHERE v.label != a.anchor_label
), ranked AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY anchor_id
                                    ORDER BY cos_sim DESC, vec_id ASC) AS BIGINT)
              AS rank
  FROM scored
)
SELECT anchor_id, anchor_label, vec_id, neg_label, cos_sim, rank
FROM ranked WHERE rank <= {HARDNEG_K}
ORDER BY anchor_id, rank
"""


def q_hard_negatives_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE PATH of hard-negative mining: candidates come from the
    OR-amplified sign-LSH band collisions (the q_ann_lsh machinery)
    instead of scoring the whole corpus per anchor — cost drops from
    O(anchors × corpus) to O(corpus × bands) map work plus the collided
    candidates, which is what survives a 100 TB embedding store.

    Same anchors, same label-mismatch filter and tie rules as the exact
    q_hard_negatives, so recall is directly measurable (pinned in
    tests/test_similarity.py)."""
    from pyspark.sql import Window

    base = _vecs(spark, sf_dir).select(
        "vec_id", as_double(F.col("embedding")).alias("v"), "label"
    )
    anchors = base.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("v").alias("q"),
        F.col("label").alias("anchor_label"),
    )
    # r13 (guide §2.4, the q_mmr_topk_lsh recipe): one posexplode join on
    # the composite (band, bucket) key instead of the 8-branch per-band
    # join + union — the corpus is scanned and joined once; the collision
    # set is identical (collides in band i iff equal on (i, bucket_i)).
    vb = base.select(
        "vec_id",
        F.posexplode(
            F.array(*[sign_lsh_bucket(F.col("v"), bd) for bd in LSH_BANDS])
        ).alias("band", "bucket"),
    )
    ab = anchors.select(
        "anchor_id",
        F.posexplode(
            F.array(*[sign_lsh_bucket(F.col("q"), bd) for bd in LSH_BANDS])
        ).alias("band", "bucket"),
    )
    cands = (
        vb.join(F.broadcast(ab), ["band", "bucket"])
        .select("anchor_id", "vec_id")
        .distinct()
    )
    scored = (
        cands.join(base, "vec_id")
        .join(F.broadcast(anchors), "anchor_id")
        .filter(F.col("label") != F.col("anchor_label"))
        .withColumn("cos_sim", F.round(cosine(F.col("q"), F.col("v")), 6))
    )
    w = Window.partitionBy("anchor_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= HARDNEG_K)
        .select(
            "anchor_id",
            "anchor_label",
            "vec_id",
            F.col("label").alias("neg_label"),
            "cos_sim",
            F.col("rank").cast("long").alias("rank"),
        )
        .orderBy("anchor_id", "rank")
    )


_HN_BAND_UNION = "\n    UNION\n".join(
    f"    SELECT ab.anchor_id, bv.vec_id FROM b bv JOIN ab ON bv.b{i} = ab.b{i}"
    for i in range(len(LSH_BANDS))
)

Q_HARD_NEG_LSH_SQL = f"""
WITH v AS (SELECT vec_id, {_VD} AS e, label FROM embeddings),
b AS (
  SELECT vec_id, {_BAND_COLS} FROM embeddings
),
ab AS (SELECT vec_id AS anchor_id, * EXCLUDE (vec_id) FROM b WHERE vec_id % 100 = 0),
cand AS (
  SELECT DISTINCT anchor_id, vec_id FROM (
{_HN_BAND_UNION}
  )
),
scored AS (
  SELECT c.anchor_id, qa.label AS anchor_label, c.vec_id, vv.label AS neg_label,
         round(list_dot_product(qa.e, vv.e)
               / (sqrt(list_dot_product(qa.e, qa.e)) * sqrt(list_dot_product(vv.e, vv.e))), 6)
           AS cos_sim
  FROM cand c
  JOIN v vv ON c.vec_id = vv.vec_id
  JOIN v qa ON c.anchor_id = qa.vec_id
  WHERE vv.label != qa.label
), ranked AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY anchor_id
                                    ORDER BY cos_sim DESC, vec_id ASC) AS BIGINT)
              AS rank
  FROM scored
)
SELECT anchor_id, anchor_label, vec_id, neg_label, cos_sim, rank
FROM ranked WHERE rank <= {HARDNEG_K}
ORDER BY anchor_id, rank
"""


QUERIES = {
    "q_embed_norm": q_embed_norm,
    "q_hard_negatives": q_hard_negatives,
    "q_hard_negatives_lsh": q_hard_negatives_lsh,
    "q_label_centroids": q_label_centroids,
    "q_ann_bruteforce": q_ann_bruteforce,
    "q_ann_lsh": q_ann_lsh,
    "q_ann_pq": q_ann_pq,
    "q_embedding_dedup": q_embedding_dedup,
    "q_embedding_dedup_lsh": q_embedding_dedup_lsh,
    "q_dim_standardize": q_dim_standardize,
    "q_random_projection": q_random_projection,
}

ORACLES = {
    "q_embed_norm": Q_EMBED_NORM_SQL,
    "q_hard_negatives": Q_HARD_NEGATIVES_SQL,
    "q_hard_negatives_lsh": Q_HARD_NEG_LSH_SQL,
    "q_label_centroids": Q_LABEL_CENTROIDS_SQL,
    "q_ann_bruteforce": Q_ANN_BRUTE_SQL,
    "q_ann_lsh": Q_ANN_LSH_SQL,
    "q_ann_pq": Q_ANN_PQ_SQL,
    "q_embedding_dedup": Q_EMBED_DEDUP_SQL,
    "q_embedding_dedup_lsh": Q_EMBED_DEDUP_LSH_SQL,
    "q_dim_standardize": Q_DIM_STANDARDIZE_SQL,
    "q_random_projection": Q_RANDOM_PROJECTION_SQL,
}
