"""Scale-pattern operators: the shapes that keep 100 TB pipelines off the
shuffle cliff.

Four families, each oracle-backed (every construct is deterministic md5 /
integer arithmetic shared by Spark and DuckDB):

* **Bloom-prefiltered semi-join** (``q_bloom_decontaminate``): membership
  against a large reference set via a fixed-size hash-bucket filter BEFORE
  the exact join.  At 100 TB the eval n-gram set may be too big to
  broadcast as strings; its k=3 16-bit bucket projections are bounded at
  3x65536 rows regardless of eval-set size, so the probe side is three
  map-side broadcast semi-joins and only surviving candidates reach the
  exact (shuffled) confirm join.  No false negatives, so the result is
  byte-identical to the plain semi-join the oracle runs.
* **Z-order clustering** (``q_zorder_cells``): Morton-interleaved spatial
  sort keys — the standard layout trick (Delta/Iceberg ``OPTIMIZE ZORDER``)
  that turns 2-D locality into 1-D ranges so parquet row-group min/max
  stats prune bbox queries.  Pure bit arithmetic, generated from one
  Python helper for both engines.
* **Count-min sketch** (``q_countmin_topk``): fixed-size frequency sketch
  (depth 3 x width 16 here; width is a knob) with the one-sided
  overestimate guarantee — the bounded-memory alternative to an exact
  groupBy when the key space explodes.  The sketch build is a map-side
  combined aggregate into depth*width cells.
* **SCD2 intervals** (``q_scd2_intervals``): change events -> validity
  intervals (valid_from/valid_to/is_current) with one window per entity
  key — the warehouse-standard temporal model; scales with the key
  partitioning, never a global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from changegen_spark.queries.mlprep import DECON_N, distinct_ngrams_pandas
from changegen_spark.sources.tables import load_table

# --- Bloom-prefiltered decontamination ---------------------------------------

BLOOM_K = 3  # hash functions; buckets are 4-hex-char md5 prefixes (16 bit)


def _bloom_bucket(ng: F.Column, j: int) -> F.Column:
    return F.substring(F.md5(F.concat(ng, F.lit(f"#{j}"))), 1, 4)


def q_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination with a Bloom-style prefilter.

    Same contract as ``mlprep.q_decontaminate`` (docs with ``doc_id%19=3``
    are the eval split) plus ``n_candidates``: the count of train n-grams
    that survive the k-bucket filter (candidates >= contaminated; the gap
    is the false-positive mass the exact confirm join removes).

    Plan at scale: the three bucket sets are DISTINCT projections of the
    eval n-grams — bounded at 65,536 rows each whatever the eval set size —
    explicitly ``broadcast()`` so the train side is filtered map-side; the
    exact confirm join then shuffles only candidates."""
    d = load_table(spark, sf_dir, "documents")
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

    cand = train
    for j in range(1, BLOOM_K + 1):
        pos_j = F.broadcast(
            eval_ngs.select(_bloom_bucket(F.col("ng"), j).alias("b")).distinct()
        )
        cand = cand.join(pos_j, _bloom_bucket(F.col("ng"), j) == pos_j["b"], "left_semi")

    totals = train.groupBy("doc_id").agg(F.count("*").alias("n_ngrams"))
    n_cand = cand.groupBy("doc_id").agg(F.count("*").alias("n_candidates"))
    n_conf = (
        cand.join(eval_ngs, "ng", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_contaminated"))
    )
    return (
        totals.join(n_cand, "doc_id", "left")
        .join(n_conf, "doc_id", "left")
        .select(
            "doc_id",
            "n_ngrams",
            F.coalesce("n_candidates", F.lit(0)).alias("n_candidates"),
            F.coalesce("n_contaminated", F.lit(0)).alias("n_contaminated"),
        )
        .orderBy("doc_id")
    )


Q_BLOOM_DECONTAMINATE_SQL = f"""
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
), cand AS (
  SELECT * FROM train
  WHERE substr(md5(ng || '#1'), 1, 4) IN
          (SELECT substr(md5(ng || '#1'), 1, 4) FROM eval_ngs)
    AND substr(md5(ng || '#2'), 1, 4) IN
          (SELECT substr(md5(ng || '#2'), 1, 4) FROM eval_ngs)
    AND substr(md5(ng || '#3'), 1, 4) IN
          (SELECT substr(md5(ng || '#3'), 1, 4) FROM eval_ngs)
), totals AS (
  SELECT doc_id, count(*) AS n_ngrams FROM train GROUP BY doc_id
), n_cand AS (
  SELECT doc_id, count(*) AS n_candidates FROM cand GROUP BY doc_id
), n_conf AS (
  SELECT doc_id, count(*) AS n_contaminated
  FROM cand WHERE ng IN (SELECT ng FROM eval_ngs) GROUP BY doc_id
)
SELECT t.doc_id, t.n_ngrams,
       coalesce(c.n_candidates, 0) AS n_candidates,
       coalesce(f.n_contaminated, 0) AS n_contaminated
FROM totals t
LEFT JOIN n_cand c USING (doc_id)
LEFT JOIN n_conf f USING (doc_id)
ORDER BY t.doc_id
"""


# --- Z-order (Morton) clustering ---------------------------------------------

ZBITS = 10  # 10 bits per axis -> 20-bit z-key over a 1024x1024 grid


def zorder_key(ix: F.Column, iy: F.Column, bits: int = ZBITS) -> F.Column:
    """Morton interleave of two ``bits``-bit non-negative ints.  Disjoint
    bit positions, so ``+`` is bitwise OR; the whole key is one codegen'd
    integer expression — no UDF."""
    out = None
    for b in range(bits):
        tx = F.shiftleft(F.shiftright(ix, b).bitwiseAND(F.lit(1)), 2 * b)
        ty = F.shiftleft(F.shiftright(iy, b).bitwiseAND(F.lit(1)), 2 * b + 1)
        out = tx + ty if out is None else out + tx + ty
    return out


def zorder_key_sql(ix: str, iy: str, bits: int = ZBITS) -> str:
    """The identical interleave as engine-neutral SQL text (DuckDB twin)."""
    terms = []
    for b in range(bits):
        terms.append(f"((({ix} >> {b}) & 1) << {2 * b})")
        terms.append(f"((({iy} >> {b}) & 1) << {2 * b + 1})")
    return " + ".join(terms)


def q_zorder_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout audit over the synthetic point field (same
    deterministic points as the geo family): per 256-cell z-prefix, the
    point count and the cell's tight bbox.  Sorting/range-partitioning by
    ``zkey`` is what a table-layout ``OPTIMIZE ZORDER BY (x, y)`` job
    writes; the per-cell bbox being tight is exactly why parquet min/max
    stats then prune 2-D bbox predicates (locality pinned in
    ``tests/test_scale_queries.py``)."""
    from changegen_spark.queries.geo import _points

    pts = _points(spark, sf_dir)
    ix = F.round(F.col("x") * 10).cast("int")
    iy = F.round(F.col("y") * 10).cast("int")
    z = zorder_key(ix, iy)
    return (
        pts.select("pid", z.alias("zkey"))
        .groupBy(F.shiftright(F.col("zkey"), 12).alias("zcell"))
        .agg(
            F.count("*").alias("n_points"),
            F.min("zkey").alias("zmin"),
            F.max("zkey").alias("zmax"),
        )
        .orderBy("zcell")
    )


_Z_SQL = zorder_key_sql("ix", "iy")

Q_ZORDER_CELLS_SQL = f"""
WITH pts AS (
  SELECT event_id AS pid,
         CAST((event_id * 37 + (event_id // 11) * 193) % 1000 AS DOUBLE) / 10 AS x,
         CAST((event_id * 61 + (event_id // 13) * 389) % 1000 AS DOUBLE) / 10 AS y
  FROM events
), ints AS (
  SELECT pid, CAST(round(x * 10) AS INT) AS ix, CAST(round(y * 10) AS INT) AS iy
  FROM pts
), keyed AS (
  SELECT pid, {_Z_SQL} AS zkey FROM ints
)
SELECT zkey >> 12 AS zcell, count(*) AS n_points,
       min(zkey) AS zmin, max(zkey) AS zmax
FROM keyed GROUP BY zcell ORDER BY zcell
"""


# --- Count-min sketch frequency top-k ----------------------------------------

CMS_DEPTH = 3
CMS_HEX = 1  # bucket = first hex char of md5 -> width 16 (small so the
# synthetic ~30-word vocabulary actually collides; width is the knob)


def q_countmin_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch word frequencies vs exact counts: top 20 words by
    sketch estimate with their true counts — ``est_count >= true_count``
    always (one-sided error), equality when no bucket collision.

    Scale shape: the sketch is a groupBy into depth x width = 48 cells
    (map-side combined — the memory-bounded alternative to an exact
    word-count when keys explode); estimates come from ``depth`` broadcast
    joins of the distinct keys against the 16-row sketch slices."""
    d = load_table(spark, sf_dir, "documents")
    words = d.select(F.explode(F.split(F.trim("text"), r"\s+")).alias("w")).filter(
        F.col("w") != ""
    )
    wc = words.groupBy("w").agg(F.count("*").alias("true_count"))

    est = None
    out = wc
    for j in range(1, CMS_DEPTH + 1):
        bucket = F.substring(F.md5(F.concat(F.col("w"), F.lit(f"#{j}"))), 1, CMS_HEX)
        sk = F.broadcast(
            wc.groupBy(bucket.alias("b")).agg(F.sum("true_count").alias(f"cell_{j}"))
        )
        out = out.join(sk, bucket == sk["b"], "left").drop("b")
        est = F.col(f"cell_{j}") if est is None else F.least(est, F.col(f"cell_{j}"))
    return (
        out.select("w", est.alias("est_count"), "true_count")
        .orderBy(F.desc("est_count"), "w")
        .limit(20)
    )


_CMS_CELLS = ", ".join(
    f"(SELECT CAST(sum(true_count) AS BIGINT) FROM wc i"
    f" WHERE substr(md5(i.w || '#{j}'), 1, {CMS_HEX})"
    f" = substr(md5(o.w || '#{j}'), 1, {CMS_HEX})) AS cell_{j}"
    for j in range(1, CMS_DEPTH + 1)
)

Q_COUNTMIN_TOPK_SQL = f"""
WITH words AS (
  SELECT unnest(string_split_regex(trim(text), '\\s+')) AS w FROM documents
), wc AS (
  SELECT w, count(*) AS true_count FROM words WHERE w <> '' GROUP BY w
), est AS (
  SELECT o.w, o.true_count, {_CMS_CELLS}
  FROM wc o
)
SELECT w, least(cell_1, cell_2, cell_3) AS est_count, true_count
FROM est
ORDER BY est_count DESC, w
LIMIT 20
"""


# --- SCD2 validity intervals --------------------------------------------------

SCD2_OPEN_END = "9999-01-01 00:00:00"


def q_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing-dimension build from the event stream: each
    user's events become validity intervals — ``valid_from`` = event time,
    ``valid_to`` = next event's time (open-ended sentinel for the latest),
    ``is_current`` flagging the newest row.  One ``lead`` window per
    user_id: the shuffle is keyed by entity, so 10^9 entities parallelize;
    there is no global sort."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return ev.select(
        "user_id",
        "event_id",
        "event_type",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
        F.coalesce(
            F.date_format(nxt, "yyyy-MM-dd HH:mm:ss"), F.lit(SCD2_OPEN_END)
        ).alias("valid_to"),
        nxt.isNull().cast("int").alias("is_current"),
        F.round(F.col("value") * 1e6).cast("long").alias("value_e6"),
    ).orderBy("event_id")


Q_SCD2_INTERVALS_SQL = f"""
SELECT user_id, event_id, event_type,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
       coalesce(
         strftime(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                  '%Y-%m-%d %H:%M:%S'),
         '{SCD2_OPEN_END}') AS valid_to,
       CAST(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
            AS INT) AS is_current,
       CAST(round(value * 1000000) AS BIGINT) AS value_e6
FROM events ORDER BY event_id
"""


# --- incremental dedup (new batch vs persisted corpus) ------------------------

INC_NGRAM, INC_HASHES, INC_BANDS = 3, 8, 4


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def _content_hash() -> F.Column:
    # built lazily: constructing Columns at import time would require an
    # active SparkContext before any session exists
    return F.md5(F.to_binary(F.col("text"), F.lit("utf-8")))


def dedup_bands_of(docs: DataFrame) -> DataFrame:
    """(doc_id, text) → (id, bh) MinHash-LSH band rows — the corpus
    artifact a production pipeline computes at ingest and persists.

    The band index is FOLDED INTO the band hash (``md5(band:bh)``) so the
    artifact has a single join key: a bh-bucketed table then satisfies the
    join's distribution outright.  Keeping band as a separate equi-join
    column can never reuse the bucket layout —
    ``requireAllClusterKeysForCoPartition`` defaults true, and a post-join
    band filter gets re-fused into the join keys by the optimizer (both
    observed; this construction is the fix).  Built by
    ``hashing.folded_band_artifact``, as are the increment's probe rows,
    so joins against the persisted artifact compute byte-identical
    keys."""
    from changegen_spark.functions.hashing import folded_band_artifact

    return folded_band_artifact(docs, INC_NGRAM, INC_HASHES, INC_BANDS)


def incremental_dedup_flags(
    batch: DataFrame,
    corpus_hashes: DataFrame,
    corpus_bands: DataFrame,
    sort: bool = True,
) -> DataFrame:
    """Per-batch-doc dedup verdicts against corpus artifacts.

    ``corpus_hashes`` is (h) distinct content md5s; ``corpus_bands`` is
    (corpus_id, band, bh).  Both can be the persisted bucketed tables from
    :func:`persist_dedup_corpus` — then neither corpus side shuffles
    (plan-pinned by tests/test_bucketed.py) — or inline frames (the oracle
    query's form).  ``sort=False`` skips the presentation ``orderBy`` —
    the scale path for programmatic consumers (the corpus CLI) where a
    global range-exchange of every verdict buys nothing."""
    exact = (
        batch.select("doc_id", _content_hash().alias("h"))
        .join(corpus_hashes, "h", "left_semi")
        .select("doc_id", F.lit(1).alias("is_exact_dup"))
    )
    near = (
        dedup_bands_of(batch)
        .withColumnRenamed("id", "doc_id")
        .join(corpus_bands, "bh")
        .select("doc_id", "corpus_id")
        .distinct()
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_near_dup_docs"))
    )
    out = (
        batch.select("doc_id")
        .join(exact, "doc_id", "left")
        .join(near, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("is_exact_dup", F.lit(0)).alias("is_exact_dup"),
            F.coalesce("n_near_dup_docs", F.lit(0)).alias("n_near_dup_docs"),
            F.when(F.coalesce("is_exact_dup", F.lit(0)) == 1, "dup_exact")
            .when(F.coalesce("n_near_dup_docs", F.lit(0)) > 0, "dup_near")
            .otherwise("keep")
            .alias("status"),
        )
    )
    return out.orderBy("doc_id") if sort else out


def persist_dedup_corpus(
    spark: SparkSession,
    corpus: DataFrame,
    prefix: str = "dedup_corpus",
    num_buckets: int = 16,
) -> tuple[DataFrame, DataFrame]:
    """Ingest-time corpus artifacts, persisted BUCKETED by their join keys
    (``sources/bucketed.py``): content hashes by ``h``, band rows by
    ``bh``.  Every later increment's dedup joins then read the corpus
    co-located — zero corpus-side Exchange per day, no matter how many
    increments run (the 100 TB contract; the corpus is hashed once,
    not once per day)."""
    from changegen_spark.sources.bucketed import write_bucketed

    hashes = corpus.select(_content_hash().alias("h")).distinct()
    write_bucketed(hashes, f"{prefix}_hashes", "h", num_buckets)
    bands = dedup_bands_of(corpus).withColumnRenamed("id", "corpus_id")
    write_bucketed(bands, f"{prefix}_bands", "bh", num_buckets)
    return spark.table(f"{prefix}_hashes"), spark.table(f"{prefix}_bands")


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup an incoming batch against the existing corpus — the production
    shape of dedup (a daily increment vs a 100 TB "seen" set), vs the
    one-shot self-join of ``q_lsh_pairs``.  Docs with ``doc_id%10>=8`` are
    the incoming batch; the rest are the persisted corpus.

    Per batch doc: ``is_exact_dup`` (content md5 seen in the corpus),
    ``n_near_dup_docs`` (distinct corpus docs sharing any MinHash-LSH band
    bucket), and a keep/dup_exact/dup_near status with exact taking
    precedence.

    Scale shape: the corpus side of both joins is what a real pipeline
    PRE-COMPUTES and persists — :func:`persist_dedup_corpus` writes the
    content hashes and band rows bucketed by join key, and
    tests/test_bucketed.py pins that the daily-increment join plan has
    ZERO corpus-side Exchange.  This oracle query computes the same
    artifacts inline (DuckDB has no bucket layout to mirror); the verdicts
    are identical either way (also pinned)."""
    d = _docs(spark, sf_dir)
    is_batch = F.col("doc_id") % 10 >= 8
    corpus, batch = d.filter(~is_batch), d.filter(is_batch)
    corpus_hashes = corpus.select(_content_hash().alias("h")).distinct()
    corpus_bands = dedup_bands_of(corpus).withColumnRenamed("id", "corpus_id")
    return incremental_dedup_flags(batch, corpus_hashes, corpus_bands)


def _inc_minhash_terms() -> str:
    # same 4-window-per-md5 construction as textops._minhash_terms
    return ",\n         ".join(
        f"min(substr(md5('{i // 4}:' || shingle), {(i % 4) * 8 + 1}, 8)) AS mh{i}"
        for i in range(INC_HASHES)
    )


_INC_BANDS_SQL = "\n  UNION ALL ".join(
    f"SELECT doc_id, {b} AS band, md5(mh{2 * b} || '|' || mh{2 * b + 1}) AS bh FROM sig"
    for b in range(INC_BANDS)
)

Q_INCREMENTAL_DEDUP_SQL = f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         CASE WHEN len(t) >= {INC_NGRAM}
              THEN list_extract(t, CAST(i AS INT)) || ' ' || list_extract(t, CAST(i AS INT)+1) || ' ' || list_extract(t, CAST(i AS INT)+2)
              ELSE array_to_string(t, ' ') END AS shingle
  FROM (SELECT doc_id, t, unnest(generate_series(1, greatest(len(t)-{INC_NGRAM - 1}, 1))) AS i FROM toks)
), sig AS (
  SELECT doc_id, {_inc_minhash_terms()}
  FROM sh GROUP BY doc_id
), banded AS (
  {_INC_BANDS_SQL}
), exact AS (
  SELECT doc_id, 1 AS is_exact_dup FROM documents
  WHERE doc_id % 10 >= 8
    AND md5(text) IN (SELECT md5(text) FROM documents WHERE doc_id % 10 < 8)
), near AS (
  SELECT b.doc_id, count(DISTINCT c.doc_id) AS n_near_dup_docs
  FROM banded b JOIN banded c ON b.band = c.band AND b.bh = c.bh
  WHERE b.doc_id % 10 >= 8 AND c.doc_id % 10 < 8
  GROUP BY b.doc_id
)
SELECT d.doc_id,
       coalesce(e.is_exact_dup, 0) AS is_exact_dup,
       CAST(coalesce(n.n_near_dup_docs, 0) AS BIGINT) AS n_near_dup_docs,
       CASE WHEN coalesce(e.is_exact_dup, 0) = 1 THEN 'dup_exact'
            WHEN coalesce(n.n_near_dup_docs, 0) > 0 THEN 'dup_near'
            ELSE 'keep' END AS status
FROM (SELECT doc_id FROM documents WHERE doc_id % 10 >= 8) d
LEFT JOIN exact e USING (doc_id)
LEFT JOIN near n USING (doc_id)
ORDER BY d.doc_id
"""


def q_ivm_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance for distributive aggregates: the
    materialized view (n, sum_qty, sum_cents, plus min/max for the
    semi-mergeable pair) is maintained by MERGING the base view with the
    delta batch's partial aggregate — never recomputing over the base.
    Base = lineitem with l_orderkey % 7 != 0 (the "yesterday" view);
    delta = the % 7 == 0 rows (today's arrivals).  The merge is a
    groupBy-sum over the UNION of two per-group summaries — view-sized
    input, not data-sized, which is the whole point: at 100 TB the daily
    cost is the delta aggregate + a view-sized merge.

    The DuckDB oracle recomputes the aggregate over the FULL table
    directly, so a green row proves merge(view(base), view(delta)) ==
    view(base ∪ delta) — the mergeability contract (min/max included:
    mergeable but not subtractable; retractions would need the full
    two-level outline in SCD2/apply)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_returnflag",
        "l_linestatus",
        F.col("l_quantity").cast("long").alias("qty"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )

    def view(df: DataFrame) -> DataFrame:
        return df.groupBy("l_returnflag", "l_linestatus").agg(
            F.count("*").alias("n"),
            F.sum("qty").alias("sum_qty"),
            F.sum("cents").alias("sum_cents"),
            F.min("cents").alias("min_cents"),
            F.max("cents").alias("max_cents"),
        )

    base_view = view(li.filter(F.col("l_orderkey") % 7 != 0))
    delta_view = view(li.filter(F.col("l_orderkey") % 7 == 0))
    return (
        base_view.unionByName(delta_view)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("n").alias("n"),
            F.sum("sum_qty").alias("sum_qty"),
            F.sum("sum_cents").alias("sum_cents"),
            F.min("min_cents").alias("min_cents"),
            F.max("max_cents").alias("max_cents"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


Q_IVM_MERGE_SQL = """
SELECT l_returnflag, l_linestatus,
       count(*) AS n,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS sum_cents,
       CAST(min(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS min_cents,
       CAST(max(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS max_cents
FROM lineitem
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


HRW_SHARDS = 8


def _hrw_weight(doc_id_col: F.Column, shard: int) -> F.Column:
    """The (doc, shard) rendezvous weight: shared 60-bit md5 hash of
    'doc_id:shard' (identical string on both engines)."""
    key = F.concat(
        doc_id_col.cast("string"), F.lit(":"), F.lit(str(shard))
    )
    return F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("long")


def hrw_shard(doc_id_col: F.Column, n_shards: int) -> F.Column:
    """Highest-random-weight (rendezvous) shard assignment: argmax over
    shards of the per-(doc, shard) hash — a pure map-side projection.
    Ties on the 60-bit weight break toward the LARGEST shard id (greatest
    over (h, s) structs); the oracle mirrors this with ORDER BY h DESC,
    s DESC."""
    structs = [
        F.struct(_hrw_weight(doc_id_col, s).alias("h"), F.lit(s).alias("s"))
        for s in range(n_shards)
    ]
    return F.greatest(*structs).getField("s")


def q_hrw_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous (HRW) hashing for stable shard assignment, with the
    resharding-stability audit built in: each document's shard under
    HRW_SHARDS shards and under HRW_SHARDS+1, plus whether it moved.

    Why not ``hash(id) % n``: under modulo sharding, growing n→n+1
    relocates ~n/(n+1) of ALL keys (cache/bucket locality destroyed);
    under rendezvous hashing only ~1/(n+1) move, and every mover lands ON
    the new shard — the property that makes shard growth cheap for
    bucketed corpus artifacts (sources/bucketed.py) and stateful stream
    repartitioning.  That all-movers-go-to-the-new-shard law is exact,
    not statistical: tests/test_scale_queries.py pins it row-for-row.

    Scale: argmax over n per-shard hashes is a map-only projection (no
    shuffle, no lookup table); n_shards extra md5s per row — at 100 TB
    this is the zero-coordination assignment you can recompute anywhere
    (executor, reader, compaction job) and always agree.
    """
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(
            "doc_id",
            hrw_shard(F.col("doc_id"), HRW_SHARDS).alias("shard_a"),
            hrw_shard(F.col("doc_id"), HRW_SHARDS + 1).alias("shard_b"),
        )
        .withColumn(
            "moved", (F.col("shard_a") != F.col("shard_b")).cast("int")
        )
        .orderBy("doc_id")
    )


_HRW_H_SQL = (
    "CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || ':' "
    "|| CAST(s AS VARCHAR)), 1, 15)) AS BIGINT)"
)

Q_HRW_SHARDS_SQL = f"""
WITH a AS (
  SELECT doc_id, s AS shard_a FROM (
    SELECT doc_id, s,
           row_number() OVER (PARTITION BY doc_id ORDER BY {_HRW_H_SQL} DESC, s DESC) AS rn
    FROM documents, (SELECT unnest(generate_series(0, {HRW_SHARDS - 1})) AS s))
  WHERE rn = 1
), b AS (
  SELECT doc_id, s AS shard_b FROM (
    SELECT doc_id, s,
           row_number() OVER (PARTITION BY doc_id ORDER BY {_HRW_H_SQL} DESC, s DESC) AS rn
    FROM documents, (SELECT unnest(generate_series(0, {HRW_SHARDS})) AS s))
  WHERE rn = 1
)
SELECT a.doc_id, a.shard_a, b.shard_b,
       CAST(a.shard_a <> b.shard_b AS INT) AS moved
FROM a JOIN b USING (doc_id)
ORDER BY doc_id
"""


JSE_HEX = 2  # join-size sketch bucket = first 2 hex chars of md5 (width 256)
JSE_DEPTH = 3


def q_join_size_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min join-cardinality estimation (r6): the classic
    sketch-based planner pre-check — |A ⋈ B| is the inner product of the
    two key-frequency vectors, and the CMS estimate is
    ``min_d Σ_bucket cms_A[d]·cms_B[d]`` (Alon-Matias-Szegedy /
    Cormode-Muthukrishnan), an integer-exact OVERestimate computable
    from two KB-sized sketches without running the join.  The query
    builds both sketches (one aggregate per side), estimates, runs the
    real customer⋈orders join for ground truth, and reports the
    relative error — at 100 TB you keep only the sketch side."""
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("k")
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k")
    )

    def sketch(df):
        rows = []
        for d in range(1, JSE_DEPTH + 1):
            b = F.substring(
                F.md5(F.concat(F.col("k").cast("string"), F.lit(f"#{d}"))),
                1,
                JSE_HEX,
            )
            rows.append(
                df.groupBy(b.alias("bucket"))
                .agg(F.count("*").alias("f"))
                .select(F.lit(d).alias("d"), "bucket", "f")
            )
        out = rows[0]
        for r in rows[1:]:
            out = out.unionByName(r)
        return out

    sa, sb = sketch(orders), sketch(cust)
    est = (
        sa.join(sb, ["d", "bucket"])
        .groupBy("d")
        .agg(F.sum(sa["f"] * sb["f"]).cast("long").alias("ip"))
        .agg(F.min("ip").cast("long").alias("est_rows"))
    )
    actual = (
        orders.join(cust, "k")
        .agg(F.count("*").cast("long").alias("n_actual"))
    )
    return actual.crossJoin(F.broadcast(est)).select(
        "n_actual",
        "est_rows",
        F.round(
            (F.col("est_rows") - F.col("n_actual"))
            / F.col("n_actual")
            * 1e6
        )
        .cast("long")
        .alias("overest_e6"),
    )


def _jse_sketch_sql(table: str, key: str) -> str:
    blocks = []
    for d in range(1, JSE_DEPTH + 1):
        blocks.append(
            f"SELECT {d} AS d, substr(md5(CAST({key} AS VARCHAR) || '#{d}'), 1, {JSE_HEX}) AS bucket,"
            f" count(*) AS f FROM {table} GROUP BY 1, 2"
        )
    return " UNION ALL ".join(blocks)


Q_JOIN_SIZE_EST_SQL = f"""
WITH sa AS ({_jse_sketch_sql("orders", "o_custkey")}),
sb AS ({_jse_sketch_sql("customer", "c_custkey")}),
ip AS (
  SELECT sa.d, CAST(sum(sa.f * sb.f) AS BIGINT) AS ip
  FROM sa JOIN sb ON sa.d = sb.d AND sa.bucket = sb.bucket
  GROUP BY sa.d
), est AS (SELECT CAST(min(ip) AS BIGINT) AS est_rows FROM ip),
act AS (
  SELECT CAST(count(*) AS BIGINT) AS n_actual
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
)
SELECT n_actual, est_rows,
       CAST(round((est_rows - n_actual) / (1.0 * n_actual) * 1e6) AS BIGINT) AS overest_e6
FROM act CROSS JOIN est
"""


SKEW_KEY_COLS = ("l_orderkey", "l_partkey", "l_suppkey")


def q_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostics (r6): for each lineitem join key, the
    numbers a 100 TB join plan is sized by — row/key counts, the heaviest
    key and its mass, mean key frequency, and the Shannon entropy of the
    key distribution (H = ln N − Σ f·ln f / N; max-entropy = ln n_keys,
    so the gap to ln(n_keys) IS the skew).  Everything is one groupBy per
    key column plus KB-sized finishing aggregates — no sort, no window
    over the base table; this is the audit you run BEFORE choosing
    broadcast/salting/AQE-skew strategies, not after the job dies."""
    li = load_table(spark, sf_dir, "lineitem")
    outs = []
    for col in SKEW_KEY_COLS:
        freqs = li.groupBy(F.col(col).alias("k")).agg(
            F.count("*").alias("f")
        )
        # f·ln(f) is rounded to an e9-scaled BIGINT PER KEY before the
        # sum: a double accumulation over ~1e5 keys is order-dependent
        # (Spark partial aggregation vs DuckDB sum differ in adding
        # order), which can flip the e6 digit round-over-round.  The
        # per-key round is deterministic (f is a small integer, the two
        # engines' ln agree to ~1 ulp, and 0.5-boundary hits would need
        # agreement to ~1e-12), and an integer sum is order-free.
        stats = freqs.agg(
            F.sum("f").cast("long").alias("n_rows"),
            F.count("*").cast("long").alias("n_keys"),
            F.max("f").cast("long").alias("max_freq"),
            F.sum(
                F.round(F.col("f") * F.log("f") * 1e9).cast("long")
            ).alias("sum_flnf_e9"),
        )
        top = (
            freqs.join(
                F.broadcast(stats.select("max_freq")),
                freqs["f"] == F.col("max_freq"),
            )
            .agg(F.min("k").cast("long").alias("top_key"))
        )
        outs.append(
            stats.crossJoin(F.broadcast(top)).select(
                F.lit(col).alias("key_col"),
                "n_rows",
                "n_keys",
                "max_freq",
                "top_key",
                F.round(F.col("n_rows") / F.col("n_keys") * 1e6)
                .cast("long")
                .alias("avg_freq_e6"),
                F.round(
                    (
                        F.log("n_rows")
                        - F.col("sum_flnf_e9") / 1e9 / F.col("n_rows")
                    )
                    * 1e6
                )
                .cast("long")
                .alias("entropy_e6"),
                F.round(F.log("n_keys") * 1e6)
                .cast("long")
                .alias("max_entropy_e6"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("key_col")


def _skew_block(col: str) -> str:
    return f"""
SELECT '{col}' AS key_col,
       CAST(sum(f) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_keys,
       CAST(max(f) AS BIGINT) AS max_freq,
       CAST((SELECT min(k) FROM (SELECT {col} AS k, count(*) AS f FROM lineitem GROUP BY 1) i
             WHERE i.f = (SELECT max(f) FROM (SELECT count(*) AS f FROM lineitem GROUP BY {col}) m)) AS BIGINT) AS top_key,
       CAST(round(sum(f) / (1.0 * count(*)) * 1e6) AS BIGINT) AS avg_freq_e6,
       CAST(round((ln(sum(f)) - CAST(sum(CAST(round(f * ln(f) * 1e9) AS BIGINT)) AS BIGINT) / 1e9 / sum(f)) * 1e6) AS BIGINT) AS entropy_e6,
       CAST(round(ln(count(*)) * 1e6) AS BIGINT) AS max_entropy_e6
FROM (SELECT {col} AS k, count(*) AS f FROM lineitem GROUP BY 1)
"""


Q_SKEW_PROFILE_SQL = (
    "\nUNION ALL\n".join(_skew_block(c) for c in SKEW_KEY_COLS)
    + "\nORDER BY key_col"
)


QUERIES = {
    "q_skew_profile": q_skew_profile,
    "q_join_size_est": q_join_size_est,
    "q_bloom_decontaminate": q_bloom_decontaminate,
    "q_hrw_shards": q_hrw_shards,
    "q_incremental_dedup": q_incremental_dedup,
    "q_zorder_cells": q_zorder_cells,
    "q_countmin_topk": q_countmin_topk,
    "q_scd2_intervals": q_scd2_intervals,
    "q_ivm_merge": q_ivm_merge,
}

ORACLES = {
    "q_skew_profile": Q_SKEW_PROFILE_SQL,
    "q_join_size_est": Q_JOIN_SIZE_EST_SQL,
    "q_bloom_decontaminate": Q_BLOOM_DECONTAMINATE_SQL,
    "q_hrw_shards": Q_HRW_SHARDS_SQL,
    "q_incremental_dedup": Q_INCREMENTAL_DEDUP_SQL,
    "q_zorder_cells": Q_ZORDER_CELLS_SQL,
    "q_countmin_topk": Q_COUNTMIN_TOPK_SQL,
    "q_scd2_intervals": Q_SCD2_INTERVALS_SQL,
    "q_ivm_merge": Q_IVM_MERGE_SQL,
}
