"""Vector similarity search over embedding columns (array<float>).

Two paths, as a 100 TB pipeline needs:
  * brute-force cosine top-k — exact baseline; the query side is tiny and
    broadcast, so the scan side stays partition-parallel with no shuffle
    until the final per-query top-k (a cheap partial top-k under AQE).
  * sign-LSH bucketed top-k — approximate scale path; vectors are bucketed
    by a deterministic bit signature, candidates only join within a bucket.

Dot products use ``F.zip_with`` + ``F.aggregate`` (sequential fold, exactly
reproducible in the SQL oracle); swap in a pandas UDF with numpy for raw
throughput if the built-in fold ever bottlenecks — semantics identical.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from changegen_spark.operators.fence import fence


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def as_double(a: Column) -> Column:
    """Cast array<float> → array<double> so fold arithmetic is double-exact."""
    return F.transform(a, lambda x: x.cast("double"))


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k per query vector.

    Output: (query_id, vec_id, cos_sim, rank), rank 1..k, self-match
    excluded, ties broken by vec_id.  The queries side is broadcast.
    """
    from pyspark.sql import Window

    v = vectors.select(
        F.col(id_col).alias("vec_id"), as_double(F.col(vec_col)).alias("v")
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"), as_double(F.col(vec_col)).alias("q")
    )
    scored = v.join(F.broadcast(q)).filter(F.col("vec_id") != F.col("query_id"))
    scored = scored.withColumn(
        "cos_sim", F.round(cosine(F.col("q"), F.col("v")), 6)
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cos_sim", F.col("rank").cast("long").alias("rank"))
    )


def sign_lsh_bucket(vec: Column, dims: list[int]) -> Column:
    """Deterministic sign-LSH bucket id: bit j = 1 iff vec[dims[j]] > 0.

    A fixed-dim sign signature is the degenerate (axis-aligned) random
    hyperplane LSH — deterministic, oracle-reproducible; production would
    draw random hyperplanes per run seed.
    """
    bits = [
        F.when(F.element_at(vec, d + 1) > 0, F.lit(1 << j)).otherwise(F.lit(0))
        for j, d in enumerate(dims)
    ]
    return sum(bits[1:], start=bits[0]).cast("long")


def l2sq(a: Column, b: Column) -> Column:
    """Squared L2 distance in the algebraic form ``⟨a,a⟩ - 2⟨a,b⟩ + ⟨b,b⟩``.

    The expanded form (three sequential-fold dot products) is used instead
    of folding ``(a-b)²`` so the SQL oracle (``list_dot_product``) computes
    the bit-identical double value."""
    return dot(a, a) - 2 * dot(a, b) + dot(b, b)


def train_ivf_centroids(
    vectors: DataFrame,
    n_cells: int = 16,
    seed: int = 42,
    max_train: int = 20_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "kmeans",
) -> DataFrame:
    """Train the IVF coarse quantizer on a BOUNDED deterministic sample and
    return the centroid table (cell int, centroid array<double>) — persist
    it with ``.write.parquet`` and feed it back to :func:`ivf_topk` to skip
    training entirely.

    100 TB design: training never sees the full corpus.  Rows are kept by a
    deterministic id-hash filter (``xxhash64(id, seed) % m == 0`` with m
    sized from a count) capped at ``max_train`` rows — O(sample) training
    input no matter the corpus size, reproducible across runs and
    partitionings.  The centroid table is cells × dim — kilobytes — so
    every later use is a broadcast.

    ``method="kmeans"``: MLlib k-means on the sample (best recall).
    ``method="medoid"``: the ``n_cells`` sample vectors with the smallest
    ``md5(id)`` become the centroids — no iterations, fully reproducible in
    ANSI SQL (this is what the DuckDB-oracle contract query uses).
    """
    v = vectors.select(
        F.col(id_col).alias("vec_id"), as_double(F.col(vec_col)).alias("v")
    )
    n = v.count()  # one tiny metadata-ish job; training is ingest-time work
    if n > max_train:
        m = (n + max_train - 1) // max_train
        v = v.filter(F.pmod(F.xxhash64(F.col("vec_id"), F.lit(seed)), F.lit(m)) == 0)

    if method == "medoid":
        from pyspark.sql import Window

        hkey = F.md5(F.to_binary(F.col("vec_id").cast("string"), F.lit("utf-8")))
        w = Window.orderBy(hkey, F.col("vec_id"))
        return (
            v.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= n_cells)
            .select((F.col("__rn") - 1).cast("int").alias("cell"), F.col("v").alias("centroid"))
        )
    if method != "kmeans":
        raise ValueError(f"unknown IVF training method {method!r}")

    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    train = v.withColumn("features", array_to_vector("v"))
    model = KMeans(k=n_cells, seed=seed, featuresCol="features").fit(train)
    centroids = [
        (i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
    ]
    return vectors.sparkSession.createDataFrame(
        centroids, "cell int, centroid array<double>"
    )


def assign_ivf_cells(
    v: DataFrame, centroids: DataFrame, vec_col: str = "v"
) -> DataFrame:
    """Nearest-centroid cell per row, map-side only.

    The centroid table is kilobytes, so it is collected once and the
    argmin runs in numpy inside an Arrow UDF — a pure projection with ZERO
    shuffle over the (possibly 100 TB) vector side.  This is the
    "broadcast persisted centroids" deployment shape: no model object, no
    cross-join row blowup, no groupBy to reassemble.  The kernel replays
    the exact arithmetic of the SQL oracle, so the choice of cell can
    never differ by an ulp:

    * every dot product accumulates dimension-by-dimension in order
      (``acc += v_d*c_d`` per d — elementwise numpy ops, no BLAS
      reordering, no FMA), matching ``aggregate(zip_with(a,b,x*y),0.0,+)``
      and DuckDB's ``list_dot_product``;
    * d2 combines as ``(aa - 2.0*ab) + cc`` — the ``⟨a,a⟩ - 2⟨a,b⟩ +
      ⟨b,b⟩`` expansion in the same association order as ``l2sq``;
    * ties break to the smallest cell id (``np.argmin`` first-minimum
      over cell-ordered columns — the oracle's ``row_number() OVER
      (ORDER BY d2, cell)``).

    Not Catalyst: a ``least`` over k literal (d2, cell) structs costs
    seconds of driver-side Column construction for its k × dim literal
    tree and an interpreted fold per (row, cell); it measured 1.3× slower
    on q_ann_ivf and 2.8× on q_semantic_dedup (GAPS.md).
    tests/test_similarity.py pins the assignment to the DuckDB oracles.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    cents = centroids.select("cell", "centroid").orderBy("cell").collect()
    if not cents:  # empty training input (empty table/partition): no cells
        return v.withColumn("cell", F.lit(None).cast("int"))
    C = np.asarray([r["centroid"] for r in cents], dtype=np.float64)
    cell_ids = np.asarray([int(r["cell"]) for r in cents], dtype=np.int64)
    k, dim = C.shape
    cc = np.zeros(k)
    for d in range(dim):
        cc = cc + C[:, d] * C[:, d]

    @pandas_udf("int")
    def assign(vs):
        V = np.asarray([np.asarray(x, dtype=np.float64) for x in vs])
        if V.size == 0:  # empty Arrow batch → 1-D array; V[:, d] would raise
            return pd.Series([], dtype="int32")
        n = V.shape[0]
        ab = np.zeros((n, k))
        aa = np.zeros(n)
        for d in range(dim):
            vd = V[:, d]
            ab = ab + vd[:, None] * C[None, :, d]
            aa = aa + vd * vd
        d2 = (aa[:, None] - 2.0 * ab) + cc[None, :]
        return pd.Series(cell_ids[np.argmin(d2, axis=1)])

    return v.withColumn("cell", assign(F.col(vec_col)))


def cosine_arrow() -> "Column":
    """Arrow-kernel twin of :func:`cosine` — bit-identical cosine of two
    array<double> columns (same sequential-fold accumulation order, same
    ``ab / (sqrt(aa) * sqrt(bb))`` combination as dot/norm), for refine
    stages whose pair volume makes the interpreted higher-order fold the
    bottleneck.  Returns a two-argument UDF; callers keep any rounding in
    Catalyst (``F.round(cos_arrow(a, b), 6)``) so the value path matches
    the SQL twin exactly.  Pinned equal to the Catalyst path in
    tests/test_similarity.py."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def cos(a, b):
        A = np.asarray([np.asarray(x, dtype=np.float64) for x in a])
        B = np.asarray([np.asarray(x, dtype=np.float64) for x in b])
        if A.size == 0:
            return pd.Series(np.zeros(len(a)))
        n, dim = A.shape
        ab = np.zeros(n)
        aa = np.zeros(n)
        bb = np.zeros(n)
        for d in range(dim):
            ad = A[:, d]
            bd = B[:, d]
            ab = ab + ad * bd
            aa = aa + ad * ad
            bb = bb + bd * bd
        return pd.Series(ab / (np.sqrt(aa) * np.sqrt(bb)))

    return cos


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    centroids: DataFrame | None = None,
    max_train: int = 20_000,
    method: str = "kmeans",
) -> DataFrame:
    """IVF approximate top-k: coarse quantizer + probe-top-cells.

    Scale path beyond sign-LSH: vectors partition into ``n_cells`` Voronoi
    cells; each query scores only the vectors of its ``n_probe`` nearest
    cells — an equi-join on cell id, so search cost is (n_probe/n_cells) of
    a full scan and the shuffle is keyed by cell.  Pass a persisted
    ``centroids`` table to skip training (the 100 TB deployment shape:
    train once on a bounded sample — see :func:`train_ivf_centroids` — and
    broadcast the saved centroids ever after)."""
    from pyspark.sql import Window

    v = vectors.select(
        F.col(id_col).alias("vec_id"), as_double(F.col(vec_col)).alias("v")
    )
    if centroids is None:
        centroids = train_ivf_centroids(
            vectors, n_cells=n_cells, seed=seed, max_train=max_train,
            id_col=id_col, vec_col=vec_col, method=method,
        )
    centroids = centroids.transform(fence, "ivf_topk centroids", eager=False)
    assigned = assign_ivf_cells(v, centroids)

    q = queries.select(
        F.col(query_id_col).alias("query_id"), as_double(F.col(vec_col)).alias("q")
    )
    # query → n_probe nearest cells (centroid table is tiny → broadcast)
    qc = q.crossJoin(F.broadcast(centroids)).withColumn(
        "cdist", l2sq(F.col("q"), F.col("centroid"))
    )
    wq = Window.partitionBy("query_id").orderBy(F.asc("cdist"), F.asc("cell"))
    probes = (
        qc.withColumn("crank", F.row_number().over(wq))
        .filter(F.col("crank") <= n_probe)
        .select("query_id", "q", "cell")
    )

    scored = assigned.join(probes, "cell").filter(F.col("vec_id") != F.col("query_id"))
    scored = scored.withColumn("cos_sim", F.round(cosine(F.col("q"), F.col("v")), 6))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cos_sim", F.col("rank").cast("long").alias("rank"))
    )


def lsh_bucketed_topk(
    vectors: DataFrame,
    queries: DataFrame,
    dims: list[int] | None = None,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    bands: list[list[int]] | None = None,
) -> DataFrame:
    """Approximate top-k: candidates limited to the query's LSH buckets.

    ``bands`` is a list of sign-signature dimension lists — the standard
    OR-amplification: a vector is a candidate if it collides with the query
    in ANY band (r3; the r2 single-band signature had recall 0.16 on the
    fixture — one AND-only signature is the textbook LSH mistake).
    ``dims`` alone is the degenerate single-band form, kept for
    compatibility.

    Scale shape: each band join carries ONLY (query_id, vec_id) with the
    query side broadcast, so the corpus never shuffles its vectors through
    the bands; candidates are deduped (one small exchange) and vectors are
    attached afterwards by id equi-join (AQE broadcasts the candidate side
    when small).  Cost is O(corpus × bands) map work + O(candidates).
    """
    from pyspark.sql import Window

    if bands is None:
        bands = [dims if dims is not None else [0, 8, 16, 24, 32, 40, 48, 56]]
    v = vectors.select(
        F.col(id_col).alias("vec_id"),
        as_double(F.col(vec_col)).alias("v"),
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        as_double(F.col(vec_col)).alias("q"),
    )
    # r13 (guide §2.4, the q_mmr_topk_lsh recipe): all band buckets are
    # computed in one projection and posexploded, so the corpus side is
    # scanned and joined ONCE on the composite (band, bucket) key — the
    # r3-r12 per-band loop built len(bands) join branches + a union, each
    # branch re-reading the corpus frame.  The collision set is identical:
    # a (query, vec) pair collides in band i iff it joins on key
    # (i, bucket_i).
    vb = v.select(
        "vec_id",
        F.posexplode(
            F.array(*[sign_lsh_bucket(F.col("v"), bd) for bd in bands])
        ).alias("band", "bucket"),
    )
    qb = q.select(
        "query_id",
        F.posexplode(
            F.array(*[sign_lsh_bucket(F.col("q"), bd) for bd in bands])
        ).alias("band", "bucket"),
    )
    cands = (
        vb.join(F.broadcast(qb), ["band", "bucket"])
        .select("query_id", "vec_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .distinct()
    )
    scored = cands.join(v, "vec_id").join(F.broadcast(q), "query_id")
    scored = scored.withColumn("cos_sim", F.round(cosine(F.col("q"), F.col("v")), 6))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cos_sim", F.col("rank").cast("long").alias("rank"))
    )


# --- product quantization (PQ) ------------------------------------------------


def pq_codebooks(
    vectors: DataFrame,
    m: int = 4,
    ks: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Deterministic medoid PQ codebooks: ``m`` subspaces × ``ks`` code
    vectors of ``dim/m`` components.

    The ``ks`` training vectors are the sample with the smallest
    ``(md5(vec_id), vec_id)`` — the same fully-SQL-reproducible medoid
    contract as the IVF quantizer; a k-means refinement per subspace is a
    drop-in upgrade that keeps every downstream expression identical.
    Returned as plain Python lists (m × ks × sub) — kilobytes — to be
    inlined as literals, so encoding is a ZERO-shuffle map-side
    projection no matter the corpus size (the point of PQ at 100 TB:
    vectors compress ~dim*4 bytes → m codes)."""
    sub = dim // m
    sample = (
        vectors.select(
            F.col(id_col).alias("vec_id"), as_double(F.col(vec_col)).alias("v")
        )
        .withColumn(
            "__h", F.md5(F.to_binary(F.col("vec_id").cast("string"), F.lit("utf-8")))
        )
        .orderBy("__h", "vec_id")
        .limit(ks)
        .collect()
    )
    return [
        [[float(x) for x in r["v"][j * sub : (j + 1) * sub]] for r in sample]
        for j in range(m)
    ]


def pq_encode(
    vectors: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, codes array<int>): nearest code per subspace, ties to the
    smaller code id.  Map-only Arrow UDF (the codebook travels in the
    closure — kilobytes) — the ingest-time compression job.

    Fold-exactness contract with the SQL oracle: every distance is the
    expanded ``⟨s,s⟩ − 2⟨s,c⟩ + ⟨c,c⟩`` where each dot is a ≤8-element
    numpy reduce — sequential at that length, bit-identical to DuckDB's
    ``list_dot_product`` fold — so the argmin can never disagree."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    C = [np.array(cb, dtype=np.float64) for cb in codebooks]
    m, sub = len(C), C[0].shape[1]

    @pandas_udf("array<int>")
    def enc(vecs):
        X = np.array(vecs.tolist(), dtype=np.float64)
        out = np.empty((X.shape[0], m), dtype=np.int32)
        for j in range(m):
            S = X[:, j * sub : (j + 1) * sub]
            d = (
                (S * S).sum(-1)[:, None]
                - 2.0 * (S[:, None, :] * C[j][None, :, :]).sum(-1)
                + (C[j] * C[j]).sum(-1)[None, :]
            )
            out[:, j] = d.argmin(1)
        return pd.Series(list(out))

    return vectors.select(
        F.col(id_col).alias("vec_id"),
        enc(as_double(F.col(vec_col))).alias("codes"),
    )


def pq_adc_udf(codebooks: list[list[list[float]]]):
    """(query vec, candidate codes) → asymmetric distance estimate.
    Same fold-exact arithmetic as :func:`pq_encode`; the j-accumulation is
    sequential (matches a left-to-right sum; the oracle's unordered SQL
    ``sum()`` differs only at ~1e-15, absorbed by the 6-dp round)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    C = [np.array(cb, dtype=np.float64) for cb in codebooks]
    m, sub = len(C), C[0].shape[1]

    @pandas_udf("double")
    def adc(qv, codes):
        Q = np.array(qv.tolist(), dtype=np.float64)
        K = np.array(codes.tolist(), dtype=np.int64)
        est = np.zeros(len(Q))
        for j in range(m):
            S = Q[:, j * sub : (j + 1) * sub]
            cv = C[j][K[:, j]]
            est = est + (
                (S * S).sum(-1) - 2.0 * (S * cv).sum(-1) + (cv * cv).sum(-1)
            )
        return pd.Series(est)

    return adc


def pq_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    m: int = 16,
    ks: int = 64,
    dim: int = 64,
    codebooks: list[list[list[float]]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """PQ approximate top-k by asymmetric distance (ADC): the corpus is
    scanned as ``m`` small integer codes; each query computes the exact
    distance from its raw subvectors to the code vectors its candidates
    chose.  Rank is over the 6-dp-rounded estimate with a vec_id
    tie-break, so both engines order identically.

    Scale shape: ``pq_encode``'s output is the persisted artifact (corpus
    read is m bytes per vector, not dim×4); queries broadcast; the only
    shuffle is the per-query top-k window."""
    from pyspark.sql import Window

    if codebooks is None:
        codebooks = pq_codebooks(vectors, m=m, ks=ks, dim=dim, id_col=id_col, vec_col=vec_col)
    codes = pq_encode(vectors, codebooks, id_col=id_col, vec_col=vec_col)
    q = queries.select(
        F.col(query_id_col).alias("query_id"), as_double(F.col(vec_col)).alias("q")
    )
    adc = pq_adc_udf(codebooks)
    scored = codes.join(F.broadcast(q)).filter(F.col("vec_id") != F.col("query_id"))
    scored = scored.withColumn("est_d2", F.round(adc(F.col("q"), F.col("codes")), 6))
    w = Window.partitionBy("query_id").orderBy(F.asc("est_d2"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "vec_id", "est_d2", F.col("rank").cast("long").alias("rank")
        )
    )
