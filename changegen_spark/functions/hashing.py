"""MinHash / SimHash / shingling for near-duplicate detection at scale.

Design notes (100 TB): the MinHash signature is one Arrow-batched UDF
(map-only, O(num_hashes) state per row); shingle sets, SimHash and the
exact-Jaccard check are built-in expressions and shuffle-partitioned
joins.  Candidate generation is LSH band-bucketing, so the pair space is
bucket-local (never O(n²) across the corpus).  Hashes are md5-based so
every step is reproducible in any engine (duckdb oracle parity).  An
xxhash64 signature path was only ~16% faster, because hashing was never
the bottleneck; it was deleted (GAPS.md keeps the result).

MinHash trick: the minimum of md5(seed ‖ shingle) over a shingle set is a
valid permutation-min — md5 acts as the random permutation of the shingle
universe, one permutation per seed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def char_shingles(text: Column, k: int = 5) -> Column:
    """Distinct character k-grams of the lowered text (array<string>)."""
    s = F.lower(text)
    n = F.length(s)
    return F.array_distinct(
        F.when(
            n >= k,
            F.transform(
                F.sequence(F.lit(1), n - F.lit(k) + 1),
                lambda i: F.substring(s, i, F.lit(k)),
            ),
        ).otherwise(F.array(s))
    )


def minhash_signature(shingles: Column, num_hashes: int = 8) -> Column:
    """MinHash signature: per seed, min md5 hex over the shingle set
    (array<string> of length num_hashes)."""
    return F.array(
        *[
            F.array_min(
                F.transform(
                    shingles,
                    lambda sh: F.md5(
                        F.to_binary(F.concat(F.lit(f"{seed}:"), sh), F.lit("utf-8"))
                    ),
                )
            )
            for seed in range(num_hashes)
        ]
    )


def simhash16(tokens: Column) -> Column:
    """16-bit SimHash over a token array.

    Each token hashes to 16 bits (first 4 hex chars of its md5); per bit
    position the signed votes are summed; the fingerprint bit is 1 when the
    sum is positive.  Pure integer arithmetic → identical in the SQL oracle.

    ONE md5 per token: the r1 formulation evaluated 16 separate aggregate
    folds, each re-hashing every token (16× md5 on a map-only op).  Here a
    single ``transform`` converts each token to its 16-bit hash value
    (``conv(substr(md5,1,4),16,10)``), one ``aggregate`` accumulates all 16
    signed votes in an indexed array, and a ``zip_with`` against the bit
    weights assembles the fingerprint.  Bit numbering is unchanged (j=0 is
    the first hex char's MSB), so fingerprints are value-identical.
    """
    hv = F.transform(
        tokens,
        lambda t: F.conv(
            F.substring(F.md5(F.to_binary(t, F.lit("utf-8"))), 1, 4), 16, 10
        ).cast("int"),
    )
    weights = F.array(*[F.lit(1 << (15 - j)) for j in range(16)])
    # bit j of v = (v div 2^(15-j)) mod 2 — divide-and-truncate because the
    # shift builtins take only literal shift amounts
    votes = F.aggregate(
        hv,
        F.array_repeat(F.lit(0), 16),
        lambda acc, v: F.zip_with(
            acc, weights, lambda a, p: a + (((v / p).cast("int") % 2) * 2 - 1)
        ),
    )
    bits = F.zip_with(
        votes, weights, lambda v, w: F.when(v > 0, w).otherwise(F.lit(0))
    )
    return F.aggregate(bits, F.lit(0), lambda a, b: a + b).cast("long")


def hamming16(a: Column, b: Column) -> Column:
    """Hamming distance between two 16-bit fingerprints via popcount
    (unrolled shifts — bit_count parity with the SQL oracle)."""
    x = a.bitwiseXOR(b)
    bits = [F.shiftright(x, j) % 2 for j in range(16)]
    return sum(bits[1:], start=bits[0]).cast("long")


def minhash_pandas_signature(ngram: int = 3, num_hashes: int = 8):
    """Arrow-batched MinHash signature UDF: text → struct<mh0..mhN string>.

    Measured justification (sf0.1, 5k docs, local[32]): the Catalyst
    formulations of the signature stage all cost ~3.3-3.5 s because the
    shingle construction runs in interpreted higher-order functions
    (transform/aggregate get no whole-stage codegen); this UDF does the
    same work in 0.19 s — Python's split + set + C md5 over Arrow batches,
    parallel per partition. Values are bit-identical to the DuckDB
    oracles' SQL (same ``md5(f"{m}:{shingle}")`` 8-hex windows, same
    mins). At cluster scale this is a map-only stage with O(num_hashes)
    state per row — the UDF is the rare case where the Arrow path beats
    codegen because the built-in expression of the semantics is
    interpreter-bound, not because the work differs.
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    if num_hashes % 4 != 0:
        raise ValueError("num_hashes must be a multiple of 4")
    n_md5 = num_hashes // 4
    schema = "struct<" + ",".join(f"mh{s}:string" for s in range(num_hashes)) + ">"

    # no type hints: struct-returning Series→DataFrame hints are rejected by
    # the hint-inference path; the decorator schema is authoritative
    @pandas_udf(schema)
    def mh_sig(texts):
        import hashlib

        out: dict[str, list[str]] = {f"mh{s}": [] for s in range(num_hashes)}
        for t in texts:
            toks = (t or "").strip().lower().split()
            if len(toks) >= ngram:
                shingles = {
                    " ".join(toks[i : i + ngram])
                    for i in range(len(toks) - ngram + 1)
                }
            else:
                shingles = {" ".join(toks)}
            mins = ["g" * 8] * num_hashes
            for sh in shingles:
                enc = sh.encode()
                for m in range(n_md5):
                    h = hashlib.md5(f"{m}:".encode() + enc).hexdigest()
                    base = m * 4
                    for w in range(4):
                        window = h[w * 8 : (w + 1) * 8]
                        if window < mins[base + w]:
                            mins[base + w] = window
            for s in range(num_hashes):
                out[f"mh{s}"].append(mins[s])
        return pd.DataFrame(out)

    return mh_sig


def _signature_frame(
    docs: DataFrame, id_col: str, text_col: str, ngram: int, num_hashes: int
) -> DataFrame:
    """(id, mh0..mhN) MinHash signature frame of ``docs``."""
    sig_udf = minhash_pandas_signature(ngram, num_hashes)
    return docs.select(
        F.col(id_col).alias("id"), sig_udf(F.col(text_col)).alias("g")
    ).select("id", *[F.col(f"g.mh{s}").alias(f"mh{s}") for s in range(num_hashes)])


def minhash_candidates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """End-to-end MinHash-LSH candidate pair generation.

    word-shingle → signature → band → self-join per band bucket.  Returns
    (id_a, id_b) with id_a < id_b, distinct.  The pair space stays
    bucket-local (never O(n²) across the corpus).  The signature stage is
    the Arrow-batched UDF (see ``minhash_pandas_signature``); the sig
    frame is repartitioned by id so the banded self-join reuses one
    exchange instead of re-running the UDF per consumer.

    Negative results (still valid): an all-built-in signature (explode →
    md5 → per-seed partial-min ``groupBy``) was 1.3–4.6× slower end to
    end (GAPS.md); hashing token n-tuples directly (no shingle strings)
    was ~2.5× slower than one concatenated string per shingle — per-seed
    hash input triples and the explode row widens.
    """
    # scale-adaptive parallelism, cost-gated (guide §2, r14): the
    # signature UDF is the heaviest per-byte Python pass in the repo
    # (num_hashes md5 digests per document), so fine-grained spread
    # keeps winning (r13 driver: q_dedup_clusters 1.31x, q_lsh_pairs
    # 1.27x at full parallelism) — the 16 KiB/task dial reproduces the
    # full-parallelism target locally while staying a no-op at scale
    # (splits >= cores; the text is never shuffled there, the only
    # exchange stays the post-UDF signature repartition).
    from changegen_spark.functions.spread import (
        MINHASH_BYTES_PER_TASK,
        spread_if_narrow,
    )

    docs = spread_if_narrow(docs, id_col, MINHASH_BYTES_PER_TASK)
    sig = _signature_frame(docs, id_col, text_col, ngram, num_hashes).repartition("id")
    return _band_and_pair(sig, num_hashes, bands, max_bucket_size)


def lsh_band_frame(sig: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(id, mh0..mhN) signature frame → (id, band, bh) band-hash rows.

    Shared by the self-join candidate path (`_band_and_pair`) and
    cross-frame band joins (e.g. incremental dedup of a new batch against
    a persisted corpus band table, `queries/scale.q_incremental_dedup`)."""
    rows_per_band = num_hashes // bands

    def band_hash(b: int):
        cols = [F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)]
        return F.md5(F.to_binary(F.concat_ws("|", *cols), F.lit("utf-8")))

    return sig.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), band_hash(b).alias("bh"))
                    for b in range(bands)
                ]
            )
        ).alias("b"),
    ).select("id", "b.band", "b.bh")


def folded_band_artifact(
    docs: DataFrame,
    ngram: int,
    num_hashes: int,
    bands: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, bh) MinHash-LSH band rows with the band index FOLDED into the
    band hash (``md5(band:bh)``) — the canonical persisted dedup-corpus
    artifact (single join key, so a bh-bucketed table satisfies the join
    distribution outright; see queries/scale.persist_dedup_corpus).
    The corpus artifact and each increment's probe rows both come from
    here, so both sides of the join compute byte-identical keys."""
    sig = _signature_frame(docs, id_col, text_col, ngram, num_hashes)
    banded = lsh_band_frame(sig, num_hashes, bands)
    return banded.select(
        "id",
        F.md5(
            F.to_binary(
                F.concat_ws(":", F.col("band").cast("string"), F.col("bh")),
                F.lit("utf-8"),
            )
        ).alias("bh"),
    )


def _band_and_pair(
    sig: DataFrame,
    num_hashes: int,
    bands: int,
    max_bucket_size: int | None,
) -> DataFrame:
    """Band a (id, mh0..mhN) signature frame and self-join per bucket."""
    banded = lsh_band_frame(sig, num_hashes, bands)
    if max_bucket_size is not None:
        # Hot-bucket guard (production default at corpus scale): a
        # degenerate bucket of B docs costs B² pair rows; buckets past the
        # cap carry no discriminating signal (boilerplate / empty docs) and
        # are dropped BEFORE the self-join so the blowup never happens.
        sizes = banded.groupBy("band", "bh").agg(F.count("*").alias("__bsz"))
        banded = (
            banded.join(sizes, ["band", "bh"])
            .filter(F.col("__bsz") <= max_bucket_size)
            .drop("__bsz")
        )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def jaccard_pairs(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
) -> DataFrame:
    """Exact shingle-Jaccard for candidate pairs: |A∩B| / |A∪B|.

    Set sizes via groupBy counts; intersection via shingle equi-join —
    all shuffle-partitioned, no per-pair set materialization on one node.
    """
    sh = docs.select(
        F.col(id_col).alias("id"),
        F.explode(char_shingles(F.col(text_col), k)).alias("sh"),
    )
    sizes = sh.groupBy("id").agg(F.count("*").alias("n_sh"))
    a = sh.alias("sa").join(pairs, F.col("sa.id") == F.col("id_a"))
    inter = (
        a.join(
            sh.alias("sb"),
            (F.col("sb.id") == F.col("id_b")) & (F.col("sa.sh") == F.col("sb.sh")),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_inter"))
    )
    out = (
        pairs.join(inter, ["id_a", "id_b"], "left")
        .fillna(0, ["n_inter"])
        .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_sh", "n_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_sh", "n_b"), "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
                6,
            ),
        )
    )
    return out.select("id_a", "id_b", "jaccard")
