"""Training-shard export: deterministic sharded JSONL with a content
manifest — the artifact a corpus pipeline actually hands to a trainer.

Contract:

* every row lands in shard ``pmod(xxhash64(key), n_shards)`` — membership
  is a pure function of the key, so re-runs, task retries, and
  incremental rebuilds place every record identically;
* within a shard, rows are written in ``key`` order (sortWithinPartitions
  — a per-partition sort, NO global exchange beyond the shard shuffle),
  so shard files are byte-deterministic;
* a ``manifest.json`` records per-shard row counts and an
  order-insensitive 40-bit-sum content hash computed DISTRIBUTED (the
  digest.py discipline) — consumers can verify a shard without trusting
  the writer, and two independently produced exports of the same data
  compare equal by manifest alone.

Scale: one hash-partition shuffle on the shard id; the manifest aggregate
is map-side combined counts/sums (|shards| rows to the driver).  The
JSON text itself is written by Spark's native JSON datasource (JVM-side,
no Python in the write path)."""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from changegen_spark.operators.fence import fence


def write_training_shards(
    df: DataFrame,
    path: str,
    key_col: str,
    n_shards: int = 8,
) -> dict:
    """Write ``df`` as ``path/shard=K/*.json`` plus ``path/manifest.json``.
    Returns the manifest dict."""
    shard = F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_shards)).cast("int")
    # fence once: the JSON write and the manifest aggregate both read the
    # materialized rows instead of re-running the (possibly corpus-scale)
    # upstream plan twice
    tagged = df.withColumn("shard", shard).transform(
        fence, "write_training_shards tagged", eager=False
    )
    sharded = tagged.repartition(n_shards, "shard").sortWithinPartitions(
        "shard", key_col
    )
    sharded.write.partitionBy("shard").mode("overwrite").json(path)

    # order-insensitive per-shard content hash over the canonical JSON of
    # the data columns (sorted column order, 40-bit md5-prefix sum)
    cols = sorted(df.columns)
    row_json = F.to_json(F.struct(*[F.col(c) for c in cols]))
    h = F.conv(F.substring(F.md5(row_json), 1, 10), 16, 10).cast("long")
    stats = (
        tagged.groupBy("shard")
        .agg(F.count("*").alias("n_rows"), F.sum(h).alias("hash_sum"))
        .orderBy("shard")
        .collect()
    )
    manifest = {
        "n_shards": n_shards,
        "key_col": key_col,
        "columns": cols,
        "total_rows": int(sum(r["n_rows"] for r in stats)),
        "shards": {
            int(r["shard"]): {
                "n_rows": int(r["n_rows"]),
                "hash_sum": int(r["hash_sum"]),
            }
            for r in stats
        },
    }
    with open(os.path.join(path, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


def verify_training_shards(spark, path: str) -> dict:
    """Re-read the shard files and recompute the manifest from the BYTES ON
    DISK; returns {"ok": bool, "expected": ..., "actual": ...}.  The
    consumer-side trust check."""
    with open(os.path.join(path, "manifest.json")) as f:
        expected = json.load(f)
    # drop any cached file listing from a previous read of this path —
    # a verifier must see the bytes as they are NOW
    spark.catalog.refreshByPath(path)
    df = spark.read.json(os.path.join(path, "shard=*"), pathGlobFilter="*.json")
    cols = expected["columns"]
    shard = F.pmod(
        F.xxhash64(F.col(expected["key_col"])), F.lit(expected["n_shards"])
    ).cast("int")
    row_json = F.to_json(F.struct(*[F.col(c) for c in cols]))
    h = F.conv(F.substring(F.md5(row_json), 1, 10), 16, 10).cast("long")
    stats = (
        df.withColumn("shard", shard)
        .groupBy("shard")
        .agg(F.count("*").alias("n_rows"), F.sum(h).alias("hash_sum"))
        .collect()
    )
    actual = {
        int(r["shard"]): {
            "n_rows": int(r["n_rows"]),
            "hash_sum": int(r["hash_sum"]),
        }
        for r in stats
    }
    exp_shards = {int(k): v for k, v in expected["shards"].items()}
    return {"ok": actual == exp_shards, "expected": exp_shards, "actual": actual}
