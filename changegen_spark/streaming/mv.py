"""Streaming maintenance of the materialized JOIN view (r13, r12
verdict #4).

The batch queries (queries/mv.py q_mv_join_refresh / _delete / _update)
prove the delta-join ALGEBRA exact; this module is the missing
production leg: a STORED view under a CDC stream of inserts, deletes,
and keyed update images on both base tables, maintained as
bucket-partitioned parquet with the same exactly-once recipe as
golden_maintenance_stream (streaming/er.py):

* durable inputs only — the seed base snapshots plus an idempotent
  per-batch CDC log (``cdc/batch=<id>/`` overwrites on retry);
* the view's touched BUCKETS (hash of the join key) are recomputed as a
  pure function of seed ∪ log and explicitly overwritten per bucket —
  dynamic-partition-overwrite is NOT used, because a delete batch can
  empty a bucket and dynamic mode never rewrites a partition it has no
  rows for (the retract_stream tombstone lesson, r12);
* the file-source checkpoint gives exactly-once end to end.

100 TB shape: per batch the rewrite cost is (touched buckets / total
buckets) of the view — CDC batches touch few keys, keys hash to few
buckets, and buckets scale with the table.  The bucket recompute joins
the bucket-restricted side states (each a semi-join-pruned scan), never
base ⋈ base.  On Delta/Iceberg the log + bucket overwrite collapse into
one MERGE; the plan underneath is the same.

Reference anchor: the reference's changeset pipeline rebuilds derived
tables wholesale (changegen/db.py fetch + regenerate); this family is
the incremental-maintenance capability a 100 TB deployment needs
instead.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from changegen_spark.operators.fence import fence

VIEW_BUCKETS = 8

# unified CDC record: side A = orders (l_linenumber/l_returnflag/cents
# null), side B = lineitem (o_orderpriority null).  op I carries a full
# new row, op D only the key, op U the post-update image.
CDC_SCHEMA = (
    "side string, op string, o_orderkey long, l_linenumber long, "
    "o_orderpriority string, l_returnflag string, cents long"
)


def _seed_sides(spark: SparkSession, sf_dir: str):
    """Pre-cutoff base snapshots — the state the stored view was built
    from (the same CUTOFF split as q_mv_join_refresh)."""
    from changegen_spark.queries.mv import CUTOFF
    from changegen_spark.sources.tables import load_table

    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") < CUTOFF)
        .select("o_orderkey", "o_orderpriority")
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") < CUTOFF)
        .select(
            F.col("l_orderkey").alias("o_orderkey"),
            "l_linenumber",
            "l_returnflag",
            F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)").alias(
                "cents"
            ),
        )
    )
    return o, li


def stage_mv_cdc_files(spark: SparkSession, sf_dir: str, out_dir: str) -> str:
    """Write the CDC drop directory: one file per micro-batch, mtimes
    pinned in order — (0) ΔA order inserts, (1) ΔB lineitem inserts,
    (2) keyed deletes on both sides, (3) keyed update images on both
    sides.  All four batch kinds derive from the same deterministic
    predicates the batch queries use, so the stream's final view is
    comparable against an independent recompute."""
    import glob
    import shutil

    from changegen_spark.queries.mv import (
        CUTOFF,
        DELETE_PRED,
        DELETE_PRED_B,
        UPDATE_PRED_A,
        UPDATE_PRED_B,
        UPDATED_FLAG,
        UPDATED_PRIORITY,
    )
    from changegen_spark.sources.tables import load_table

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    a_all = o.select(
        "o_orderkey",
        "o_orderpriority",
        (F.col("o_orderdate") < CUTOFF).alias("a_base"),
        F.expr(f"CAST({DELETE_PRED} AS INT)").alias("a_del"),
        F.expr(f"CAST({UPDATE_PRED_A} AS INT)").alias("a_upd"),
    )
    b_all = li.select(
        F.col("l_orderkey").alias("o_orderkey"),
        "l_linenumber",
        "l_returnflag",
        F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)").alias("cents"),
        (F.col("l_shipdate") < CUTOFF).alias("b_base"),
        F.expr(f"CAST({DELETE_PRED_B} AS INT)").alias("b_del"),
        F.expr(f"CAST({UPDATE_PRED_B} AS INT)").alias("b_upd"),
    )
    n = F.lit(None)
    batches = [
        # 0: ΔA inserts (post-cutoff orders)
        a_all.filter("NOT a_base").select(
            F.lit("A").alias("side"),
            F.lit("I").alias("op"),
            "o_orderkey",
            n.cast("long").alias("l_linenumber"),
            "o_orderpriority",
            n.cast("string").alias("l_returnflag"),
            n.cast("long").alias("cents"),
        ),
        # 1: ΔB inserts (post-cutoff shipments)
        b_all.filter("NOT b_base").select(
            F.lit("B").alias("side"),
            F.lit("I").alias("op"),
            "o_orderkey",
            "l_linenumber",
            n.cast("string").alias("o_orderpriority"),
            "l_returnflag",
            "cents",
        ),
        # 2: keyed deletes on both sides
        a_all.filter("a_del = 1")
        .select(
            F.lit("A").alias("side"),
            F.lit("D").alias("op"),
            "o_orderkey",
            n.cast("long").alias("l_linenumber"),
            n.cast("string").alias("o_orderpriority"),
            n.cast("string").alias("l_returnflag"),
            n.cast("long").alias("cents"),
        )
        .unionByName(
            b_all.filter("b_del = 1").select(
                F.lit("B").alias("side"),
                F.lit("D").alias("op"),
                "o_orderkey",
                "l_linenumber",
                n.cast("string").alias("o_orderpriority"),
                n.cast("string").alias("l_returnflag"),
                n.cast("long").alias("cents"),
            )
        ),
        # 3: keyed update images on both sides (post-update values)
        a_all.filter("a_upd = 1")
        .select(
            F.lit("A").alias("side"),
            F.lit("U").alias("op"),
            "o_orderkey",
            n.cast("long").alias("l_linenumber"),
            F.lit(UPDATED_PRIORITY).alias("o_orderpriority"),
            n.cast("string").alias("l_returnflag"),
            n.cast("long").alias("cents"),
        )
        .unionByName(
            # B-side updates change the FLAG of every row of the key;
            # cents is row-local and NOT part of the update image (the
            # synthetic lineitem table carries duplicate (orderkey,
            # linenumber) keys, so a keyed image may cover several rows
            # — an image that carried cents would collapse their
            # distinct values, the bug the first cut of this stage had)
            b_all.filter("b_upd = 1")
            .select(
                F.lit("B").alias("side"),
                F.lit("U").alias("op"),
                "o_orderkey",
                "l_linenumber",
                n.cast("string").alias("o_orderpriority"),
                F.lit(UPDATED_FLAG).alias("l_returnflag"),
                n.cast("long").alias("cents"),
            )
            .distinct()
        ),
    ]
    os.makedirs(out_dir, exist_ok=True)
    t0 = None
    for i, df in enumerate(batches):
        tmp = os.path.join(out_dir, f"_g{i}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        (part,) = glob.glob(os.path.join(tmp, "part-*.parquet"))
        dst = os.path.join(out_dir, f"{i:02d}.parquet")
        shutil.copy(part, dst)
        shutil.rmtree(tmp)
        if t0 is None:
            t0 = os.stat(dst).st_mtime
        os.utime(dst, (t0 + i, t0 + i))
    return out_dir


def _apply_cdc(seed: DataFrame, log: DataFrame, side: str) -> DataFrame:
    """Fold a CDC log into a side state: (seed ∪ inserts) minus deleted
    keys, with the LATEST update image overriding the carried
    attributes.  Key: o_orderkey for A, (o_orderkey, l_linenumber) for
    B.  Pure function of (seed, log) — the idempotency the bucket
    recompute relies on."""
    from pyspark.sql import Window

    key = ["o_orderkey"] if side == "A" else ["o_orderkey", "l_linenumber"]
    ev = log.filter(F.col("side") == side)
    if side == "A":
        cols = ["o_orderkey", "o_orderpriority"]
    else:
        cols = ["o_orderkey", "l_linenumber", "l_returnflag", "cents"]
    state = seed.select(*cols).unionByName(
        ev.filter("op = 'I'").select(*cols)
    )
    dels = ev.filter("op = 'D'").select(*key).distinct()
    state = state.join(F.broadcast(dels), key, "left_anti")
    # one image per key: latest batch wins, ties broken by value so a
    # duplicate-keyed feed stays deterministic; images override only the
    # keyed NON-KEY attribute (priority / returnflag) — row-local
    # attributes like cents keep their state values
    val = "o_orderpriority" if side == "A" else "l_returnflag"
    upd = (
        ev.filter("op = 'U'")
        .select(*key, val, "batch")
        .distinct()
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy(*key).orderBy(F.desc("batch"), val)
            ),
        )
        .filter("rn = 1")
    )
    if side == "A":
        return state.join(
            F.broadcast(
                upd.select("o_orderkey", F.col("o_orderpriority").alias("_p"))
            ),
            key,
            "left",
        ).select(
            "o_orderkey",
            F.coalesce("_p", F.col("o_orderpriority")).alias(
                "o_orderpriority"
            ),
        )
    return state.join(
        F.broadcast(
            upd.select(
                "o_orderkey",
                "l_linenumber",
                F.col("l_returnflag").alias("_f"),
            )
        ),
        key,
        "left",
    ).select(
        "o_orderkey",
        "l_linenumber",
        F.coalesce("_f", F.col("l_returnflag")).alias("l_returnflag"),
        "cents",
    )


def mv_join_maintenance_stream(
    spark: SparkSession,
    state_dir: str,
    sf_dir: str,
    checkpoint: str | None = None,
    stage_dir: str | None = None,
):
    """Maintain the stored JOIN view under the CDC stream.  State under
    ``state_dir``:

      seed_a/, seed_b/      pre-cutoff base snapshots (idempotent seed)
      cdc/batch=<id>/       the CDC log, one dir per micro-batch
      view/bucket=<b>/      the maintained view, hash-bucketed on the
                            join key

    Per micro-batch: (1) write the batch's CDC records idempotently,
    (2) recompute the side states for exactly the buckets this batch
    touches — a pure fold of seed ∪ log, so a retried batch reproduces
    byte-identical buckets, (3) re-join the bucket-restricted states and
    EXPLICITLY overwrite each touched bucket (a delete batch can empty
    one; dynamic partition overwrite would leave the stale rows)."""
    from changegen_spark.queries.mv import CUTOFF  # noqa: F401 (doc anchor)

    seed_a_dir = os.path.join(state_dir, "seed_a")
    seed_b_dir = os.path.join(state_dir, "seed_b")
    cdc_dir = os.path.join(state_dir, "cdc")
    view_dir = os.path.join(state_dir, "view")
    os.makedirs(state_dir, exist_ok=True)

    marker = os.path.join(state_dir, "_SEEDED")
    seed_key = f"{sf_dir}|{VIEW_BUCKETS}"
    stale = True
    if os.path.exists(marker):
        with open(marker) as fh:
            stale = fh.read() != seed_key
    if stale:
        o, li = _seed_sides(spark, sf_dir)
        o.write.mode("overwrite").parquet(seed_a_dir)
        li.write.mode("overwrite").parquet(seed_b_dir)
        v = (
            o.join(li, "o_orderkey")
            .withColumn(
                "bucket", F.pmod("o_orderkey", F.lit(VIEW_BUCKETS))
            )
        )
        v.write.mode("overwrite").partitionBy("bucket").parquet(view_dir)
        with open(marker, "w") as fh:
            fh.write(seed_key)

    stage = stage_dir or stage_mv_cdc_files(
        spark, sf_dir, os.path.join(state_dir, "stage")
    )
    schema = spark.read.parquet(stage).schema
    cdc = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            os.path.join(cdc_dir, f"batch={batch_id}")
        )
        touched = (
            batch_df.select(
                F.pmod("o_orderkey", F.lit(VIEW_BUCKETS)).alias("bucket")
            )
            .distinct()
            .transform(fence, "mv_join_maintenance_stream touched")
        )
        spark.catalog.refreshByPath(cdc_dir)
        log = (
            spark.read.option("basePath", cdc_dir)
            .parquet(cdc_dir)
            .filter(F.col("batch") <= batch_id)
        )
        in_touched = lambda df: df.join(  # noqa: E731
            F.broadcast(touched),
            F.pmod("o_orderkey", F.lit(VIEW_BUCKETS)) == F.col("bucket"),
            "left_semi",
        )
        spark.catalog.refreshByPath(seed_a_dir)
        spark.catalog.refreshByPath(seed_b_dir)
        a_state = _apply_cdc(
            in_touched(spark.read.parquet(seed_a_dir)),
            in_touched(log),
            "A",
        )
        b_state = _apply_cdc(
            in_touched(spark.read.parquet(seed_b_dir)),
            in_touched(log),
            "B",
        )
        rows = (
            a_state.join(b_state, "o_orderkey")
            .withColumn(
                "bucket", F.pmod("o_orderkey", F.lit(VIEW_BUCKETS))
            )
            .transform(fence, "mv_join_maintenance_stream rows")
        )
        # explicit per-bucket overwrite (bounded by VIEW_BUCKETS)
        for b in sorted(r.bucket for r in touched.collect()):
            (
                rows.filter(F.col("bucket") == b)
                .drop("bucket")
                .write.mode("overwrite")
                .parquet(os.path.join(view_dir, f"bucket={b}"))
            )

    writer = cdc.writeStream.foreachBatch(merge).trigger(availableNow=True)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()
