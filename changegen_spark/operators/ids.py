"""Global sequential ID assignment (SURVEY §2.5 W1).

Parity target: the reference's infinite counter ``_id_gen(id_offset, neg_id)``
(``changegen/generator.py:161-166``) consumed interleaved across element
kinds.  The distributed contract we preserve (SURVEY §7 risk 1): uniqueness,
density starting at ``id_offset + 1``, sign, and no collision with existing
extract ids (``changegen/__main__.py:197-208``).

Scale note: a single global ``row_number`` means a one-partition shuffle of
the *keys only* — acceptable for changefile-sized outputs (≪ memory), which is
the only place dense ids are required.  For 100 TB-scale id assignment use
``mode="distributed"``: ``monotonically_increasing_id`` gives per-partition
unique (sparse) ids with zero shuffle, then an optional per-partition-offset
pass (two tiny jobs: count per partition → prefix sum broadcast) yields dense
ids without a global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def assign_sequential_ids(
    df: DataFrame,
    order_by: list[str],
    out_col: str = "new_id",
    id_offset: int = 0,
    negative: bool = False,
    mode: str = "dense",
) -> DataFrame:
    """Attach globally unique ids.

    ``mode="dense"``: ids are exactly ``id_offset+1 .. id_offset+N`` in
    ``order_by`` order (single-partition window — deterministic, for
    changefile-scale outputs).

    ``mode="distributed"``: dense ids with no global sort — compute partition
    row-counts, broadcast the prefix sums, add to a per-partition row index.
    Order follows current partitioning (still unique + dense, not globally
    ordered by ``order_by``).

    CORRECTNESS HAZARD (r9 postmortem): distributed mode executes its
    input TWICE — once for the per-partition counts, once as the join
    probe.  If the input's partitioning is nondeterministic across
    executions (``repartitionByRange`` re-samples its boundaries with a
    fresh seed every execution), the offsets from one partitioning get
    applied to rows of another and the ids stop being a permutation.
    Fence such inputs first (``operators/fence.py``; see
    queries/er/sn.py ``_sn_ranked``); deterministic inputs (a parquet
    scan, a hash repartition) need no fence.
    """
    if mode == "dense":
        w = Window.orderBy(*[F.col(c) for c in order_by])
        rn = F.row_number().over(w).cast("long")
    elif mode == "distributed":
        # Dense ids without a global shuffle: spark_partition_id + intra-
        # partition row_number, then remap partition offsets driver-side.
        part = F.spark_partition_id()
        w = Window.partitionBy(part).orderBy(*[F.col(c) for c in order_by])
        tagged = df.withColumn("__part", part).withColumn(
            "__rn", F.row_number().over(w).cast("long")
        )
        # Per-partition offsets as a broadcast join against a tiny
        # (partition, offset) frame — NOT a driver collect() + create_map
        # literal: at 100k partitions that literal is a 200k-node expression
        # tree and the collect is a driver round-trip.  The prefix sum runs
        # as a single-partition window over num_partitions rows (tiny).
        counts = tagged.groupBy("__part").agg(F.count("*").alias("__cnt"))
        prefix = Window.orderBy("__part").rowsBetween(
            Window.unboundedPreceding, -1
        )
        offs = counts.select(
            "__part",
            F.coalesce(F.sum("__cnt").over(prefix), F.lit(0)).cast("long").alias("__off"),
        )
        out = tagged.join(F.broadcast(offs), "__part")
        seq = (F.col("__rn") + F.col("__off") + F.lit(id_offset)).cast("long")
        out = out.withColumn(out_col, -seq if negative else seq)
        return out.drop("__part", "__rn", "__off")
    else:
        raise ValueError(f"unknown id mode: {mode}")

    seq = rn + F.lit(id_offset)
    return df.withColumn(out_col, (-seq if negative else seq).cast("long"))


def check_id_collision(existing_max_id: int, id_offset: int, negative: bool) -> None:
    """ID collision guard (C6, ``changegen/__main__.py:197-208``)."""
    if not negative and id_offset <= existing_max_id:
        raise ValueError(
            f"id_offset {id_offset} would collide with existing ids "
            f"(max existing id {existing_max_id}); raise --id_offset or use negative ids"
        )
