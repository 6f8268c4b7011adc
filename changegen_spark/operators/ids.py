"""Ordered prefix sums and global sequential ids (SURVEY §2.5 W1).

Parity target: the reference's infinite counter ``_id_gen(id_offset, neg_id)``
(``changegen/generator.py:161-166``) consumed interleaved across element
kinds.  The distributed contract we preserve (SURVEY §7 risk 1): uniqueness,
density starting at ``id_offset + 1``, sign, and no collision with existing
extract ids (``changegen/__main__.py:197-208``).

One operator computes every ordered rank and running sum in the package:
``prefix_sum`` is Blelloch's block scan ("Prefix Sums and Their
Applications", 1990) — scan each block, scan the block sums, add them
back.  The blocks are range partitions of the order key, so no stage ever
holds more than one partition of data rows; the only partition-less
window runs over the (partition, group) sums, one row per block.
"""

from __future__ import annotations

from functools import reduce
from operator import and_

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from changegen_spark.operators.fence import fence


def prefix_sum(
    df: DataFrame,
    order_by: list[str],
    value: str | None = None,
    by: list[str] | tuple[str, ...] = (),
) -> DataFrame:
    """``df`` plus ``run`` and ``total``.

    ``run`` is the inclusive running sum of ``value`` within each ``by``
    group in ``order_by`` order, or the 1-based rank when ``value`` is
    None; ``total`` is the group's sum (its row count when ``value`` is
    None).  ``by + order_by`` must be a total order of the rows, or ties
    are numbered arbitrarily.  Groups compare null-safely: a null ``by``
    key is a group of its own.

    Five steps: range-partition on ``by + order_by`` (the session's
    shuffle partitions, coalesced by adaptive execution — coalescing
    merges neighbouring ranges, so partition ids stay in key order);
    fence the ranged rows; one window within each (partition, group);
    a prefix window over the per-(partition, group) sums; one broadcast
    join of those offsets back.

    The fence is correctness, not caching: the ranged rows are read
    twice (the block sums and the join probe), and ``repartitionByRange``
    samples its boundaries afresh per execution.  Unfenced, offsets from
    one partitioning get added to rows of another and the ranks stop
    being a permutation (measured at 100k sorted-neighbourhood records:
    168318/168318/168300/168305 pairs over four counts).
    """
    by = list(by)
    mby = [f"__mby{i}" for i in range(len(by))]
    ranged = (
        df.repartitionByRange(*by, *order_by)
        .transform(fence, "prefix_sum ranged", eager=False)
        .withColumn("__part", F.spark_partition_id())
    )
    local = Window.partitionBy("__part", *by).orderBy(*order_by)
    if value is None:
        step = F.row_number().over(local).cast("long")
        block = F.count("*")
    else:
        step = F.sum(value).over(
            local.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        block = F.sum(value)
    blocks = ranged.groupBy("__part", *by).agg(block.alias("__blk"))
    scan = Window.partitionBy(*by).orderBy("__part")
    meta = blocks.select(
        F.col("__part").alias("__mpart"),
        *[F.col(c).alias(m) for c, m in zip(by, mby)],
        (
            F.sum("__blk").over(
                scan.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            - F.col("__blk")
        ).alias("__off"),
        F.sum("__blk")
        .over(scan.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
        .alias("total"),
    )
    on = reduce(
        and_,
        [F.col(c).eqNullSafe(F.col(m)) for c, m in zip(by, mby)],
        F.col("__part") == F.col("__mpart"),
    )
    return (
        ranged.withColumn("__step", step)
        .join(F.broadcast(meta), on)
        .withColumn("run", F.col("__step") + F.col("__off"))
        .drop("__part", "__step", "__mpart", "__off", *mby)
    )


def assign_sequential_ids(
    df: DataFrame,
    order_by: list[str],
    out_col: str = "new_id",
    id_offset: int = 0,
    negative: bool = False,
) -> DataFrame:
    """``df`` plus ``out_col``: ids exactly ``id_offset+1 .. id_offset+N``
    in ``order_by`` order (negated when ``negative``), from
    ``prefix_sum``'s rank."""
    seq = F.col("run") + F.lit(id_offset)
    return (
        prefix_sum(df, order_by)
        .withColumn(out_col, (-seq if negative else seq).cast("long"))
        .drop("run", "total")
    )


def check_id_collision(existing_max_id: int, id_offset: int, negative: bool) -> None:
    """ID collision guard (C6, ``changegen/__main__.py:197-208``)."""
    if not negative and id_offset <= existing_max_id:
        raise ValueError(
            f"id_offset {id_offset} would collide with existing ids "
            f"(max existing id {existing_max_id}); raise --id_offset or use negative ids"
        )
