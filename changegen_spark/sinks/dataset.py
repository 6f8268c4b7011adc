"""Partitioned parquet dataset management: hive-partitioned writes with
dynamic partition overwrite, and small-file compaction.

The two dataset-maintenance operations a 100 TB training-data pipeline
runs daily and the reference (a one-shot change generator) never needed:

* ``write_partitioned`` — land a batch into ``path/part_col=value/...``
  layout, replacing ONLY the partitions the batch touches (dynamic
  overwrite), so an incremental job never clobbers history it didn't
  recompute.  Static overwrite (the Spark default) would drop every
  existing partition first — the classic incremental-pipeline footgun.
* ``compact_dataset`` — rewrite a partition-preserving dataset so each
  hive partition lands in ``ceil(rows / target_rows)`` files.  Streaming
  ingests and fine-grained incremental writes accumulate thousands of
  KB-sized files per partition; at scale the resulting scan pays a
  driver-side listing + per-file open cost that dwarfs the read itself
  (the "small files problem").

Scale design: compaction never collects data — the per-partition file
plan is a tiny groupBy(partition_cols).count() aggregate (|partitions|
rows) broadcast back onto the data.  Two mechanisms compose:

* parallelism: rows are shuffled on (partition_cols, file_group) with
  file_group = pmod(xxhash64(unique_key), files_for_that_partition), so
  a huge partition's rewrite spreads over its ~n_files groups instead of
  serializing through one task;
* file sizing: the writer's ``maxRecordsPerFile`` hard-caps rows per
  file, so file sizes are enforced by the sink regardless of how the
  shuffle hashed groups into tasks (hash collisions can merge two groups
  into one task — the cap splits them back; the resulting count per
  partition is [ceil(rows/target), n_groups + collisions], bounded, not
  exact-to-one).

Row-count targets stand in for byte targets; callers derive target_rows
from a measured bytes-per-row (the same contract Delta/Iceberg OPTIMIZE
uses internally)."""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    dynamic: bool = True,
    max_records_per_file: int | None = None,
) -> None:
    """Write ``df`` hive-partitioned by ``partition_cols``.  With
    ``dynamic=True`` (the production default), overwrite replaces only the
    partitions present in ``df`` — untouched partitions survive."""
    mode = "dynamic" if dynamic else "static"
    # A writer option, not the session conf: it takes precedence over
    # ``spark.sql.sources.partitionOverwriteMode`` for this write only.
    writer = df.write.option("partitionOverwriteMode", mode)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.partitionBy(*partition_cols).mode("overwrite").parquet(path)


def compact_dataset(
    spark: SparkSession,
    path: str,
    partition_cols: list[str],
    key_col: str,
    target_rows: int,
) -> dict[str, int]:
    """Rewrite the dataset at ``path`` so every hive partition holds
    ~``ceil(partition_rows / target_rows)`` parquet files of at most
    ``target_rows`` rows each (see module docstring for the exact bound).
    Slices are deterministic hash groups of ``key_col``, so task retries
    and re-runs produce identical file contents.

    Returns {"n_partitions": ..., "files_before": ..., "files_after": ...}.

    A Spark job cannot overwrite the very files it is scanning, so the
    rewrite STAGES into ``<path>.__compacting`` and then swaps directories
    through the Hadoop FileSystem API (works on any configured FS — local,
    HDFS; on rename-less object stores the swap is copy-based and a table
    format with transactional metadata (Delta/Iceberg) is the right tool —
    this operator covers the plain-parquet lake)."""
    staged = path.rstrip("/") + ".__compacting"
    df = spark.read.parquet(path)
    files_before = len(df.inputFiles())
    plan = (
        df.groupBy(*partition_cols)
        .agg(F.count("*").alias("_rows"))
        .withColumn(
            "_n_files",
            F.greatest(
                F.lit(1), F.ceil(F.col("_rows") / F.lit(target_rows))
            ).cast("int"),
        )
        .drop("_rows")
    )
    n_partitions = plan.count()
    grouped = (
        df.join(F.broadcast(plan), partition_cols)
        .withColumn(
            "_file_group",
            F.pmod(F.xxhash64(F.col(key_col)), F.col("_n_files")),
        )
        .repartition(*[F.col(c) for c in partition_cols], F.col("_file_group"))
        .drop("_n_files", "_file_group")
    )
    write_partitioned(
        grouped, staged, partition_cols, dynamic=False,
        max_records_per_file=target_rows,
    )
    # directory swap via the Hadoop FS the session is configured with
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    hstaged = jvm.org.apache.hadoop.fs.Path(staged)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    fs.delete(hpath, True)
    if not fs.rename(hstaged, hpath):
        raise IOError(f"compaction swap failed: rename {staged} -> {path}")
    files_after = len(spark.read.parquet(path).inputFiles())
    return {
        "n_partitions": n_partitions,
        "files_before": files_before,
        "files_after": files_after,
    }
