"""Parquet table loaders for the driver's synthetic testdata.

Mirrors the reference's source layer (``changegen/db.py:28-53`` OGRDBReader /
catalog discovery ``changegen/__main__.py:56-68``): tables are discovered by
name against a directory instead of ``information_schema``, and each scan is a
lazy columnar DataFrame instead of a row-at-a-time OGR iterator.

At cluster scale these reads are plain distributed parquet scans — predicate
pushdown and column pruning reach the file readers via Catalyst, so callers
should filter/select as early as possible and let the optimizer prune.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one named table from an sf directory.

    The events table stores TIMESTAMP(NANOS) which Spark's parquet reader
    rejects; we read nanos as long (legacy conf) and rebuild a microsecond
    timestamp with exact integer arithmetic (``div 1000`` truncation —
    matching how DuckDB narrows nanos to its micro timestamps).
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = _read_parquet_nanos_safe(spark, path)
    for field in df.schema.fields:
        if field.name == "ts" and field.dataType.simpleString() == "bigint":
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif field.dataType.simpleString() == "timestamp_ntz":
            # timestamp[us] with no zone reads as TIMESTAMP_NTZ under Spark 4's
            # inferTimestampNTZ default; normalize to session-tz TIMESTAMP
            # (session tz is pinned UTC) so unix_micros / window functions and
            # the DuckDB oracle's string renderings agree.
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    return df


def _read_parquet_nanos_safe(spark: SparkSession, path: str) -> DataFrame:
    # Sessions built by :func:`changegen_spark.session.get_spark` already set
    # this; setting it again is an idempotent no-op, and doing it eagerly
    # (instead of probing the read and catching the failure) keeps aborted-job
    # stack traces out of the logs for externally built sessions too.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark.read.parquet(path)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every table present in the directory (missing ones skipped).

    Discovery-by-suffix parity with ``_get_db_tables``
    (``changegen/__main__.py:56-68``): we list the directory rather than
    hard-failing on the fixed set.
    """
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            out[name] = load_table(spark, sf_dir, name)
    return out
