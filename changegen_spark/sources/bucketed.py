"""Bucketed (co-located) table layout — the shuffle-elimination tool for
repeated big-big joins (task brief: "bucketing for co-located joins").

At 100 TB, fact⋈fact joins (lineitem⋈orders every query) dominate shuffle
volume.  Writing both sides bucketed + sorted by the join key makes every
subsequent join a zero-Exchange sort-merge: each task reads matching bucket
files from both tables.  The write cost is paid once; every downstream
query skips the shuffle (enforced by tests/test_bucketed.py).

Uses the session catalog (`saveAsTable`) — on a cluster this is the Hive
metastore / Unity catalog; bucket metadata is what lets Catalyst drop the
Exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    num_buckets: int = 16,
) -> None:
    """Persist df bucketed+sorted by key (overwrites the catalog table).

    Managed-table locations can survive a previous session whose in-memory
    catalog is gone — drop both the catalog entry and any orphaned
    directory before writing.
    """
    import shutil

    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    loc = f"{warehouse.removeprefix('file:')}/{table}"
    shutil.rmtree(loc, ignore_errors=True)
    (
        df.write.mode("overwrite")
        .bucketBy(num_buckets, key)
        .sortBy(key)
        .format("parquet")
        .saveAsTable(table)
    )
