"""SparkSession factory.

Single place where execution knobs live so every entry point (tests, bench,
driver contract) gets the same tuned session.  Defaults are chosen for the
local[32] test harness but the same settings are what we would ship on a
1000-executor cluster: AQE handles runtime re-planning (skew joins, shuffle
coalescing), Arrow batches keep the rare pandas-UDF path fast, and shuffle
partitions scale with available cores.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Entries in the JVM-wide generated-class cache (Spark's default is 100).
# One changegen CLI pass on the perfbench seed-1 input generates ~430
# distinct classes, so at 100 the LRU evicted each class before its reuse
# and every warm pass recompiled as many as the cold one (521-525).  At
# 1024 warm passes recompiled 18-26 (4 vCPUs).  The cache is a JVM
# singleton sized at its first compile, so the value only takes effect
# from the builder, before the JVM has compiled anything.
CODEGEN_CACHE_ENTRIES = 1024


def get_spark(
    app_name: str = "changegen_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    jars: str | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    Honors ``SPARK_GRAFT_CPUS`` for the local master thread count so the
    driver's bench harness controls parallelism.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cpus) if cpus.isdigit() else 32, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Adaptive execution: runtime shuffle-partition coalescing, skew-join
        # splitting, broadcast-join conversion from runtime stats.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for the pandas-UDF slow path (vectorized transfer).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Deterministic wall-clock semantics for timestamp <-> string.
        .config("spark.sql.session.timeZone", "UTC")
        # The synthetic events table stores TIMESTAMP(NANOS); read nanos as
        # long up-front (loaders rebuild micros) instead of probing the read
        # and catching the failure, which left aborted-job noise in the logs.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Zone-less parquet timestamps (timestamp[us]) should read as
        # session-tz TIMESTAMP (UTC), not TIMESTAMP_NTZ — keeps unix_micros
        # and window/bucket arithmetic valid on the events table.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # Broadcast anything under 64 MB — dimension tables at TPC-H scale.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Keep parquet scan splits reasonable for wide scans.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.maxResultSize", "4g")
        # local mode: everything (incl. Catalyst analysis of deep plans)
        # lives in the driver JVM — the 1g default is far too small.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # PySpark 4 captures a Python call-site (stack walk + py4j round
        # trip) on EVERY DataFrame API call to enrich error messages;
        # measured at ~0.5 s of the changegen plan phase alone (309 calls).
        # An engine builds plans programmatically — the enriched frames
        # would point into our operator code anyway, so turn it off.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    # Extra driver jars (e.g. a JDBC driver for --jdbc live mode). Must be
    # supplied before JVM launch; comma-separated paths, also honored via
    # the SPARK_GRAFT_JARS environment variable.
    jars = jars or os.environ.get("SPARK_GRAFT_JARS")
    if jars:
        # getOrCreate SILENTLY ignores spark.jars/extraClassPath once a
        # JVM is up — a --jdbc-jar passed after some earlier in-process
        # session was created would no-op and the JDBC driver class would
        # be missing at read time.  Detect and say so instead.
        active = SparkSession.getActiveSession()
        if active is not None:
            have = active.conf.get("spark.jars", "") or ""
            missing = [j for j in jars.split(",") if j and j not in have]
            if missing:
                import warnings

                warnings.warn(
                    "get_spark(jars=...) cannot add jars to the already-"
                    f"running SparkSession (missing: {missing}); launch a "
                    "fresh process or set SPARK_GRAFT_JARS before the "
                    "first session is created.",
                    RuntimeWarning,
                    stacklevel=2,
                )
        builder = (
            builder.config("spark.jars", jars)
            .config("spark.driver.extraClassPath", jars.replace(",", ":"))
            .config("spark.executor.extraClassPath", jars.replace(",", ":"))
        )
    return builder.getOrCreate()
