"""JDBC source — the reference's live-PostGIS mode (SURVEY §2.1 S1).

Parquet snapshots are this engine's canonical input (reproducible diffs,
object-store-scan parallelism), but parity with the reference means being
able to point at the imposm3 PostGIS database directly.  This module builds
the partitioned-read plan.  The execution path runs LIVE in
tests/test_jdbc_live.py against a real JDBC endpoint (the container's
DuckDB JDBC driver): suffix discovery, the 4-partition read and predicate
pushdown all execute against an actual database.
Only the PostGIS-specific ST_AsBinary export leg remains environmental
(no Postgres server or pg JDBC driver in the container).

Scale rules encoded here:
  * always partition the read (``partitionColumn``/bounds/numPartitions`) —
    an unpartitioned JDBC scan is one executor pulling 100 TB through one
    connection;
  * push the geometry→WKB cast into the dbtable subquery so the transfer
    is binary, not WKT text;
  * discovery-by-suffix matches the reference catalog query
    (``changegen/__main__.py:56-68``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, DataFrameReader, SparkSession

DISCOVERY_SQL = (
    "SELECT table_name FROM information_schema.tables "
    "WHERE table_schema = '{schema}' AND table_name LIKE '%{suffix}'"
)


def jdbc_table_reader(
    spark: SparkSession,
    url: str,
    table: str,
    partition_column: str | None = "id",
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int = 32,
    geometry_column: str | None = "geometry",
    fetch_size: int = 10_000,
    properties: dict[str, str] | None = None,
) -> DataFrameReader:
    """Configured partitioned JDBC reader for one PostGIS table.

    Returns the reader (call ``.load()`` against a live database).  The
    dbtable is a pushdown subquery exporting geometry as WKB.
    """
    cols = "*" if geometry_column is None else (
        f"*, ST_AsBinary({geometry_column}) AS {geometry_column}_wkb"
    )
    dbtable = f"(SELECT {cols} FROM {table}) AS t"
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", dbtable)
        .option("fetchsize", str(fetch_size))
    )
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("numPartitions", str(num_partitions))
        )
        if lower_bound is not None:
            reader = reader.option("lowerBound", str(lower_bound))
        if upper_bound is not None:
            reader = reader.option("upperBound", str(upper_bound))
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    return reader


def discovery_query(suffix: str, schema: str = "public") -> str:
    """The reference's catalog-discovery SQL (information_schema LIKE)."""
    return DISCOVERY_SQL.format(schema=schema, suffix=suffix)


def default_driver_for_url(url: str) -> str | None:
    """Best-effort JDBC driver class from the URL scheme."""
    if url.startswith("jdbc:duckdb"):
        return "org.duckdb.DuckDBDriver"
    if url.startswith("jdbc:postgresql"):
        return "org.postgresql.Driver"
    return None


def postgres_url_from_env(env: dict[str, str]) -> tuple[str, dict[str, str]]:
    """Reference-parity connection defaults from the standard Postgres
    environment variables (``changegen/__main__.py:165-169``): PGDATABASE /
    PGPORT / PGUSER / PGHOST / PGPASSWORD, with the reference's fallbacks.

    Returns (jdbc_url, connection_properties).
    """
    host = env.get("PGHOST", "localhost")
    port = env.get("PGPORT", "15432")
    dbname = env.get("PGDATABASE", "conflate")
    props = {"user": env.get("PGUSER", "postgres")}
    if env.get("PGPASSWORD"):
        props["password"] = env["PGPASSWORD"]
    return f"jdbc:postgresql://{host}:{port}/{dbname}", props


class JdbcCatalog:
    """Live-database table source — the reference's primary mode
    (``changegen/__main__.py:165-169``; SQL pushed down at
    ``changegen/db.py:148-180``).

    Wraps discovery-by-suffix (S2) and partitioned table reads (S1) behind
    the same discover/load surface the CLI uses for parquet directories.
    Every table read probes min/max of the partition column with a 1-row
    pushdown query, then opens ``num_partitions`` real JDBC connections —
    never one connection dragging the whole table.
    """

    def __init__(
        self,
        spark: SparkSession,
        url: str,
        schema: str | None = None,
        driver: str | None = None,
        partition_column: str = "id",
        num_partitions: int = 32,
        properties: dict[str, str] | None = None,
    ) -> None:
        self.spark = spark
        self.url = url
        self.schema = schema or (
            "main" if url.startswith("jdbc:duckdb") else "public"
        )
        self.partition_column = partition_column
        self.num_partitions = num_partitions
        self.properties = dict(properties or {})
        driver = driver or default_driver_for_url(url)
        if driver and "driver" not in self.properties:
            self.properties["driver"] = driver

    def _query(self, sql: str) -> DataFrame:
        reader = (
            self.spark.read.format("jdbc")
            .option("url", self.url)
            .option("dbtable", f"({sql}) AS t")
        )
        for k, v in self.properties.items():
            reader = reader.option(k, v)
        return reader.load()

    def discover(self, suffixes: list[str]) -> list[str]:
        """Suffix discovery via information_schema, sorted per suffix to
        match the parquet directory's glob-sorted order."""
        names: list[str] = []
        for suffix in suffixes:
            found = sorted(
                r[0]
                for r in self._query(
                    discovery_query(suffix, schema=self.schema)
                ).collect()
            )
            for name in found:
                if name not in names:
                    names.append(name)
        return names

    def columns(self, table: str) -> list[str]:
        return self._query(f"SELECT * FROM {table} LIMIT 0").columns

    def load(self, table: str) -> DataFrame:
        """Partitioned read of one table; falls back to a single-connection
        read only when the partition column is absent or all-NULL."""
        pc = self.partition_column if self.partition_column in self.columns(table) else None
        lo = hi = None
        if pc is not None:
            row = self._query(
                f"SELECT min({pc}) AS lo, max({pc}) AS hi FROM {table}"
            ).collect()[0]
            lo, hi = row["lo"], row["hi"]
            if lo is None:
                pc = None
        return jdbc_table_reader(
            self.spark,
            self.url,
            table,
            partition_column=pc,
            lower_bound=int(lo) if lo is not None else None,
            upper_bound=int(hi) + 1 if hi is not None else None,
            num_partitions=self.num_partitions,
            geometry_column=None,
            properties=self.properties,
        ).load()
