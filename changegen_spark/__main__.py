"""CLI entry point — the ``changegen`` command surface, Spark-native.

Parity with the reference CLI (``changegen/__main__.py:71-269``). Two table
sources: parquet snapshots (SURVEY §7 canonical input) or a LIVE database via
``--jdbc URL`` (the reference's primary mode — discovery by suffix and
partitioned reads through ``sources/jdbc.py``; with neither DBDIR nor
``--jdbc``, connection parameters fall back to the standard PG* environment
variables exactly like the reference). In parquet mode the "database" is a
directory of parquet tables (one per table,
geometry as WKT strings in a ``geometry``/``geom`` column), the "extract" is
a directory with ``nodes``/``ways``/``relations`` parquet (ingested from a
``.pbf`` with ``python -m changegen_spark.sources.pbf``), or a ``.pbf`` path
passed directly as ``--osmsrc``, which is read on the fly through the
``osmpbf`` Data Source (``sources/pbf.py:read_pbf_tables``).

    python -m changegen_spark DBDIR \
        --osmsrc EXTRACT_DIR_OR_PBF (--output changes.osc | --outdir DIR) \
        [--suffix _new ...] [--existing original_ways ...] \
        [--deletions deleted_ways ...] [--modify_meta] [--hstore_tags COL] \
        [--id_offset N] [--neg_id] [--no_collisions] [--self] \
        [--max_nodes_per_way N|none] [--compress]

Reference-parity behaviors:
  * ``--outdir`` emits ONE ``.osc`` per discovered table (and per deletions
    table), named ``{table}.osc`` (``changegen/__main__.py:232-263``);
    ``--output`` is the merged single-file mode.
  * ``--modify_meta`` is a flag applying to every ``--suffix`` table and is
    incompatible with ``--existing`` (``changegen/__main__.py:229-230``).
  * ID collisions with the extract warn by default and are fatal only under
    ``--no_collisions`` (``changegen/__main__.py:197-208``).
  * ``--hstore_tags`` names an hstore column merged into tags for BOTH new
    and intersection tables (``changegen/generator.py:190-203``).

Tables are discovered by name suffix, like the reference's
``information_schema … LIKE '%suffix'`` query (``__main__.py:56-68``), and
dispatched by geometry type (Point → node path, LineString → way path,
Polygon → polygon path — ``generator.py:603-756``).
"""

from __future__ import annotations

import argparse
import concurrent.futures
import glob
import os
import sys
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _parse_geo_columns(df: DataFrame) -> DataFrame:
    """Parse any WKT geometry column into the engine's geometry struct."""
    from changegen_spark.geo.geometry import parse_wkt

    for cand in ("geometry", "geom"):
        if cand in df.columns and dict(df.dtypes)[cand] == "string":
            df = df.withColumn(cand, parse_wkt(F.col(cand)))
    return df


def _load_geo_table(spark: SparkSession, path: str) -> DataFrame:
    """Read a parquet table, parsing any WKT geometry column into the
    engine's geometry struct."""
    return _parse_geo_columns(spark.read.parquet(path))


class ParquetSource:
    """Table source backed by a directory of parquet files (the engine's
    canonical snapshot input)."""

    def __init__(self, spark: SparkSession, dbdir: str) -> None:
        self.spark = spark
        self.dbdir = dbdir

    def discover(self, suffixes: list[str]) -> list[str]:
        return discover_new_tables(self.dbdir, suffixes)

    def load_geo(self, name: str) -> DataFrame:
        return _load_geo_table(self.spark, os.path.join(self.dbdir, f"{name}.parquet"))

    def load_plain(self, name: str) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.dbdir, f"{name}.parquet"))

    def describe(self) -> str:
        return self.dbdir


class JdbcSource:
    """Table source backed by a live database over JDBC — the reference's
    primary mode (``changegen/__main__.py:165-169``, ``db.py:148-180``).
    Discovery and partitioned reads via ``sources.jdbc.JdbcCatalog``."""

    def __init__(self, catalog) -> None:
        self.catalog = catalog

    def discover(self, suffixes: list[str]) -> list[str]:
        return self.catalog.discover(suffixes)

    def load_geo(self, name: str) -> DataFrame:
        return _parse_geo_columns(self.catalog.load(name))

    def load_plain(self, name: str) -> DataFrame:
        return self.catalog.load(name)

    def describe(self) -> str:
        return self.catalog.url


def _split_by_gtype(df: DataFrame, geom_col: str) -> dict[str, DataFrame]:
    """P4 geometry-type dispatch; Multi*/unknown rejected like the reference
    (generator.py:603-606)."""
    gtypes = [
        r["g"]
        for r in df.select(F.col(f"{geom_col}.gtype").alias("g")).distinct().collect()
    ]
    bad = [g for g in gtypes if g not in ("Point", "LineString", "Polygon")]
    if bad:
        raise ValueError(f"unsupported geometry types {bad}: Multi* geometries are not supported")
    return {
        g: df.filter(F.col(f"{geom_col}.gtype") == g)
        for g in ("Point", "LineString", "Polygon")
        if g in gtypes
    }


def _map_reads(read, items: list):
    """``[read(x) for x in items]`` with the calls overlapped.  A parquet
    read starts its own schema-inference job, so reads of independent
    tables run side by side instead of one after another; results keep
    the order of ``items``."""
    if len(items) < 2:
        return [read(x) for x in items]
    with concurrent.futures.ThreadPoolExecutor(max_workers=min(len(items), 4)) as pool:
        return list(pool.map(read, items))


def _union_by_name(frames: list[DataFrame]) -> DataFrame:
    """Union tables by column name; a column missing from one is null."""
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), frames)


def discover_new_tables(dbdir: str, suffixes: list[str]) -> list[str]:
    """Suffix discovery across one or more suffixes (reference allows
    ``--suffix`` multiple times)."""
    names: list[str] = []
    for suffix in suffixes:
        for path in sorted(glob.glob(os.path.join(dbdir, f"*{suffix}.parquet"))):
            name = os.path.basename(path)[: -len(".parquet")]
            if name not in names:
                names.append(name)
    return names


def load_new_parts(
    spark: SparkSession, source, table_names: list[str]
) -> dict[str, DataFrame]:
    """Load + geometry-dispatch the named feature tables into the pipeline's
    ``new_points`` / ``new_ways`` / ``new_polygons`` parts.

    ``source`` is a ParquetSource or JdbcSource."""
    from changegen_spark.operators.keys import feature_key

    def read(name: str) -> tuple[str, dict[str, DataFrame]]:
        df = source.load_geo(name)
        geom_col = "geometry" if "geometry" in df.columns else "geom"
        return geom_col, _split_by_gtype(df, geom_col)

    points, lines, polys = [], [], []
    for geom_col, split in _map_reads(read, table_names):
        for gtype, part in split.items():
            # stable row-unique feature key (see operators/keys.py)
            keyed = feature_key(part, geom_col)
            if gtype == "Point":
                if "geom" not in keyed.columns:
                    keyed = keyed.withColumnRenamed(geom_col, "geom")
                # no id synthesis: the pipeline's point path falls back to a
                # row-unique feature key when id is absent or NULL (a crc32
                # here would risk 32-bit collisions at scale)
                points.append(keyed)
            elif gtype == "LineString":
                if "geometry" not in keyed.columns:
                    keyed = keyed.withColumnRenamed(geom_col, "geometry")
                lines.append(keyed)
            else:
                if "geometry" not in keyed.columns:
                    keyed = keyed.withColumnRenamed(geom_col, "geometry")
                polys.append(keyed.withColumnRenamed("__fkey", "name") if "name" not in keyed.columns else keyed)

    parts = {"new_points": points, "new_ways": lines, "new_polygons": polys}
    return {name: _union_by_name(frames) for name, frames in parts.items() if frames}


def load_extract(spark: SparkSession, osmsrc: str) -> dict[str, DataFrame]:
    """Extract tables from an ingested dir — or directly from a ``.pbf``."""
    tables: dict[str, DataFrame] = {}
    if osmsrc.endswith((".pbf", ".osm.pbf")) and os.path.isfile(osmsrc):
        from changegen_spark.sources.pbf import read_pbf_tables

        tables.update(read_pbf_tables(spark, osmsrc))
    else:
        paths = {
            f"pbf_{name}": os.path.join(osmsrc, f"{name}.parquet")
            for name in ("nodes", "ways", "relations")
        }
        paths = {key: path for key, path in paths.items() if os.path.exists(path)}
        tables.update(zip(paths, _map_reads(spark.read.parquet, list(paths.values()))))
    if "pbf_ways" not in tables:
        raise SystemExit(f"extract {osmsrc} has no ways (need ways.parquet or a .pbf)")
    return tables


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(
        prog="changegen_spark",
        description="Generate an OSMChange file from parquet feature tables + an OSM extract.",
    )
    p.add_argument(
        "dbdir", nargs="?", default=None,
        help="directory of parquet tables (omit when using --jdbc / PG* env vars)",
    )
    p.add_argument("--osmsrc", required=True, help="extract: ingested dir (nodes/ways/relations parquet) or a .pbf file")
    p.add_argument(
        "--jdbc", default=None,
        help="JDBC URL of a live database (reference primary mode, "
        "changegen/__main__.py:165-169); tables are discovered by suffix and "
        "read with partitioned connections. With neither DBDIR nor --jdbc, "
        "a PostgreSQL URL is built from the standard PG* environment "
        "variables like the reference.",
    )
    p.add_argument("--jdbc-driver", default=None, help="JDBC driver class (default inferred from URL)")
    p.add_argument("--jdbc-schema", default=None, help="schema for table discovery (default: public, or main for DuckDB)")
    p.add_argument("--jdbc-partition-column", default="id", help="numeric column used to parallelize JDBC reads")
    p.add_argument("--jdbc-partitions", type=int, default=32, help="number of parallel JDBC read partitions")
    p.add_argument("--jdbc-jar", default=None, help="path to the JDBC driver jar (added to the Spark classpath at launch)")
    p.add_argument("-d", "--debug", action="store_true", help="enable verbose logging (reference -d)")
    p.add_argument("--output", default=None, help="merged single-file output .osc path")
    p.add_argument("--outdir", "-o", default=None, help="directory for per-table {table}.osc outputs (reference mode)")
    p.add_argument("--suffix", "-s", action="append", default=None, help="new-table name suffix (repeatable; default _new)")
    p.add_argument("--existing", "-e", action="append", default=None, help="existing-ways table name (repeatable)")
    p.add_argument("--deletions", action="append", default=None, help="deletion id table name (repeatable)")
    p.add_argument(
        "--modify_meta", "-m", action="store_true",
        help="treat --suffix tables as tags-only <modify> ways instead of creates (reference -m)",
    )
    p.add_argument("--hstore_tags", default=None, help="hstore column merged into tags (new + intersection tables)")
    p.add_argument("--id_offset", type=int, default=0)
    p.add_argument("--neg_id", action="store_true")
    p.add_argument(
        "--no_collisions", action="store_true",
        help="abort (instead of warn) when --id_offset collides with extract ids",
    )
    p.add_argument("--self", dest="self_intersections", action="store_true")
    p.add_argument("--max_nodes_per_way", default="2000", help="int or 'none' for unlimited")
    p.add_argument("--compress", action="store_true")
    p.add_argument(
        "--reference-bytes",
        action="store_true",
        help="byte-compatible output with the reference's actual behavior: "
        "re-emit osm_id as a tag on modified ways and duplicate each "
        "split-chunk's first node instead of sharing the boundary node",
    )
    args = p.parse_args(argv)

    if (args.output is None) == (args.outdir is None):
        raise SystemExit("exactly one of --output or --outdir is required")
    if args.modify_meta and args.existing:
        # changegen/__main__.py:229-230
        raise RuntimeError("--modify_meta cannot be used with --existing.")
    node_limit = (
        2**31 - 1
        if str(args.max_nodes_per_way).lower() == "none"
        else int(args.max_nodes_per_way)
    )
    suffixes = args.suffix or ["_new"]

    from changegen_spark.operators.ids import check_id_collision
    from changegen_spark.pipeline import (
        generate_changes,
        generate_deletions,
        generate_modify_meta,
    )
    from changegen_spark.session import get_spark
    from changegen_spark.sinks.oscxml import write_osmchange
    from changegen_spark.sources.osm import max_pbf_ids

    spark = get_spark("changegen_spark-cli", jars=args.jdbc_jar)
    if args.debug:
        # reference -d/--debug (changegen/__main__.py:72): verbose logging
        import logging

        logging.basicConfig(level=logging.DEBUG)
        spark.sparkContext.setLogLevel("INFO")

    if args.jdbc is not None or args.dbdir is None:
        from changegen_spark.sources.jdbc import JdbcCatalog, postgres_url_from_env

        url, props = args.jdbc, {}
        if url is None:
            # reference parity: fall back to the standard PG* env vars
            url, props = postgres_url_from_env(dict(os.environ))
        source = JdbcSource(
            JdbcCatalog(
                spark,
                url,
                schema=args.jdbc_schema,
                driver=args.jdbc_driver,
                partition_column=args.jdbc_partition_column,
                num_partitions=args.jdbc_partitions,
                properties=props,
            )
        )
    else:
        source = ParquetSource(spark, args.dbdir)

    extract = load_extract(spark, args.osmsrc)

    names = source.discover(suffixes)
    if not names and not args.deletions:
        raise SystemExit(f"nothing to do: no tables matching *{suffixes} in {source.describe()} and no --deletions")

    # The max-id scan's jobs run on a pool thread while the driver loads
    # the tables; the collision guard reads its result before any output
    # is written.
    merged: dict[str, DataFrame] = {}
    with concurrent.futures.ThreadPoolExecutor(max_workers=1) as pool:
        fut_maxids = pool.submit(max_pbf_ids, extract)
        ex_tables: dict[str, DataFrame] = {}
        if args.existing:
            ex_tables["original_ways"] = _union_by_name(_map_reads(source.load_geo, args.existing))
        if args.output:
            merged = {**load_new_parts(spark, source, names), **ex_tables, **extract}
            if args.deletions:
                merged["deleted_ways"] = _union_by_name(
                    _map_reads(source.load_plain, args.deletions)
                )
        maxids = fut_maxids.result()

    # C6 collision guard, reference semantics (__main__.py:197-208): warn by
    # default, fatal only under --no_collisions.
    existing_max = max(maxids.values()) if maxids else 0
    try:
        check_id_collision(existing_max, args.id_offset, args.neg_id)
    except ValueError:
        msg = (
            f"Chosen ID offset {args.id_offset} may cause collisions with "
            f"existing OSM IDs (max ids: {maxids})."
        )
        if args.no_collisions:
            print(f"FATAL: {msg}", file=sys.stderr)
            return -1
        print(f"WARNING: {msg}", file=sys.stderr)

    def run_one(tables: dict[str, DataFrame]) -> DataFrame | None:
        """Generate the element frame for one table-set (creates or
        modify-meta), mirroring the reference's per-table generate_changes."""
        if args.modify_meta:
            if "new_ways" not in tables:
                return None
            tables = dict(tables)
            tables["mod_ways"] = tables["new_ways"]
            return generate_modify_meta(
                spark, tables, hstore_col=args.hstore_tags
            )
        if not any(k in tables for k in ("new_ways", "new_points", "new_polygons", "deleted_ways")):
            return None
        return generate_changes(
            spark,
            tables,
            id_offset=args.id_offset,
            negative_ids=args.neg_id,
            self_intersections=args.self_intersections,
            node_limit=node_limit,
            key_col="__fkey",
            hstore_col=args.hstore_tags,
            reference_bytes=args.reference_bytes,
        )

    wrote: list[str] = []
    if args.outdir:
        # reference mode: one {table}.osc per new-feature table
        # (changegen/__main__.py:232-251) + one per deletions table (:253-263)
        os.makedirs(args.outdir, exist_ok=True)
        for name in names:
            tables = {**load_new_parts(spark, source, [name]), **ex_tables, **extract}
            elements = run_one(tables)
            if elements is None:
                continue
            out = os.path.join(args.outdir, f"{name}.osc")
            counts = write_osmchange(elements, out, compress=args.compress)
            print(f"wrote {out}: {counts}", file=sys.stderr)
            wrote.append(out)
        for dl in args.deletions or []:
            tables = {
                "deleted_ways": source.load_plain(dl),
                **extract,
            }
            elements = generate_deletions(spark, tables)
            out = os.path.join(args.outdir, f"{dl}.osc")
            counts = write_osmchange(elements, out, compress=args.compress)
            print(f"wrote {out}: {counts}", file=sys.stderr)
            wrote.append(out)
        if not wrote:
            raise SystemExit("nothing to do: no new tables, deletions, or modify_meta")
        return 0

    # merged single-file mode
    elements = run_one(merged)
    if elements is None:
        raise SystemExit("nothing to do: no new tables, deletions, or modify_meta")

    counts = write_osmchange(elements, args.output, compress=args.compress)
    print(f"wrote {args.output}: {counts}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
