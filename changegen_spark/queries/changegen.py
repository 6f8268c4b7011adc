"""Changegen-parity end-to-end queries for the driver contract.

The geo fixtures are deterministic and self-contained (FIXTURES.md §8 —
cardinalities fixed by construction), so the full pipeline's structural
output is a constant table the oracle can state literally: the golden-count
contract (BASELINE.md) expressed as a VALUES oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from changegen_spark.operators.fence import fence

_ID_OFFSET = 20_000
_CACHE: dict[int, DataFrame] = {}


def _changeset(spark: SparkSession):
    key = id(spark)
    if key not in _CACHE:
        from changegen_spark.pipeline import generate_changes
        from changegen_spark.sources.osm import fixture_tables

        _CACHE[key] = generate_changes(
            spark, fixture_tables(spark), id_offset=_ID_OFFSET
        ).transform(fence, "_changeset cache")
    return _CACHE[key]


def q_changegen_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden element counts of the full pipeline run (create/modify/delete
    × node/way/relation) — the e2e structural contract."""
    return (
        _changeset(spark)
        .groupBy("change_type", "kind")
        .agg(F.count("*").alias("n"))
        .orderBy("change_type", "kind")
    )


Q_CHANGEGEN_COUNTS_SQL = """
SELECT * FROM (VALUES
  ('create', 'node', CAST(105 AS BIGINT)),
  ('create', 'relation', CAST(1 AS BIGINT)),
  ('create', 'way', CAST(8 AS BIGINT)),
  ('delete', 'way', CAST(2 AS BIGINT)),
  ('modify', 'way', CAST(6 AS BIGINT))
) AS t(change_type, kind, n)
ORDER BY change_type, kind
"""


def q_changegen_modified_ways(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structural signature of the modify path: per modified way, node-list
    length and junction count (4 junctions woven into each of the 6
    intersected ways, 2 by vertex replacement + 2 by insertion → 13 nds)."""
    cset = _changeset(spark)
    mods = cset.filter((F.col("kind") == "way") & (F.col("change_type") == "modify"))
    return mods.select(
        F.col("id").alias("osm_id"),
        F.col("version").cast("int").alias("version"),
        F.size("nds").alias("n_nds"),
        F.size(F.filter(F.col("nds"), lambda n: n > _ID_OFFSET)).alias("n_junctions"),
    ).orderBy("osm_id")


Q_CHANGEGEN_MODS_SQL = """
SELECT * FROM (VALUES
  (CAST(100 AS BIGINT), 2, 13, 4),
  (CAST(101 AS BIGINT), 2, 13, 4),
  (CAST(102 AS BIGINT), 2, 13, 4),
  (CAST(103 AS BIGINT), 2, 13, 4),
  (CAST(104 AS BIGINT), 2, 13, 4),
  (CAST(105 AS BIGINT), 2, 13, 4)
) AS t(osm_id, version, n_nds, n_junctions)
ORDER BY osm_id
"""


def q_changegen_deletions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standalone deletion flow with node expansion (C5 + A7)."""
    from changegen_spark.pipeline import generate_deletions
    from changegen_spark.sources.osm import fixture_tables

    out = generate_deletions(spark, fixture_tables(spark), skip_nodes=False)
    return (
        out.groupBy("change_type", "kind")
        .agg(F.count("*").alias("n"), F.min("version").alias("version"))
        .orderBy("change_type", "kind")
    )


Q_CHANGEGEN_DELETIONS_SQL = """
SELECT * FROM (VALUES
  ('delete', 'node', CAST(22 AS BIGINT), 99),
  ('delete', 'way', CAST(2 AS BIGINT), 99)
) AS t(change_type, kind, n, version)
ORDER BY change_type, kind
"""


def q_changegen_modify_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 modify-meta flow: tags replaced (hstore merged under column
    precedence), node lists reused from the extract."""
    from changegen_spark.pipeline import generate_modify_meta
    from changegen_spark.sources.osm import fixture_tables

    out = generate_modify_meta(spark, fixture_tables(spark))
    return out.select(
        F.col("id").alias("osm_id"),
        F.col("version").cast("int").alias("version"),
        F.size("nds").alias("n_nds"),
        F.col("tags").getItem("surface").alias("surface"),
        F.col("tags").getItem("highway").alias("highway"),
        F.col("tags").getItem("name").alias("name"),
    ).orderBy("osm_id")


Q_CHANGEGEN_META_SQL = """
SELECT * FROM (VALUES
  (CAST(200 AS BIGINT), 2, 11, 'gravel', 'footway', 'mod-0'),
  (CAST(201 AS BIGINT), 2, 11, 'gravel', 'footway', 'mod-1'),
  (CAST(202 AS BIGINT), 2, 11, 'gravel', 'footway', 'mod-2'),
  (CAST(203 AS BIGINT), 2, 11, 'gravel', 'footway', 'mod-3'),
  (CAST(204 AS BIGINT), 2, 11, 'gravel', 'footway', 'mod-4')
) AS t(osm_id, version, n_nds, surface, highway, name)
ORDER BY osm_id
"""


def q_changegen_apply_cycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete CDC loop: generate → apply → audit.  Emits the
    post-apply snapshot cardinalities and the referential-integrity count
    (0 = every way ref resolves)."""
    from changegen_spark.operators.apply import (
        apply_changeset,
        referential_integrity_report,
        relation_integrity_report,
    )
    from changegen_spark.sources.osm import fixture_tables

    tables = fixture_tables(spark)
    cset = _changeset(spark)
    nodes2, ways2, rels2 = apply_changeset(
        tables["pbf_nodes"], tables["pbf_ways"], cset,
        pbf_relations=tables["pbf_relations"],
    )
    # six audit counts read the applied snapshot — fence it once instead
    # of re-running the apply plan per count
    nodes2 = nodes2.transform(fence, "q_changegen_apply_cycle nodes2", eager=False)
    ways2 = ways2.transform(fence, "q_changegen_apply_cycle ways2", eager=False)
    rels2 = rels2.transform(fence, "q_changegen_apply_cycle rels2", eager=False)
    dangling = referential_integrity_report(nodes2, ways2).count()
    rel_dangling = relation_integrity_report(nodes2, ways2, rels2).count()
    junction_refs = (
        ways2.select(F.explode("nds").alias("ref"))
        .filter(F.col("ref") > _ID_OFFSET)
        .count()
    )
    rows = [
        ("nodes_after", nodes2.count()),
        ("ways_after", ways2.count()),
        ("relations_after", rels2.count()),
        ("dangling_refs", dangling),
        ("rel_dangling_members", rel_dangling),
        ("new_id_refs_in_ways", junction_refs),
    ]
    return spark.createDataFrame(rows, "metric string, value long").orderBy("metric")


# Post-apply goldens: 146 pbf nodes + 105 created = 251; 13 pbf ways + 8
# created − 2 deleted = 19; refs > id_offset in the applied ways table:
# 4 line ways × 16 members (13 vertices + 3 inserted junctions) = 64,
# 4 polygon rings × 5 refs (4 corners + closing repeat) = 20, plus the
# 4 junctions woven into each of the 6 modified ways = 24 → 108.
Q_CHANGEGEN_APPLY_SQL = """
SELECT * FROM (VALUES
  ('dangling_refs', CAST(0 AS BIGINT)),
  ('new_id_refs_in_ways', CAST(108 AS BIGINT)),
  ('nodes_after', CAST(251 AS BIGINT)),
  ('rel_dangling_members', CAST(0 AS BIGINT)),
  ('relations_after', CAST(1 AS BIGINT)),
  ('ways_after', CAST(19 AS BIGINT))
) AS t(metric, value)
ORDER BY metric
"""


QUERIES = {
    "q_changegen_apply_cycle": q_changegen_apply_cycle,
    "q_changegen_counts": q_changegen_counts,
    "q_changegen_modified_ways": q_changegen_modified_ways,
    "q_changegen_deletions": q_changegen_deletions,
    "q_changegen_modify_meta": q_changegen_modify_meta,
}

ORACLES = {
    "q_changegen_apply_cycle": Q_CHANGEGEN_APPLY_SQL,
    "q_changegen_counts": Q_CHANGEGEN_COUNTS_SQL,
    "q_changegen_modified_ways": Q_CHANGEGEN_MODS_SQL,
    "q_changegen_deletions": Q_CHANGEGEN_DELETIONS_SQL,
    "q_changegen_modify_meta": Q_CHANGEGEN_META_SQL,
}
