"""Real-data parity contract: the reference's own golden counts, reproduced
end-to-end from its own fixture data.

The inputs are the reference repo's shipped test fixture — the conflate
database as a pg_dump custom archive (read natively by
``sources/pgdump.py``) and the OSM extract as a ``.pbf`` (read natively,
one partition per blob, by the ``osmpbf`` Data Source in
``sources/pbf.py``). The five pinned values are the reference's
hand-verified goldens (``test/test_generator.py:101-230``):
10 create ways + 4 modify ways (new_ways × original_ways, self=True),
213 create nodes (new_points), 22 modify ways (mod_ways, modify_meta),
3 modify nodes (modified_points, modify_meta).

The oracle is a VALUES table of those goldens — this is deliberately a
*pinned* oracle, not a recomputation: the claim under test is agreement
with the reference's published expected output on its real data.
"""

from __future__ import annotations

from changegen_spark.sources.refdata import reference_golden_counts


def q_pbf_extract_stats(spark, sf_dir):
    """Native ``.pbf`` ingestion (S7/S8) exercised on the reference's real
    extract: ``read_pbf_tables`` (the CLI's ``.pbf`` path) → per-kind
    counts and max ids.  The pinned values are independently verifiable
    with any OSM tool (osmium fileinfo) over the shipped fixture file."""
    from pyspark.sql import functions as F

    from changegen_spark.sources.pbf import read_pbf_tables
    from changegen_spark.sources.refdata import REF_PBF

    t = read_pbf_tables(spark, REF_PBF)
    parts = [
        df.agg(
            F.count("*").alias("n"), F.max("id").alias("max_id")
        ).select(F.lit(kind).alias("kind"), "n", "max_id")
        for kind, df in (
            ("node", t["pbf_nodes"]),
            ("way", t["pbf_ways"]),
            ("relation", t["pbf_relations"]),
        )
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("kind")


def q_pbf_dsv2_stats(spark, sf_dir):
    """S7b driver row (r8 verdict #7): the SAME per-kind counts + max ids
    as q_pbf_extract_stats, but read through the registered ``osmpbf``
    format's PRUNED scan: the query needs (kind, id) only, so
    ``.option("columns", "kind,id")`` declares the 2-column schema and
    the decode skips the tag stringtable, way refs, and relation members
    entirely (sources/pbf.py).  Oracle: the identical golden VALUES
    table; a divergence between the full and the pruned decode shows up
    as one row going red while its twin stays green."""
    from pyspark.sql import functions as F

    from changegen_spark.sources.pbf import register
    from changegen_spark.sources.refdata import REF_PBF

    register(spark)
    df = (
        spark.read.format("osmpbf")
        .option("columns", "kind,id")
        .load(REF_PBF)
    )
    return (
        df.groupBy("kind")
        .agg(F.count("*").alias("n"), F.max("id").alias("max_id"))
        .orderBy("kind")
    )


Q_PBF_STATS_SQL = """
SELECT * FROM (VALUES
    ('node', CAST(81154 AS BIGINT), CAST(9127760345 AS BIGINT)),
    ('relation', CAST(30 AS BIGINT), CAST(13091234 AS BIGINT)),
    ('way', CAST(2953 AS BIGINT), CAST(973217844 AS BIGINT))
) AS t(kind, n, max_id)
ORDER BY kind
"""

QUERIES = {
    "q_reference_goldens": lambda spark, sf_dir: reference_golden_counts(spark),
    "q_pbf_extract_stats": q_pbf_extract_stats,
    "q_pbf_dsv2_stats": q_pbf_dsv2_stats,
}

ORACLES = {
    "q_pbf_extract_stats": Q_PBF_STATS_SQL,
    "q_pbf_dsv2_stats": Q_PBF_STATS_SQL,
    "q_reference_goldens": """
        SELECT * FROM (
            VALUES
                ('meta_modify', CAST(22 AS BIGINT)),
                ('points_create', CAST(213 AS BIGINT)),
                ('points_modify', CAST(3 AS BIGINT)),
                ('ways_create', CAST(10 AS BIGINT)),
                ('ways_modify', CAST(4 AS BIGINT))
        ) AS t(flow, value)
        ORDER BY flow
    """,
}
