"""Full CDC cycle: snapshot → generate → write → read → apply → snapshot',
with referential integrity verified on the result."""

import pytest

import os

from pyspark.sql import functions as F


@pytest.mark.slow
def test_full_cdc_cycle(spark, tmp_path):
    from changegen_spark.operators.apply import (
        apply_changeset,
        referential_integrity_report,
    )
    from changegen_spark.pipeline import generate_changes
    from changegen_spark.sinks.oscxml import write_osmchange
    from changegen_spark.sources.osc import read_osmchange
    from changegen_spark.sources.osm import fixture_tables

    tables = fixture_tables(spark)
    cset = generate_changes(spark, tables, id_offset=20_000)
    path = os.path.join(tmp_path, "cycle.osc")
    write_osmchange(cset, path)
    applied = read_osmchange(spark, path)

    nodes2, ways2 = apply_changeset(
        tables["pbf_nodes"], tables["pbf_ways"], applied
    )
    nodes2 = nodes2.cache()
    ways2 = ways2.cache()

    n_nodes0 = tables["pbf_nodes"].count()
    n_ways0 = tables["pbf_ways"].count()
    # nodes: +105 created, none deleted
    assert nodes2.count() == n_nodes0 + 105
    # ways: +8 created, −2 deleted, 6 replaced in place
    assert ways2.count() == n_ways0 + 8 - 2
    # deleted ways gone
    deleted = {r["osm_id"] for r in tables["deleted_ways"].collect()}
    assert ways2.filter(F.col("id").isin(list(deleted))).count() == 0
    # modified ways now reference junction nodes (> id_offset)
    mod_ids = [
        r["id"] for r in cset.filter("kind='way' and change_type='modify'").collect()
    ]
    refs = (
        ways2.filter(F.col("id").isin(mod_ids))
        .select(F.explode("nds").alias("ref"))
        .filter(F.col("ref") > 20_000)
        .count()
    )
    assert refs == 6 * 4  # 4 junctions woven into each of 6 ways

    # the applied snapshot is referentially closed (deletions in the fixture
    # skip node expansion, so no dangling refs are introduced)
    dangling = referential_integrity_report(nodes2, ways2)
    assert dangling.count() == 0


def _rel_tables(spark):
    from changegen_spark.sources.osm import PBF_RELATIONS_SCHEMA

    nodes = spark.createDataFrame(
        [(1, 0.0, 0.0, {}), (2, 0.0, 1.0, {})],
        "id long, lat double, lon double, tags map<string,string>",
    )
    ways = spark.createDataFrame(
        [(10, [1, 2], {}), (11, [2, 1], {})],
        "id long, nds array<long>, tags map<string,string>",
    )
    rels = spark.createDataFrame(
        [
            (100, [{"ref": 10, "type": "way", "role": "outer"},
                   {"ref": 11, "type": "way", "role": "inner"}], {"type": "multipolygon"}),
            (101, [{"ref": 10, "type": "way", "role": "outer"}], {"name": "keep"}),
        ],
        PBF_RELATIONS_SCHEMA,
    )
    return nodes, ways, rels


@pytest.mark.slow
def test_member_aware_prune_on_way_delete(spark):
    """Deleting a way referenced by a surviving relation: prune drops the
    member (order preserved); without prune the audit flags it."""
    from pyspark.sql import functions as F

    from changegen_spark.operators.apply import (
        apply_changeset,
        relation_integrity_report,
    )

    nodes, ways, rels = _rel_tables(spark)
    member_t = "array<struct<ref:bigint,type:string,role:string>>"
    cset = spark.createDataFrame(
        [("delete", "way", 11, 99)],
        "change_type string, kind string, id long, version int",
    ).select(
        "*",
        F.lit(None).cast("array<long>").alias("nds"),
        F.lit(None).cast(member_t).alias("members"),
        F.lit(None).cast("map<string,string>").alias("tags"),
        F.lit(None).cast("double").alias("lat"),
        F.lit(None).cast("double").alias("lon"),
    )
    n2, w2, r2 = apply_changeset(nodes, ways, cset, pbf_relations=rels)
    viol = relation_integrity_report(n2, w2, r2).collect()
    assert {(v["rel_id"], v["ref"]) for v in viol} == {(100, 11)}

    n3, w3, r3 = apply_changeset(
        nodes, ways, cset, pbf_relations=rels, prune_dangling_members=True
    )
    assert relation_integrity_report(n3, w3, r3).count() == 0
    pruned = {r["id"]: [m["ref"] for m in r["members"]] for r in r3.collect()}
    assert pruned[100] == [10]
    assert pruned[101] == [10]
