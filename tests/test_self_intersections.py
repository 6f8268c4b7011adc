"""J3 --self flow (changegen/__main__.py:131-139): junctions among the new
features themselves, shared between both crossing new ways."""

import pytest
from pyspark.sql import functions as F


def test_self_changefile_bytes(spark, tables_with_diagonal, tmp_path):
    """Byte pin of the --self changefile on the diagonal fixture: its
    self junctions, shared nodes and ids must not move."""
    import hashlib

    from changegen_spark.pipeline import generate_changes
    from changegen_spark.sinks.oscxml import write_osmchange

    out = str(tmp_path / "self.osc")
    write_osmchange(
        generate_changes(
            spark, tables_with_diagonal, id_offset=20_000, self_intersections=True
        ),
        out,
    )
    with open(out, "rb") as f:
        digest = hashlib.sha256(f.read()).hexdigest()
    assert digest == "0ffed73416a6808a8cc77d5d231f59e16e7b5f7001ae1b690c6c32b63261ba23"


@pytest.mark.slow
def test_self_flag_adds_shared_junctions(spark, tables_with_diagonal):
    from changegen_spark.pipeline import generate_changes

    base = generate_changes(
        spark, tables_with_diagonal, id_offset=20_000, self_intersections=False
    )
    with_self = generate_changes(
        spark, tables_with_diagonal, id_offset=20_000, self_intersections=True
    )

    def create_nodes(cset):
        return cset.filter(
            (F.col("kind") == "node") & (F.col("change_type") == "create")
        ).count()

    # diagonal × 4 verticals = +4 junction nodes, but the crossing at
    # (X0+3500, Y0+1500) falls exactly on vertex k=4 of vertical new-1 →
    # vertex reuse (J4) absorbs one former vertex node: net +3
    delta = create_nodes(with_self) - create_nodes(base)
    assert delta == 3

    # each self junction is SHARED between ≥2 CREATED ways (ids differ
    # between the two runs, so compare the sharing structure, not id values)
    def shared_create_refs(cset):
        ways = cset.filter(
            (F.col("kind") == "way") & (F.col("change_type") == "create")
        ).select("id", F.explode("nds").alias("ref"))
        return (
            ways.groupBy("ref")
            .agg(F.countDistinct("id").alias("n"))
            .filter(F.col("n") >= 2)
            .count()
        )

    assert shared_create_refs(base) == 0  # parallel new ways share nothing
    assert shared_create_refs(with_self) == 4  # the 4 diagonal crossings

    # modify-way set unchanged: self junctions touch no existing way
    mods = lambda c: c.filter(  # noqa: E731
        (F.col("kind") == "way") & (F.col("change_type") == "modify")
    ).count()
    assert mods(with_self) == mods(base)


@pytest.mark.slow
def test_polygon_existing_not_modified(spark):
    """Reference parity (generator.py:836-847): junctions against a polygon
    'existing' feature are synthesized, but the polygon is never rebuilt —
    only LineString existing ways enter the modify path."""
    from changegen_spark.pipeline import generate_changes
    from changegen_spark.sources.osm import _X0, _Y0, _geom, fixture_tables

    tables = dict(fixture_tables(spark))
    # a polygon ring crossing vertical new way new-0 (x = X0+2000)
    ring = [
        (_X0 + 1800.0, _Y0 + 80.0),
        (_X0 + 2200.0, _Y0 + 80.0),
        (_X0 + 2200.0, _Y0 + 160.0),
        (_X0 + 1800.0, _Y0 + 160.0),
        (_X0 + 1800.0, _Y0 + 80.0),
    ]
    poly = spark.createDataFrame(
        [(99, 999, "meadow", "poly-exist", _geom("Polygon", [ring]))],
        tables["original_ways"].schema,
    )
    tables["original_ways"] = tables["original_ways"].unionByName(poly)

    from pyspark.sql import functions as F

    cset = generate_changes(spark, tables, id_offset=20_000)
    mods = {r["id"] for r in cset.filter("kind='way' and change_type='modify'").collect()}
    assert 999 not in mods  # polygon excluded from the rebuild
    assert len(mods) == 6  # the six line ways unchanged
    # but its junction with new-0 exists as a created node — ONE per
    # (new, existing) pair, matching the reference's single ST_ClosestPoint
    # even though the ring crosses the line twice (db.py:126-138)
    n_nodes = cset.filter("kind='node' and change_type='create'").count()
    assert n_nodes == 105 + 1
