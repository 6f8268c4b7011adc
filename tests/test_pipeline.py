"""End-to-end changegen-parity tests, golden-count style (mirrors the
reference's test strategy: exact element-count assertions on the output
changefile, test/test_generator.py:94-230 — but with counts fixed by fixture
construction per FIXTURES.md §8)."""

import gzip
import hashlib
import os
import xml.etree.ElementTree as ET

import pytest
from pyspark.sql import functions as F

# Fixture-derived goldens (see changegen_spark/sources/osm.py docstring):
N_JUNCTIONS = 24          # 4 new ways × 6 original ways, all crossings distinct
N_VERTEX_NODES = 40       # 4×13 vertices − 12 junction-coincident ones
N_POINT_NODES = 25
N_POLY_NODES = 16         # 4 rings × 4 corners
GOLDEN_CREATE_NODES = N_JUNCTIONS + N_VERTEX_NODES + N_POINT_NODES + N_POLY_NODES
GOLDEN_CREATE_WAYS = 4 + 4  # new_ways + polygon rings
GOLDEN_CREATE_RELATIONS = 1
GOLDEN_MODIFY_WAYS = 6
GOLDEN_DELETE_WAYS = 2
ID_OFFSET = 20_000
# sha256 of the fixture run's whole .osc: pins ids, element order, tags,
# node lists and polygons byte for byte
GOLDEN_OSC_SHA256 = "5520f3cdfb731b41215a88540af6803b7ce34c90e7dc4a803405062d39a2d4e6"


@pytest.fixture(scope="module")
def tables(spark):
    from changegen_spark.sources.osm import fixture_tables

    return fixture_tables(spark)


@pytest.fixture(scope="module")
def changeset(spark, tables):
    from changegen_spark.pipeline import generate_changes

    return generate_changes(spark, tables, id_offset=ID_OFFSET).cache()


def _counts(df):
    return {
        (r["change_type"], r["kind"]): r["n"]
        for r in df.groupBy("change_type", "kind").agg(F.count("*").alias("n")).collect()
    }


@pytest.mark.slow
def test_golden_counts(changeset):
    c = _counts(changeset)
    assert c[("create", "node")] == GOLDEN_CREATE_NODES
    assert c[("create", "way")] == GOLDEN_CREATE_WAYS
    assert c[("create", "relation")] == GOLDEN_CREATE_RELATIONS
    assert c[("modify", "way")] == GOLDEN_MODIFY_WAYS
    assert c[("delete", "way")] == GOLDEN_DELETE_WAYS


def test_ids_unique_dense_and_collision_free(changeset):
    new_ids = sorted(
        r["id"] for r in changeset.filter(F.col("change_type") == "create").collect()
    )
    n = len(new_ids)
    assert new_ids == list(range(ID_OFFSET + 1, ID_OFFSET + 1 + n))


@pytest.mark.slow
def test_junction_nodes_shared_between_new_and_modified_ways(changeset):
    """The topological heart of changegen: every junction node id appears in
    ≥1 created way AND ≥1 modified way (node-sharing sanity check analog,
    generator.py:870-871)."""
    ways = changeset.filter(F.col("kind") == "way").select(
        "change_type", "id", F.explode("nds").alias("ref")
    )
    created_node_ids = {
        r["id"]
        for r in changeset.filter(
            (F.col("kind") == "node") & (F.col("change_type") == "create")
        ).collect()
    }
    in_create = {
        r["ref"] for r in ways.filter(F.col("change_type") == "create").collect()
    }
    in_modify = {
        r["ref"] for r in ways.filter(F.col("change_type") == "modify").collect()
    }
    shared = in_create & in_modify
    assert len(shared) == N_JUNCTIONS
    assert shared <= created_node_ids


def test_modified_way_structure(changeset, tables):
    """Each modified way keeps its 11 PBF nodes except 2 junction-replaced
    vertices, plus 2 inserted junctions → 13 nds, order preserved."""
    pbf = {r["id"]: r["nds"] for r in tables["pbf_ways"].collect()}
    mods = changeset.filter(
        (F.col("kind") == "way") & (F.col("change_type") == "modify")
    ).collect()
    assert len(mods) == 6
    for row in mods:
        orig = pbf[row["id"]]
        nds = row["nds"]
        assert len(nds) == 13
        kept = [n for n in nds if n in set(orig)]
        assert len(kept) == 9  # 11 − 2 replaced
        # order of surviving original nodes is preserved
        assert kept == [n for n in orig if n in set(kept)]
        junctions = [n for n in nds if n not in set(orig)]
        assert len(junctions) == 4
        assert all(n > ID_OFFSET for n in junctions)


def test_new_way_references_resolve(changeset):
    """Every nd ref of a created way is a created node (self-contained
    changefile for the create block)."""
    created_nodes = {
        r["id"]
        for r in changeset.filter(
            (F.col("kind") == "node") & (F.col("change_type") == "create")
        ).collect()
    }
    refs = {
        r["ref"]
        for r in changeset.filter(
            (F.col("kind") == "way") & (F.col("change_type") == "create")
        )
        .select(F.explode("nds").alias("ref"))
        .collect()
    }
    assert refs <= created_nodes


def test_way_and_relation_refs_resolve(changeset, tables):
    """No created or modified way has a null nd ref and no relation a null
    member ref; relation members are created ways; and the changeset
    applied to the fixture extract leaves no way node ref dangling."""
    from changegen_spark.operators.apply import (
        apply_changeset,
        referential_integrity_report,
    )

    nd_refs = [
        r["ref"]
        for r in changeset.filter(
            (F.col("kind") == "way") & F.col("change_type").isin("create", "modify")
        )
        .select(F.explode("nds").alias("ref"))
        .collect()
    ]
    assert nd_refs and None not in nd_refs
    member_refs = [
        r["ref"]
        for r in changeset.filter(F.col("kind") == "relation")
        .select(F.explode("members.ref").alias("ref"))
        .collect()
    ]
    created_ways = {
        r["id"]
        for r in changeset.filter(
            (F.col("kind") == "way") & (F.col("change_type") == "create")
        ).collect()
    }
    assert member_refs and set(member_refs) <= created_ways

    nodes, ways = apply_changeset(tables["pbf_nodes"], tables["pbf_ways"], changeset)
    assert referential_integrity_report(nodes, ways).count() == 0


def test_junction_cell_at_zero_resolves(spark, tables):
    """Member refs key a junction node by its 6-dp cell as a string.  A
    junction at lon 0, lat 0 with a new-way vertex 3 mm south (or west) of
    it: the vertex's rounded coordinate is a zero from below, and the way
    must still reference the junction node.  Spark's ``round`` returns
    +0.0 there, so the vertex cell's key equals the junction's; a -0.0
    would key the cell "-0.0" and leave the ref null."""
    from changegen_spark.pipeline import generate_changes
    from changegen_spark.sources.osm import _geom, _ring

    def line(*coords):
        return _geom("LineString", _ring(list(coords)))

    new_ways = spark.createDataFrame(
        [
            ("path", "south", "yes", line((0.0, -1000.0), (0.0, -0.003), (0.0, 1000.0))),
            ("path", "west", "yes", line((-1000.0, 0.0), (-0.003, 0.0), (1000.0, 0.0))),
        ],
        tables["new_ways"].schema,
    )
    # one existing diagonal through the origin crosses both new ways there
    existing = spark.createDataFrame(
        [(1, 1, "path", "diagonal", line((-1000.0, -1000.0), (1000.0, 1000.0)))],
        tables["original_ways"].schema,
    )
    cset = generate_changes(
        spark,
        {
            "new_ways": new_ways,
            "original_ways": existing,
            "pbf_ways": spark.createDataFrame([(1, [1, 2], {})], tables["pbf_ways"].schema),
        },
        id_offset=ID_OFFSET,
    ).collect()

    at_origin = [
        r["id"] for r in cset
        if r["kind"] == "node" and abs(r["lat"]) < 1e-6 and abs(r["lon"]) < 1e-6
    ]
    assert len(at_origin) == 1  # the vertices reuse the junction node (J4)
    ways = [r for r in cset if r["kind"] == "way"]
    assert len(ways) == 3
    for w in ways:
        assert None not in w["nds"], w
        assert at_origin[0] in w["nds"], w


def test_relation_structure(changeset):
    rels = changeset.filter(F.col("kind") == "relation").collect()
    assert len(rels) == 1
    r = rels[0]
    assert r["tags"]["type"] == "multipolygon"
    assert r["tags"]["landuse"] == "forest"
    roles = [m["role"] for m in r["members"]]
    assert roles == ["outer", "inner"]


def test_way_tags_carry_attributes(changeset):
    w = changeset.filter(
        (F.col("kind") == "way")
        & (F.col("change_type") == "create")
        & F.col("tags").getItem("name").isNotNull()
        & (F.col("tags").getItem("name") == "new-0")
    ).collect()
    assert len(w) == 1
    assert w[0]["tags"]["highway"] == "path"
    assert w[0]["tags"]["foot"] == "yes"


def test_xml_sink_roundtrip(changeset, tmp_path):
    from changegen_spark.sinks.oscxml import write_osmchange

    out = os.path.join(tmp_path, "out.osc")
    counts = write_osmchange(changeset, out)
    tree = ET.parse(out)
    root = tree.getroot()
    assert root.tag == "osmChange"
    assert [c.tag for c in root] == ["create", "modify", "delete"]
    assert len(root.findall("./create/node")) == GOLDEN_CREATE_NODES
    assert len(root.findall("./create/way")) == GOLDEN_CREATE_WAYS
    assert len(root.findall("./create/relation")) == GOLDEN_CREATE_RELATIONS
    assert len(root.findall("./modify/way")) == GOLDEN_MODIFY_WAYS
    assert len(root.findall("./delete/way")) == GOLDEN_DELETE_WAYS
    assert counts["create"] == GOLDEN_CREATE_NODES + GOLDEN_CREATE_WAYS + 1
    # nested children present
    away = root.find("./create/way")
    assert away.find("nd") is not None
    anode = root.find("./modify/way")
    assert anode.attrib["version"] == "2"
    with open(out, "rb") as f:
        assert hashlib.sha256(f.read()).hexdigest() == GOLDEN_OSC_SHA256


def test_xml_sink_gzip(changeset, tmp_path):
    from changegen_spark.sinks.oscxml import write_osmchange

    out = os.path.join(tmp_path, "out.osc.gz")
    write_osmchange(changeset.limit(5), out, compress=True)
    with gzip.open(out, "rt") as f:
        content = f.read()
    assert content.startswith("<?xml")
    assert "</osmChange>" in content


@pytest.mark.slow
def test_way_splitting_end_to_end(spark, tables):
    """Low node_limit forces W3 splitting inside the full pipeline: chunk
    ways share boundary nodes and cover all members."""
    from changegen_spark.pipeline import generate_changes

    cset = generate_changes(
        spark, tables, id_offset=ID_OFFSET, node_limit=10, chunk_size=6
    )
    new_ways = (
        cset.filter((F.col("kind") == "way") & (F.col("change_type") == "create"))
        .filter(F.col("tags").getItem("highway").isNotNull())
        .collect()
    )
    # 4 new ways × 16 members (13 vertices + 3 inserted junctions) → 3 chunks
    # each (polygon ring ways carry landuse, not highway → filtered out)
    line_ways = [w for w in new_ways if w["tags"].get("highway") == "path" and "name" in w["tags"] and w["tags"]["name"].startswith("new-")]
    assert len(line_ways) == 12
    by_name: dict[str, list] = {}
    for w in line_ways:
        by_name.setdefault(w["tags"]["name"], []).append(w["nds"])
    for chunks in by_name.values():
        chunks.sort(key=lambda nds: nds[0] if False else 0)
        assert len(chunks) == 3


def test_modify_meta_flow(spark, tables):
    from changegen_spark.pipeline import generate_modify_meta

    out = generate_modify_meta(spark, tables).collect()
    assert len(out) == 5  # N_MOD_WAYS
    pbf = {r["id"]: r["nds"] for r in tables["pbf_ways"].collect()}
    for row in out:
        assert row["version"] == 2
        assert row["nds"] == pbf[row["id"]]  # node lists reused from extract
        assert row["tags"]["surface"] == "gravel"  # hstore merged
        assert row["tags"]["highway"] == "footway"  # column kept
        assert "osm_id" not in row["tags"]


def test_modify_points_flow(spark, tables):
    from changegen_spark.pipeline import generate_modify_points

    out = generate_modify_points(spark, tables).collect()
    assert len(out) == 3
    for row in out:
        assert row["version"] == 2
        assert 900 <= row["id"] <= 902
        assert row["tags"]["aerodrome"] == "no"


def test_deletions_with_node_expansion(spark, tables):
    from changegen_spark.pipeline import generate_deletions

    out = generate_deletions(spark, tables, skip_nodes=False)
    c = _counts(out)
    assert c[("delete", "way")] == 2
    assert c[("delete", "node")] == 22  # 2 ways × 11 distinct nodes


def _pbf(tables):
    return {k: tables[k] for k in ("pbf_nodes", "pbf_ways", "pbf_relations")}


def test_points_only_run(spark, tables):
    """A run with no ways and no polygons has only node payloads: its
    elements are the created points."""
    from changegen_spark.pipeline import generate_changes

    out = generate_changes(
        spark, {"new_points": tables["new_points"], **_pbf(tables)}, id_offset=ID_OFFSET
    )
    assert _counts(out) == {("create", "node"): N_POINT_NODES}


def test_deletions_only_run(spark, tables):
    from changegen_spark.pipeline import generate_changes

    out = generate_changes(
        spark, {"deleted_ways": tables["deleted_ways"], **_pbf(tables)}, id_offset=ID_OFFSET
    )
    assert _counts(out) == {("delete", "way"): GOLDEN_DELETE_WAYS}


def test_degenerate_ring_is_not_a_member(spark, tables):
    """A holed polygon whose inner ring is a single coordinate has no
    vertices there, so no way for that ring: its relation lists the outer
    ring only, and every member refs a created way."""
    from changegen_spark.pipeline import generate_changes
    from changegen_spark.sources.osm import _geom

    square = [(0.0, 0.0), (500.0, 0.0), (500.0, 500.0), (0.0, 500.0), (0.0, 0.0)]
    polys = spark.createDataFrame(
        [("forest", "holed", _geom("Polygon", [square, [(250.0, 250.0)]]))],
        tables["new_polygons"].schema,
    )
    out = generate_changes(
        spark, {"new_polygons": polys, **_pbf(tables)}, id_offset=ID_OFFSET
    ).collect()
    way_ids = {r["id"] for r in out if r["kind"] == "way"}
    assert len(way_ids) == 1
    (rel,) = [r for r in out if r["kind"] == "relation"]
    assert [(m["ref"], m["role"]) for m in rel["members"]] == [(min(way_ids), "outer")]


def test_stage_failure_restores_session_state(spark, tables):
    """A stage that fails inside the stage pool must leave the session's
    planning confs as they were and no pool thread running: the failure
    leaves the pool through its ``with`` block, which joins it.  Stage C
    (modified ways) needs ``pbf_ways``; without it the stage raises on
    its pool thread."""
    import threading

    from changegen_spark.pipeline import generate_changes

    keys = (
        "spark.sql.codegen.wholeStage",
        "spark.sql.constraintPropagation.enabled",
    )
    prev = {k: spark.conf.get(k) for k in keys}
    no_pbf_ways = {k: v for k, v in tables.items() if k != "pbf_ways"}
    before = set(threading.enumerate())
    with pytest.raises(KeyError, match="pbf_ways") as excinfo:
        generate_changes(spark, no_pbf_ways, id_offset=ID_OFFSET)
    assert {k: spark.conf.get(k) for k in keys} == prev
    # The held traceback keeps the failed frame, and any pool it owns,
    # alive, as a caller that keeps the error would: only an explicit join
    # stops the workers (named "ThreadPoolExecutor-N_M").
    leaked = [
        t for t in threading.enumerate()
        if t not in before and t.name.startswith("ThreadPoolExecutor")
    ]
    assert not leaked, (leaked, excinfo.value)


@pytest.mark.slow
def test_emit_osm_id_tag_reference_compat(spark, tables):
    """reference_bytes=True re-emits the source osm_id as a tag on modified
    intersecting ways (the reference's actual modify-path output,
    generator.py:812-813); default run excludes it."""
    from changegen_spark.pipeline import generate_changes

    cs = generate_changes(
        spark, tables, id_offset=ID_OFFSET, reference_bytes=True
    )
    mods = cs.filter(
        (F.col("kind") == "way") & (F.col("change_type") == "modify")
    ).collect()
    assert len(mods) == GOLDEN_MODIFY_WAYS
    for r in mods:
        # a modified way's element id IS the original osm_id
        assert r["tags"].get("osm_id") == str(r["id"])
