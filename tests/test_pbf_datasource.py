"""The one ``.pbf`` reader, the ``osmpbf`` Python Data Source in
``sources/pbf.py``, on files written by the test encoder ``pbfwrite.py``:
the encoder/decoder round trip, row parity with the single-process decode
``iter_pbf_elements``, the kind and column options, and the CLI's
``--osmsrc x.pbf`` input against the same extract as parquet."""

from __future__ import annotations

import os
import random

import pytest
from pyspark.sql import functions as F

from pbfwrite import write_pbf

# big enough that the pruned-decode timings below are not noise, with
# several blobs per kind
N_NODES, N_WAYS, N_RELATIONS = 60_000, 3_000, 30
PER_BLOCK = 8_000
KINDS = ("node", "way", "relation")


def _elements(seed: int = 7):
    rng = random.Random(seed)
    nodes = [
        (1_000 + 3 * i, rng.uniform(-90, 90), rng.uniform(-180, 180),
         {"name": f"n{i}", "amenity": rng.choice(["cafe", "bank"])} if i % 5 == 0 else {})
        for i in range(N_NODES)
    ]
    ways = [
        (500 + i, [rng.choice(nodes)[0] for _ in range(rng.randint(2, 12))],
         {"highway": rng.choice(["residential", "path"]), "ref": str(i)})
        for i in range(N_WAYS)
    ]
    relations = [
        (9_000 + i,
         [(rng.choice(nodes)[0], "node", "stop"), (ways[i][0], "way", "outer"),
          (9_000 + (i + 1) % N_RELATIONS, "relation", "")],
         {"type": "multipolygon"})
        for i in range(N_RELATIONS)
    ]
    return nodes, ways, relations


@pytest.fixture(scope="module")
def pbf_path(tmp_path_factory):
    path = str(tmp_path_factory.mktemp("pbf") / "fixture.osm.pbf")
    write_pbf(path, *_elements(), per_block=PER_BLOCK)
    return path


@pytest.fixture(scope="module")
def pbf_df(spark, pbf_path):
    from changegen_spark.sources.pbf import register

    register(spark)
    return spark.read.format("osmpbf").load(pbf_path)


def test_encoder_round_trip(tmp_path):
    """Every field the encoder writes comes back from the decoder: ids,
    tags, way refs that go down as well as up, relation members of all
    three types with their roles, and coordinates to 1e-7 degrees."""
    from changegen_spark.sources.pbf import iter_pbf_elements, scan_blob_spans

    nodes = [
        (1, 48.123456789, -122.5, {"name": "a&b", "é": "ü"}),
        (7, -33.9, 151.2, {}),
        (3, 0.0, -0.0000001, {"k": "v"}),
        (-4, 89.9999999, -179.9999999, {}),
    ]
    ways = [(10, [7, 1, 3, -4, 7], {"highway": "path"}), (11, [3], {})]
    relations = [
        (20, [(1, "node", "stop"), (10, "way", ""), (21, "relation", "sub")],
         {"type": "route"}),
        (21, [(11, "way", "outer")], {}),
    ]
    path = str(tmp_path / "rt.osm.pbf")
    write_pbf(path, nodes, ways, relations, per_block=2)
    assert [t for t, _, _ in scan_blob_spans(path)] == ["OSMHeader"] + ["OSMData"] * 4

    got = list(iter_pbf_elements(path))
    assert [(k, i) for k, i, *_ in got] == [
        ("node", n[0]) for n in nodes
    ] + [("way", w[0]) for w in ways] + [("relation", r[0]) for r in relations]
    for (_, _, lat, lon, *_, keys, vals), (_, want_lat, want_lon, tags) in zip(got, nodes):
        assert abs(lat - want_lat) <= 1e-7 and abs(lon - want_lon) <= 1e-7
        assert dict(zip(keys, vals)) == tags
    for (_, _, _, _, nds, *_, keys, vals), (_, want_nds, tags) in zip(got[4:], ways):
        assert nds == want_nds and dict(zip(keys, vals)) == tags
    for row, (_, members, tags) in zip(got[6:], relations):
        _, _, _, _, _, refs, types, roles, keys, vals = row
        assert list(zip(refs, types, roles)) == members
        assert dict(zip(keys, vals)) == tags


def test_datasource_matches_fixture_counts(pbf_df):
    counts = {r.kind: r["count"] for r in pbf_df.groupBy("kind").count().collect()}
    assert counts == {"node": N_NODES, "way": N_WAYS, "relation": N_RELATIONS}


def test_datasource_rows_match_single_process_decode(pbf_df, pbf_path):
    """The Spark scan yields exactly the rows of ``iter_pbf_elements``."""
    from changegen_spark.sources.pbf import iter_pbf_elements

    def key(row):
        return KINDS.index(row[0]), row[1]

    got = sorted(map(tuple, pbf_df.collect()), key=key)
    assert got == sorted(iter_pbf_elements(pbf_path), key=key)


def test_datasource_partitions_per_blob(pbf_path):
    """One input partition per OSMData blob — the parallelism contract."""
    from changegen_spark.sources.pbf import OsmPbfReader, scan_blob_spans

    n_blobs = sum(
        1 for btype, _, _ in scan_blob_spans(pbf_path) if btype == "OSMData"
    )
    reader = OsmPbfReader({"path": pbf_path})
    assert len(reader.partitions()) == n_blobs
    assert n_blobs > 1  # the fixture genuinely exercises parallel decode


def test_datasource_column_projection(pbf_df):
    got = pbf_df.select("id").filter(F.col("id") < 0).count()
    assert got == 0  # projection executes; fixture ids are positive


def test_kinds_option_prunes_decode_and_matches(spark, pbf_df, pbf_path):
    """.option('kinds', 'way') loads the per-kind subset — the decode
    skips node/relation PrimitiveGroups before parsing their bodies —
    and matches the post-filtered full scan exactly.  The subset is
    relation-scoped and immutable, so interleaved scans can never
    contaminate each other (the pushFilters hazard pinned below)."""
    ways = (
        spark.read.format("osmpbf").option("kinds", "way").load(pbf_path)
    )
    assert ways.count() == N_WAYS
    unpushed = pbf_df.filter(F.col("kind") == "way")
    assert sorted(r.id for r in ways.select("id").collect()) == sorted(
        r.id for r in unpushed.select("id").collect()
    )
    both = (
        spark.read.format("osmpbf")
        .option("kinds", "way,relation")
        .load(pbf_path)
    )
    counts = {r.kind: r["count"] for r in both.groupBy("kind").count().collect()}
    assert counts == {"way": N_WAYS, "relation": N_RELATIONS}
    # the subset relation stays itself across interleaved full scans
    assert ways.count() == N_WAYS


def test_columns_option_prunes_schema_and_decode(spark, pbf_df, pbf_path):
    """.option('columns', 'kind,id'): the declared schema IS the pruned
    schema (no 10-column scan under a 2-column projection), values match
    the full scan, and the pruned single-process decode is measurably
    cheaper than the full decode on the same blobs (the stringtable +
    tags + refs skip)."""
    pruned = (
        spark.read.format("osmpbf")
        .option("columns", "kind,id")
        .load(pbf_path)
    )
    assert pruned.columns == ["kind", "id"]
    got = sorted(map(tuple, pruned.collect()))
    want = sorted(map(tuple, pbf_df.select("kind", "id").collect()))
    assert got == want

    # decode-time delta, measured on the raw blobs (no Spark overhead)
    import time

    from changegen_spark.sources.pbf import (
        _blob_raw,
        _decode_primitive_block,
        scan_blob_spans,
    )

    raws = []
    with open(pbf_path, "rb") as f:
        for btype, off, size in scan_blob_spans(pbf_path):
            if btype == "OSMData":
                f.seek(off)
                raws.append(_blob_raw(f.read(size)))

    def wall(**kw):
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            n = sum(1 for raw in raws for _ in _decode_primitive_block(raw, **kw))
            best = min(best, time.perf_counter() - t0)
        return best, n

    t_full, n_full = wall()
    t_pruned, n_pruned = wall(cols=frozenset(("kind", "id")))
    t_ways, n_ways = wall(
        kinds=frozenset(("way",)), cols=frozenset(("kind", "id"))
    )
    assert n_full == n_pruned == N_NODES + N_WAYS + N_RELATIONS
    assert n_ways == N_WAYS
    assert t_pruned < t_full, (t_pruned, t_full)
    assert t_ways < t_pruned, (t_ways, t_pruned)


def test_options_compose_and_reject_unknown(spark, pbf_path):
    from changegen_spark.sources.pbf import register

    register(spark)
    combo = (
        spark.read.format("osmpbf")
        .option("kinds", "relation")
        .option("columns", "kind,id,mrefs")
        .load(pbf_path)
    )
    rows = combo.collect()
    assert combo.columns == ["kind", "id", "mrefs"]
    assert len(rows) == N_RELATIONS and all(r.kind == "relation" for r in rows)
    assert sum(len(r.mrefs) for r in rows) > 0
    with pytest.raises(Exception, match="unknown columns"):
        spark.read.format("osmpbf").option("columns", "kind,nope").load(
            pbf_path
        ).collect()
    with pytest.raises(Exception, match="unknown kinds"):
        spark.read.format("osmpbf").option("kinds", "ways").load(
            pbf_path
        ).collect()


def test_cli_pbf_input_matches_parquet_extract(spark, cli_dirs, tmp_path):
    """``--osmsrc x.pbf`` writes the same ``.osc`` bytes as ``--osmsrc``
    on the same extract as parquet, and decodes the file in one scan."""
    from changegen_spark.__main__ import main

    db, ext = cli_dirs
    tables = {
        name: spark.read.parquet(os.path.join(ext, f"{name}.parquet")).collect()
        for name in ("nodes", "ways", "relations")
    }
    pbf = str(tmp_path / "extract.osm.pbf")
    write_pbf(
        pbf,
        [(r.id, r.lat, r.lon, r.tags) for r in tables["nodes"]],
        [(r.id, r.nds, r.tags) for r in tables["ways"]],
        [(r.id, [tuple(m) for m in r.members], r.tags) for r in tables["relations"]],
        per_block=50,
    )
    store = spark._jsparkSession.sharedState().statusStore()

    def execution_plans():
        it = store.executionsList().iterator()
        plans = {}
        while it.hasNext():
            e = it.next()
            plans[e.executionId()] = e.physicalPlanDescription()
        return plans

    def run(osmsrc, name):
        out = str(tmp_path / name)
        assert main([
            db, "--osmsrc", osmsrc, "--output", out, "--suffix", "_new",
            "--existing", "original_ways", "--deletions", "deleted_ways",
            "--id_offset", "20000",
        ]) == 0
        with open(out, "rb") as f:
            return f.read()

    from_parquet = run(ext, "parquet.osc")
    before = set(execution_plans())
    from_pbf = run(pbf, "pbf.osc")
    scans = [
        i for i, plan in execution_plans().items()
        if i not in before and "BatchScan osmpbf" in plan
    ]
    assert from_pbf == from_parquet
    assert len(scans) == 1, scans


def test_pushfilters_scan_reuse_is_still_broken(spark):
    """Pins the Spark 4.1.2 behavior that keeps pushFilters OUT of this
    source (module docstring): after a kind-filtered scan plans through
    the pushdown worker, an UNFILTERED scan of the same relation reuses
    the pushed read function and silently drops rows.  A throwaway
    format demonstrates it on a 3-row source.  If a Spark upgrade fixes
    the reuse, this test FAILS — the signal to adopt pushFilters for
    the blob-level kind skip."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        EqualTo,
    )

    class _R(DataSourceReader):
        def __init__(self):
            self.only = None

        def pushFilters(self, filters):
            for f in filters:
                if isinstance(f, EqualTo) and f.attribute == ("k",):
                    self.only = f.value
                else:
                    yield f

        def partitions(self):
            return [InputPartition(0)]

        def read(self, _p):
            for k in ("a", "b", "c"):
                if self.only is None or k == self.only:
                    yield (k,)

    from pyspark.sql.datasource import InputPartition

    class _DS(DataSource):
        @classmethod
        def name(cls):
            return "pushreusedemo"

        def schema(self):
            return "k string"

        def reader(self, schema):
            return _R()

    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(_DS)
    df = spark.read.format("pushreusedemo").load()
    assert df.count() == 3
    assert df.filter(F.col("k") == "a").count() == 1
    n_after = df.count()
    assert n_after == 1, (
        "Spark no longer reuses the pushed scan for unfiltered queries "
        f"(got {n_after} rows) — pushFilters is now safe to adopt in "
        "OsmPbfReader; see the sources/pbf.py docstring"
    )
