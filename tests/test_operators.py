"""Operator-level tests, mirroring the reference's algorithmic test strategy
(way splitting invariants: test/test_generator.py:79-92; insertion-index
golden: test/test_generator.py:234-252)."""

import math
import random

import pytest
from pyspark.sql import functions as F


def test_split_ways_invariants(spark):
    """All nodes preserved; boundary nodes appear in two chunks; within-chunk
    order preserved (reference invariant, test_generator.py:79-92)."""
    from changegen_spark.operators.ways import split_ways

    n = 1250
    nds = list(range(10_000, 10_000 + n))
    df = spark.createDataFrame([("w1", nds)], "way_id string, nds array<long>")
    out = split_ways(df, node_limit=1000, chunk_size=500)
    chunks = {r["chunk"]: r["nds"] for r in out.collect()}
    assert sorted(chunks) == [0, 1, 2]
    # coverage: every original node present
    all_nodes = [x for c in sorted(chunks) for x in chunks[c]]
    assert set(all_nodes) == set(nds)
    # boundary sharing: chunk k>0 starts with last node of chunk k-1
    assert chunks[1][0] == chunks[0][-1]
    assert chunks[2][0] == chunks[1][-1]
    # order: each chunk is a contiguous ordered slice
    for c in chunks.values():
        assert c == sorted(c)
    # sizes: chunk 0 is 500, later chunks ≤ 501 (prepended joiner)
    assert len(chunks[0]) == 500
    assert len(chunks[1]) == 501
    assert len(chunks[2]) == n - 1000 + 1


def test_split_ways_short_way_passthrough(spark):
    from changegen_spark.operators.ways import split_ways

    df = spark.createDataFrame([("w1", [1, 2, 3])], "way_id string, nds array<long>")
    out = split_ways(df, node_limit=2000, chunk_size=500).collect()
    assert len(out) == 1
    assert out[0]["nds"] == [1, 2, 3]
    assert out[0]["chunk"] == 0


def test_close_ring(spark):
    from changegen_spark.operators.ways import close_ring

    df = spark.createDataFrame([([1, 2, 3],)], "nds array<long>")
    assert df.select(close_ring(F.col("nds")).alias("r")).first()["r"] == [1, 2, 3, 1]


def _vertices_df(spark, coords, px, py):
    rows = [("w1", i, float(x), float(y), float(px), float(py)) for i, (x, y) in enumerate(coords)]
    return spark.createDataFrame(
        rows, "way_id string, pos int, x double, y double, px double, py double"
    )


def test_insertion_index_golden(spark):
    """Reference golden analog (test_generator.py:241-252): on a unit-spaced
    horizontal polyline, a point projecting between vertex 4 and 5 inserts at
    index 5."""
    from changegen_spark.operators.ways import insertion_index

    coords = [(float(i), 0.0) for i in range(10)]  # 9 segments, length 9
    df = _vertices_df(spark, coords, 4.4, 0.3)
    out = insertion_index(df, ["way_id"], "px", "py").collect()
    assert len(out) == 1
    assert out[0]["insert_idx"] == 5


def test_insertion_index_matches_numpy_reference(spark):
    """Cross-check against an independent numpy implementation of the
    reference algorithm (generator.py:208-255) on an irregular polyline."""
    import numpy as np

    from changegen_spark.operators.ways import insertion_index

    rng = np.random.default_rng(7)
    coords = np.cumsum(rng.uniform(0.2, 2.0, size=(12, 2)), axis=0)
    point = coords[5] + [0.31, -0.17]

    # numpy reference: project point onto each segment, find global nearest,
    # fraction along line; insertion index = first vertex with frac > point_frac
    seg_vecs = np.diff(coords, axis=0)
    seg_len = np.linalg.norm(seg_vecs, axis=1)
    cum = np.concatenate([[0], np.cumsum(seg_len)])
    t = np.clip(
        np.einsum("ij,ij->i", point - coords[:-1], seg_vecs) / (seg_len**2), 0, 1
    )
    proj = coords[:-1] + t[:, None] * seg_vecs
    d = np.linalg.norm(point - proj, axis=1)
    best = int(np.argmin(d))
    point_frac = (cum[best] + t[best] * seg_len[best]) / cum[-1]
    vert_frac = cum / cum[-1]
    expected = int(np.argmax(vert_frac > point_frac))

    df = _vertices_df(spark, coords.tolist(), float(point[0]), float(point[1]))
    out = insertion_index(df, ["way_id"], "px", "py").collect()
    assert out[0]["insert_idx"] == expected


def test_grid_dedup_last_wins(spark):
    from changegen_spark.operators.dedup import grid_dedup_points

    rows = [
        (1, 10.0000001, 20.0000001),
        (2, 10.0000004, 20.0000002),  # same at 6 dp as row 1 → keep id 2
        (3, 10.5, 20.5),
    ]
    df = spark.createDataFrame(rows, "pid long, lon double, lat double")
    kept = sorted(r["pid"] for r in grid_dedup_points(df, order_col="pid").collect())
    assert kept == [2, 3]


def _expected_prefix_sums(rows, value):
    """{key: (run, total)} by a pure-Python sort-and-accumulate within each
    group (None is a group of its own)."""
    out = {}
    for g in {r[1] for r in rows}:
        grp = sorted(r for r in rows if r[1] == g)
        total = sum(1 if value is None else r[2] for r in grp)
        run = 0
        for r in grp:
            run += 1 if value is None else r[2]
            out[r[0]] = (run, total)
    return out


@pytest.fixture
def uncoalesced(spark):
    """Keep every shuffle partition, so a small input spans several range
    blocks and the offset scan is exercised."""
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    yield spark
    spark.conf.set(key, prev)


@pytest.mark.parametrize("splits", [1, 3, 7])
@pytest.mark.parametrize("value", [None, "v"], ids=["rank", "sum"])
@pytest.mark.parametrize("by", [(), ("g",)], ids=["ungrouped", "by_g"])
def test_prefix_sum_matches_sort_and_accumulate(uncoalesced, splits, value, by):
    from changegen_spark.operators.ids import prefix_sum

    rng = random.Random(splits)
    keys = list(range(300))
    rng.shuffle(keys)
    groups = ["a", "b", None] if by else ["a"]
    rows = [(k, rng.choice(groups), rng.randint(1, 1000)) for k in keys]
    df = uncoalesced.createDataFrame(rows, "k long, g string, v long").repartition(
        splits
    )
    out = prefix_sum(df, ["k"], value=value, by=by)
    assert out.columns == ["k", "g", "v", "total", "run"]
    got = {r.k: (r.run, r.total) for r in out.collect()}
    want = _expected_prefix_sums(
        [(k, g if by else None, v) for k, g, v in rows], value
    )
    assert got == want


def test_assign_sequential_ids_numbers_in_key_order(uncoalesced):
    """Key i of a shuffled 7-partition input gets id_offset + rank(i),
    negated for negative ids."""
    from changegen_spark.operators.ids import assign_sequential_ids

    keys = [f"k{i:04d}" for i in range(500)]
    shuffled = keys[:]
    random.Random(7).shuffle(shuffled)
    df = uncoalesced.createDataFrame([(k,) for k in shuffled], "k string").repartition(7)
    out = assign_sequential_ids(df, ["k"], id_offset=100)
    assert out.columns == ["k", "new_id"]
    assert {r.k: r.new_id for r in out.collect()} == {
        k: 101 + i for i, k in enumerate(keys)
    }
    neg = assign_sequential_ids(df, ["k"], out_col="nid", negative=True)
    assert {r.k: r.nid for r in neg.collect()} == {
        k: -(1 + i) for i, k in enumerate(keys)
    }


def test_changeset_ids_have_no_global_window(spark, monkeypatch):
    """The changegen id table is ranked inside range partitions: the only
    partition-less Window in its plan scans the per-partition counts
    (``__blk``), never the (korder, skey) id requests."""
    import re

    from changegen_spark import pipeline
    from changegen_spark.sources.osm import fixture_tables

    resolved = []
    resolve = pipeline.ChangeSet.resolve

    def spy(self, *a, **k):
        resolved.append(resolve(self, *a, **k))
        return resolved[-1]

    monkeypatch.setattr(pipeline.ChangeSet, "resolve", spy)
    pipeline.generate_changes(spark, fixture_tables(spark), id_offset=20_000)
    plan = resolved[0]._jdf.queryExecution().executedPlan().toString()
    windows = re.findall(r".*windowspecdefinition.*", plan)
    assert windows, plan
    for ln in windows:
        first = ln.split("windowspecdefinition(")[1].split(", ")[0]
        partitioned = not re.search(r" (ASC|DESC)|^specifiedwindowframe", first)
        assert partitioned or "__blk" in ln, ln


def test_check_id_collision():
    import pytest

    from changegen_spark.operators.ids import check_id_collision

    check_id_collision(100, 101, negative=False)
    check_id_collision(100, 0, negative=True)
    with pytest.raises(ValueError):
        check_id_collision(100, 100, negative=False)


def test_hstore_parse_and_merge(spark):
    from changegen_spark.operators.tags import merge_hstore_tags, parse_hstore

    df = spark.createDataFrame(
        [('"amenity"=>"cafe", "name"=>"Joe, Jr.", "ele"=>"120"',)], "hs string"
    )
    parsed = df.select(parse_hstore(F.col("hs")).alias("m")).first()["m"]
    # value-preserving: embedded comma survives (unlike reference db.py:20-21)
    assert parsed == {"amenity": "cafe", "name": "Joe, Jr.", "ele": "120"}

    merged = df.select(
        merge_hstore_tags(
            F.create_map(F.lit("name"), F.lit("column-name")),
            parse_hstore(F.col("hs")),
        ).alias("m")
    ).first()["m"]
    # column precedence: hstore 'name' discarded
    assert merged["name"] == "column-name"
    assert merged["amenity"] == "cafe"


def test_unpivot_tags(spark):
    from changegen_spark.operators.tags import unpivot_tags

    df = spark.createDataFrame(
        [(1, "path", None, 3)], "fid long, highway string, name string, z int"
    )
    out = unpivot_tags(df, ["fid"], exclude=("fid",)).first()["tags"]
    # null dropped, int stringified
    assert out == {"highway": "path", "z": "3"}


def test_mercator_roundtrip(spark):
    from changegen_spark.geo.mercator import (
        to_3857_x, to_3857_y, to_4326_lat, to_4326_lon,
    )

    df = spark.createDataFrame([(-118.2, 48.6)], "lon double, lat double")
    r = df.select(
        to_3857_x(F.col("lon")).alias("x"),
        to_3857_y(F.col("lat")).alias("y"),
    ).first()
    # known Web-Mercator values (R*radians(lon))
    assert abs(r["x"] - (-13157919.0)) < 100
    back = spark.createDataFrame([(r["x"], r["y"])], "x double, y double").select(
        to_4326_lon(F.col("x")).alias("lon"), to_4326_lat(F.col("y")).alias("lat")
    ).first()
    assert math.isclose(back["lon"], -118.2, abs_tol=1e-9)
    assert math.isclose(back["lat"], 48.6, abs_tol=1e-9)


def test_grid_distance_join_matches_bruteforce(spark):
    import numpy as np

    from changegen_spark.geo.join import grid_distance_join

    rng = np.random.default_rng(11)
    pts = rng.uniform(0, 20, size=(300, 2))
    rows = [(i, float(x), float(y)) for i, (x, y) in enumerate(pts)]
    df = spark.createDataFrame(rows, "pid long, x double, y double")
    radius = 1.3
    got = {
        (r["l_pid"], r["r_pid"])
        for r in grid_distance_join(df, df, radius, exclude_equal=True).collect()
    }
    d = np.linalg.norm(pts[:, None, :] - pts[None, :, :], axis=2)
    expected = {
        (i, j)
        for i in range(len(pts))
        for j in range(len(pts))
        if i != j and d[i, j] <= radius
    }
    assert got == expected


def test_split_ways_duplicate_first_reference_byte_parity(spark):
    """joiner="duplicate_first" must reproduce the reference _make_ways
    loop byte-for-byte (generator.py:283-302): chunk i>0 starts with its
    own first node duplicated; consecutive chunks share no node."""
    from changegen_spark.operators.ways import split_ways

    nds = list(range(1, 1202))  # 1201 nodes, chunk_size 500 -> 3 chunks

    # straight-line transcription of the reference loop
    expected, joiner = [], None
    for idx in range(0, len(nds), 500):
        chunk = nds[idx : idx + 500]
        if joiner is not None:
            chunk = [joiner] + chunk
        expected.append(chunk)
        joiner = nds[idx + 500] if idx + 500 < len(nds) else None

    df = spark.createDataFrame([(1, nds)], "way_id long, nds array<int>")
    out = split_ways(
        df, node_limit=1000, chunk_size=500, joiner="duplicate_first"
    ).orderBy("chunk")
    got = [r["nds"] for r in out.collect()]
    assert got == expected
    assert got[1][0] == got[1][1]  # the duplicated first node
    assert got[0][-1] != got[1][0]  # consecutive chunks share no node
