"""End-to-end changegen pipeline (SURVEY §3.1-§3.3), Spark-first.

The reference's ``generate_changes`` (``changegen/generator.py:496-873``) is
a row-at-a-time loop; here every stage is a whole-DataFrame transform:

  A. junction synthesis — segment grid join (J1/J3) + 6-dp grid dedup (A3)
  B. new-way construction — vertex explode, junction vertex-reuse (J4) or
     fractional insertion (W2/M2), way splitting (W3)
  C. modify intersecting existing ways — PBF node-list join (J5), junction
     replace/insert, version 2 (C2)
  D. point create/modify paths (C1/C2) with tag projection (P1/P2)
  E. polygon paths — closed ways, multipolygon relations (P6/M4/M5)
  F. modify-meta flow (C4)  G. deletion flow (C5/C3/A7)

ID policy (W1, SURVEY §7 risk 1): one union of id requests gets a global
``row_number`` ordered by (kind, stable key) — ids are unique, dense from
``id_offset+1``, deterministic; exact interleaving parity with the
reference's mutable counter is explicitly out of contract.

Scale notes: every join is keyed (grid cell, rounded coordinate, osm_id);
the only single-partition stage is the global id ``row_number`` over the
*id-request keys only* (a changefile ≪ cluster memory by construction —
see ``operators/ids.py`` for the distributed-mode alternative) and the
ordered XML sink.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from changegen_spark.geo.geometry import exterior, g_type, point_xy
from changegen_spark.geo.mercator import to_4326_lat, to_4326_lon
from changegen_spark.geo.segments import explode_segments, segment_distance_join
from changegen_spark.operators.changes import expand_deleted_ways, tag_change
from changegen_spark.operators.ids import check_id_collision
from changegen_spark.operators.keys import feature_key
from changegen_spark.operators.tags import merge_hstore_tags, parse_hstore
from changegen_spark.operators.ways import (
    CHUNK_SIZE_DEFAULT,
    NODE_LIMIT_DEFAULT,
    cumulative_fraction,
    line_locate_fraction,
    split_ways,
)

DISTANCE_BUFFER_DEFAULT = 5.0  # changegen/db.py:110 (meters in EPSG:3857)
PRECISION = 6  # COORDINATE_PRECISION, changegen/generator.py:31

# id-request kind ordering (stable across runs)
_K_JUNCTION, _K_VERTEX, _K_POINT, _K_WAY, _K_RELATION = 0, 1, 2, 3, 4


def _tags_map(df: DataFrame, exclude: tuple[str, ...], hstore_col: str | None = None):
    """P1 + P2: attribute columns → tag map, hstore merged under column
    precedence (changegen/generator.py:169-205)."""
    cols = [
        c
        for c in df.columns
        if c not in exclude and c != hstore_col and not c.startswith("__")
    ]
    entries = F.array(
        *[
            F.struct(F.lit(c).alias("key"), F.col(c).cast("string").alias("value"))
            for c in cols
        ]
    )
    kept = F.filter(entries, lambda e: e.value.isNotNull() & (e.value != F.lit("")))
    col_tags = F.map_from_entries(kept)
    if hstore_col is not None and hstore_col in df.columns:
        return merge_hstore_tags(col_tags, parse_hstore(F.col(hstore_col)))
    return col_tags


def _rounded_lonlat(x, y):
    return (
        F.round(to_4326_lon(x), PRECISION),
        F.round(to_4326_lat(y), PRECISION),
    )


class ChangeSet:
    """Accumulates element DataFrames + id requests, then resolves ids."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.requests: list[DataFrame] = []

    def request_ids(self, df: DataFrame, kind: int, skey) -> None:
        self.requests.append(
            df.select(F.lit(kind).alias("korder"), skey.cast("string").alias("skey"))
        )

    def resolve(self, id_offset: int, negative: bool) -> DataFrame:
        """(korder, skey) → new_id, dense from id_offset+1 (W1)."""
        from functools import reduce

        allreq = reduce(lambda a, b: a.unionByName(b), self.requests).distinct()
        w = Window.orderBy("korder", "skey")
        seq = F.row_number().over(w).cast("long") + F.lit(id_offset)
        return allreq.withColumn("new_id", -seq if negative else seq)


def synthesize_junctions(
    new_ways: DataFrame,
    existing_ways: DataFrame,
    key_col: str,
    distance_buffer: float = DISTANCE_BUFFER_DEFAULT,
    self_intersections: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Stage A: (junction_nodes keyed by rounded lon/lat, per-pair junctions).

    Junction per (new way, existing way) pair = closest point on the new
    geometry within the buffer (crossings → exact crossing point), then
    6-dp grid dedup; the same cached join yields the intersecting-id list
    (J2) — unlike the reference, the spatial predicate runs once
    (SURVEY §3.3)."""
    lsegs = explode_segments(
        new_ways.select(F.col(key_col).alias("nkey"), exterior(F.col("geometry")).alias("__ring")),
        ["nkey"],
        F.col("__ring"),
        prefix="l",
    )
    rsegs = explode_segments(
        existing_ways.select(F.col("osm_id"), exterior(F.col("geometry")).alias("__ring")),
        ["osm_id"],
        F.col("__ring"),
        prefix="r",
    )
    pairs = segment_distance_join(lsegs, rsegs, distance_buffer, dedup_pairs=False)
    # one junction per (new, existing) pair: the globally closest approach
    best = pairs.groupBy("nkey", "osm_id").agg(
        F.min_by(
            F.struct("cp_x", "cp_y"), F.struct("dist", "lseg", "rseg")
        ).alias("cp"),
        F.min("dist").alias("dist"),
    )
    junctions = best.select(
        "nkey",
        "osm_id",
        F.col("cp.cp_x").alias("jx"),
        F.col("cp.cp_y").alias("jy"),
    )

    if self_intersections:
        # J3 --self (changegen/__main__.py:131-139): junctions among the new
        # features themselves — the same segment grid join, new×new, with
        # identical-feature pairs excluded.  Both directions of a crossing
        # pair appear, so each way receives the junction; the 6-dp grid
        # dedup collapses them to one shared node.  No osm_id: self
        # junctions modify no existing way.
        osegs = explode_segments(
            new_ways.select(
                F.col(key_col).alias("okey"), exterior(F.col("geometry")).alias("__ring")
            ),
            ["okey"],
            F.col("__ring"),
            prefix="r",
        )
        self_pairs = segment_distance_join(
            lsegs, osegs, distance_buffer, dedup_pairs=False
        ).filter(
            F.col("nkey") != F.col("okey")
        )
        self_best = self_pairs.groupBy("nkey", "okey").agg(
            F.min_by(
                F.struct("cp_x", "cp_y"), F.struct("dist", "lseg", "rseg")
            ).alias("cp")
        )
        self_junctions = self_best.select(
            "nkey",
            F.lit(None).cast("long").alias("osm_id"),
            F.col("cp.cp_x").alias("jx"),
            F.col("cp.cp_y").alias("jy"),
        )
        junctions = junctions.unionByName(self_junctions)
    rlon, rlat = _rounded_lonlat(F.col("jx"), F.col("jy"))
    junctions = junctions.withColumn("rlon", rlon).withColumn("rlat", rlat)
    # ONE materialization of the segment-join pipeline: every downstream
    # stage re-references the junction frame, and the segment-join tree is
    # deep, so the fence bounds Catalyst analysis for all consumers.
    # junction_nodes stays a lazy (trivial) agg over the fenced rows — a
    # second dedicated checkpoint job cost more than the per-consumer
    # re-agg.  Lazy: the fence exists at once, and the rows materialize
    # inside stage C's eager vertex fence, the frame's single plan-phase
    # consumer, so no two jobs race to compute them.
    junctions = junctions.localCheckpoint(eager=False)
    # A3 grid dedup: one node per 6-dp cell
    junction_nodes = junctions.groupBy("rlon", "rlat").agg(
        F.min(to_4326_lon(F.col("jx"))).alias("lon"),
        F.min(to_4326_lat(F.col("jy"))).alias("lat"),
    )
    return junction_nodes, junctions


def _vertices_with_frac(geoms: DataFrame, key_cols: list[str]) -> DataFrame:
    """Explode ring → (key…, pos, x, y, rlon, rlat, frac…)."""
    verts = geoms.select(
        *key_cols, F.posexplode(F.col("__ring")).alias("pos", "__pt")
    ).select(
        *key_cols,
        "pos",
        F.col("__pt.x").alias("x"),
        F.col("__pt.y").alias("y"),
    )
    verts = cumulative_fraction(verts, key_cols)
    rlon, rlat = _rounded_lonlat(F.col("x"), F.col("y"))
    return verts.withColumn("rlon", rlon).withColumn("rlat", rlat)


def _junction_inserts(
    verts: DataFrame, junctions: DataFrame, key: str
) -> tuple[DataFrame, DataFrame]:
    """The junctions of each way, and those of them to insert between its
    vertices: (way_j, inserted).

    ``way_j`` holds ONE row per (way, 6-dp cell): raw jx/jy from different
    pair joins can differ in low-order bits within the same cell (e.g. a
    new way crossing an existing way AND another new way at the same spot
    — the duplicate case the reference dedups, generator.py:132-142); a
    plain distinct() would keep both and double every vertex row inside
    the line_locate_fraction window, corrupting the insertion fraction.
    A junction not coincident with any vertex of its way is ``inserted``
    at its fractional position along the way (W2/M2)."""
    way_j = (
        junctions.groupBy(key, "rlon", "rlat")
        .agg(F.min_by(F.struct("jx", "jy"), F.struct("jx", "jy")).alias("__j"))
        .select(key, F.col("__j.jx").alias("jx"), F.col("__j.jy").alias("jy"), "rlon", "rlat")
    )
    to_insert = way_j.join(
        verts.select(key, "rlon", "rlat"), [key, "rlon", "rlat"], "left_anti"
    )
    ins_input = verts.select(key, "pos", "x", "y").join(
        to_insert.select(
            key,
            F.col("jx").alias("px"),
            F.col("jy").alias("py"),
            F.col("rlon").alias("jrlon"),
            F.col("rlat").alias("jrlat"),
        ),
        key,
    )
    inserted = line_locate_fraction(
        ins_input, [key, "jrlon", "jrlat"], "px", "py"
    ).select(
        key,
        F.col("point_frac").alias("frac"),
        F.col("jrlon").alias("rlon"),
        F.col("jrlat").alias("rlat"),
        F.lit(True).alias("is_junction"),
        F.lit(None).cast("int").alias("pos"),
    )
    return way_j, inserted


def _ordered_members(members: DataFrame, key: str, extra: tuple[str, ...] = ()) -> DataFrame:
    """(key, mseq): each way's members sorted by (frac, junction-after-vertex
    tie, pos); ``extra`` columns ride along in each member struct."""
    return members.groupBy(key).agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("frac"),
                    F.col("is_junction").cast("int").alias("jflag"),
                    F.coalesce(F.col("pos"), F.lit(0)).alias("pos"),
                    F.col("rlon"),
                    F.col("rlat"),
                    F.col("is_junction"),
                    *extra,
                )
            )
        ).alias("mseq")
    )


def _ordered_values(order: str, value: str):
    """Aggregate: the group's ``value`` column listed by ascending ``order``."""
    return F.transform(
        F.array_sort(F.collect_list(F.struct(order, value))),
        lambda s: s.getField(value),
    )


def build_new_ways(
    cs: ChangeSet,
    new_ways: DataFrame,
    junction_nodes: DataFrame,
    junctions: DataFrame,
    key_col: str,
    hstore_col: str | None = None,
) -> dict[str, DataFrame]:
    """Stage B: create-path ways + their nodes.

    Returns dict with 'vertex_nodes' (unmatched vertices needing fresh ids),
    'ordered_members' (nkey, mseq), 'way_tags'.
    Junction handling: a junction equal to a way vertex at 6 dp reuses the
    junction node (J4, generator.py:430-443); otherwise it is inserted at
    its fractional position (W2/M2, generator.py:208-255,458-487)."""
    geoms = new_ways.select(
        F.col(key_col).alias("nkey"), exterior(F.col("geometry")).alias("__ring")
    )
    # verts feeds four downstream joins; truncating its (windowed) lineage
    # keeps every consumer's analysis tree shallow.  Eager (measured, see
    # SCALE.md): a lazy fence lets several consumers race to compute the
    # same partitions.  verts derive from new_ways only, so this job cannot
    # race the junction materialization.
    verts = _vertices_with_frac(geoms, ["nkey"]).localCheckpoint(eager=True)

    jn = junction_nodes.select("rlon", "rlat")
    matched = verts.join(jn, ["rlon", "rlat"], "inner").select(
        "nkey", "pos", "frac", "rlon", "rlat",
        F.lit(True).alias("is_junction"),
    )
    unmatched = verts.join(jn, ["rlon", "rlat"], "left_anti")
    _, inserted = _junction_inserts(verts, junctions, "nkey")

    # id requests for unmatched vertices
    vkey = F.concat_ws(":", F.col("nkey"), F.col("pos"))
    cs.request_ids(unmatched, _K_VERTEX, vkey)

    members = (
        unmatched.select(
            "nkey", "pos", "frac", "rlon", "rlat", F.lit(False).alias("is_junction")
        )
        .unionByName(matched)
        .unionByName(inserted, allowMissingColumns=True)
    )
    ordered = _ordered_members(members, "nkey")

    # key_col stays IN the tag map when it is a real attribute (e.g. name);
    # synthetic "__"-prefixed keys are dropped by _tags_map automatically.
    way_tags = new_ways.select(
        F.col(key_col).alias("nkey"),
        _tags_map(new_ways, ("geometry",), hstore_col).alias("tags"),
    )

    return {
        "vertex_nodes": unmatched,
        "ordered_members": ordered,
        "way_tags": way_tags,
    }


def modify_intersecting_ways(
    existing_ways: DataFrame,
    junctions: DataFrame,
    pbf_ways: DataFrame,
) -> DataFrame:
    """Stage C: rebuild intersecting existing ways with junction nodes.

    ``_modify_existing_way`` (changegen/generator.py:307-377) as set ops:
    PBF node list (J5), junction-at-vertex → node id replacement, otherwise
    fractional insertion.  Ways missing from the extract are skipped, the
    reference's logged case (generator.py:820-822).
    Output: (osm_id, member structs sorted) — ids resolved later."""
    hit = junctions.filter(F.col("osm_id").isNotNull())
    hit_ways = hit.select("osm_id").distinct()
    # Polygon intersection-modify is out of contract, matching the
    # reference's logged-unsupported case (changegen/generator.py:836-847):
    # non-LineString existing geometries are excluded from the rebuild.
    lines_only = existing_ways.filter(g_type(F.col("geometry")) == "LineString")
    geoms = lines_only.join(hit_ways, "osm_id", "left_semi").select(
        "osm_id", exterior(F.col("geometry")).alias("__ring")
    )
    verts = _vertices_with_frac(geoms, ["osm_id"])

    nds = pbf_ways.select(
        F.col("id").alias("osm_id"), F.posexplode("nds").alias("pos", "node_id")
    )
    # missing pbf → skipped; eager fence: the same multi-consumer fan-out
    # as the create path.  Its job also materializes the lazy junction
    # fence (this subtree reads hit_ways).
    verts = verts.join(nds, ["osm_id", "pos"], "inner").localCheckpoint(eager=True)

    way_j, inserted = _junction_inserts(verts, hit, "osm_id")
    # unlike the create path's global junction cells, a vertex here matches
    # only the junction cells of its own way
    cells = way_j.select("osm_id", "rlon", "rlat").distinct()
    matched = verts.join(cells, ["osm_id", "rlon", "rlat"], "inner").select(
        "osm_id", "pos", "frac", "rlon", "rlat", F.lit(True).alias("is_junction")
    )
    unmatched = verts.join(cells, ["osm_id", "rlon", "rlat"], "left_anti").select(
        "osm_id", "pos", "frac", "rlon", "rlat",
        F.lit(False).alias("is_junction"), F.col("node_id"),
    )

    no_node = F.lit(None).cast("long")
    members = (
        unmatched
        .unionByName(matched.withColumn("node_id", no_node), allowMissingColumns=True)
        .unionByName(inserted.withColumn("node_id", no_node))
    )
    return _ordered_members(members, "osm_id", extra=("node_id",))


def generate_changes(
    spark: SparkSession,
    tables: dict[str, DataFrame],
    id_offset: int = 0,
    negative_ids: bool = False,
    self_intersections: bool = False,
    distance_buffer: float = DISTANCE_BUFFER_DEFAULT,
    node_limit: int = NODE_LIMIT_DEFAULT,
    chunk_size: int = CHUNK_SIZE_DEFAULT,
    skip_delete_nodes: bool = True,
    check_collision: bool = True,
    key_col: str = "name",
    hstore_col: str | None = None,
    emit_osm_id_tag: bool = False,
    split_joiner: str = "shared",
) -> DataFrame:
    """Full run: create new ways/points/polygons, modify intersecting
    existing ways, apply deletions.  Returns the unified element DataFrame
    (sink-ready, see sinks.oscxml.ELEMENT_SCHEMA).

    ``emit_osm_id_tag=True`` re-emits the source feature's ``osm_id`` field
    as a tag on modified intersecting ways, matching the reference's
    actual output (``_generate_tags_from_feature`` is called with no
    exclude list on the modify path, ``generator.py:812-813``).  Default
    off: the id is join metadata, not cargo (GAPS.md deviation note).
    ``split_joiner="duplicate_first"`` likewise selects the reference's
    byte behavior for over-long way splitting (see operators.ways).
    Together these two flags make the output byte-compatible with the
    reference (the CLI's ``--reference-bytes``)."""
    import concurrent.futures

    from changegen_spark.sources.osm import max_pbf_ids

    # Overlapped head (r3, measured on scale_smoke 300×200): the max-id
    # scan runs as an EXECUTOR-side job while the driver builds the
    # junction plan — py4j/Catalyst work — removing ~2 s of serial
    # wall-clock.  Collision check stays fail-fast: its result is read
    # before any output exists.  Leaving the ``with`` block joins the
    # pool, so any failure (including the collision guard's designed
    # abort) leaves no pool thread running.
    with concurrent.futures.ThreadPoolExecutor(max_workers=4) as pool:
        fut_maxids = pool.submit(max_pbf_ids, tables) if check_collision else None

        cs = ChangeSet(spark)
        new_ways = tables.get("new_ways")
        existing = tables.get("original_ways")

        # A: junctions (single evaluation serves J1 closest-points AND J2 ids)
        if new_ways is not None and existing is not None:
            junction_nodes, junctions = synthesize_junctions(
                new_ways, existing, key_col=key_col,
                distance_buffer=distance_buffer, self_intersections=self_intersections,
            )
        else:
            junction_nodes = spark.createDataFrame(
                [], "rlon double, rlat double, lon double, lat double"
            )
            junctions = spark.createDataFrame(
                [], "nkey string, osm_id long, jx double, jy double, rlon double, rlat double"
            )
        jkey = F.concat_ws(",", F.col("rlon"), F.col("rlat"))
        cs.request_ids(junction_nodes, _K_JUNCTION, jkey)

        if fut_maxids is not None:
            maxids = fut_maxids.result()
            check_id_collision(max(maxids.values()), id_offset, negative_ids)

        # B: new ways.  Way splitting happens on the member-KEY sequences, so
        # way ids can be requested in the same single resolve as node ids (the
        # chunk count depends only on member counts, not on resolved ids).
        wkey = F.concat_ws(":", F.col("nkey"), F.col("chunk"))
        # Stages B and C are independent once the junction frame is
        # materialized; each ends in an eager localCheckpoint (a separate Spark
        # job with its own codegen compile).  Running them on two threads
        # overlaps those jobs — py4j releases the GIL on socket IO, and Spark
        # job submission is thread-safe.  cs.request_ids appends under the GIL;
        # resolve() orders by (kind, key), so request order is immaterial.
        def _stage_b():
            nb_ = build_new_ways(
                cs, new_ways, junction_nodes, junctions, key_col=key_col,
                hstore_col=hstore_col,
            )
            cm = split_ways(
                nb_["ordered_members"], nds_col="mseq",
                node_limit=node_limit, chunk_size=chunk_size,
                joiner=split_joiner,
            )
            return nb_, cm

        def _stage_c():
            return modify_intersecting_ways(existing, junctions, tables["pbf_ways"])

        # Stages D/E/G below are pure driver-side plan building with no
        # dependency on B/C — they run while the pool's checkpoint jobs
        # execute; the B/C futures are joined just before resolve
        # (request_ids order is immaterial: resolve sorts by kind+key).
        fut_b = fut_c = None
        nb = chunked_members = None
        mod_ways_seq = mod_way_tags = None
        if new_ways is not None:
            fut_b = pool.submit(_stage_b)
        if existing is not None:
            fut_c = pool.submit(_stage_c)

        # D: new points
        pts = None
        new_points = tables.get("new_points")
        if new_points is not None:
            pt_tags = _tags_map(
                new_points,
                exclude=("id", "osm_id", "geom"),
                # point tables historically carry their hstore in "tags"
                # (generator.py:608-621); an explicit --hstore overrides.
                hstore_col=hstore_col if hstore_col is not None else "tags",
            )
            # Row key: the id column when present AND non-null; else a
            # row-unique feature hash.  The reference iterates per-FID so a
            # NULL id column (e.g. its own new_points fixture) still yields one
            # create per row — a null key here would silently drop them all.
            src = new_points
            if "id" not in src.columns:
                src = src.withColumn("id", F.lit(None).cast("long"))
            src = feature_key(src, "geom")
            pt_key = F.coalesce(F.col("id").cast("string"), F.col("__fkey"))

            px, py = point_xy(F.col("geom"))
            pts = src.select(
                pt_key.alias("pt_id"),
                to_4326_lon(px).alias("lon"),
                to_4326_lat(py).alias("lat"),
                pt_tags.alias("tags"),
            )
            cs.request_ids(pts, _K_POINT, F.concat(F.lit("pt:"), F.col("pt_id")))

        # E: polygons
        polys = tables.get("new_polygons")
        poly_parts = _build_polygons(cs, polys) if polys is not None else None
        if poly_parts is not None:
            cs.request_ids(poly_parts["rings"], _K_WAY, F.col("ring_key"))
            cs.request_ids(poly_parts["relations"], _K_RELATION, F.col("pkey"))

        # G: deletions
        del_elems = []
        if tables.get("deleted_ways") is not None:
            del_elems = _deletion_elements(tables, skip_delete_nodes)

        # join the overlapped B/C stages
        if fut_b is not None:
            nb, chunked_members = fut_b.result()
            cs.request_ids(chunked_members, _K_WAY, wkey)
        if fut_c is not None:
            mod_ways_seq = fut_c.result()
            # hstore expansion applies to intersecting-way modifies exactly
            # as it does to new features (generator.py:190-203 → :812).
            mod_excl = (
                ("id", "geometry")
                if emit_osm_id_tag
                else ("id", "osm_id", "geometry")
            )
            mod_way_tags = existing.select(
                F.col("osm_id"),
                _tags_map(
                    existing, exclude=mod_excl, hstore_col=hstore_col
                ).alias("tags"),
            )

    # --- resolve ids and assemble elements ---
    # Every element join reads this id table: fence it once, eagerly.  A
    # ``.cache()`` here would stay registered in the session's CacheManager
    # after the pass, pinning the table and the stage fences in its lineage
    # for the life of the JVM; a checkpoint is released with its frame.
    ids = cs.resolve(id_offset, negative_ids).localCheckpoint(eager=True)

    def with_id(df: DataFrame, kind: int, skey) -> DataFrame:
        keyed = df.withColumn("__skey", skey.cast("string"))
        return keyed.join(
            ids.filter(F.col("korder") == kind).withColumnRenamed("skey", "__skey"),
            "__skey",
        ).drop("__skey", "korder")

    empty_tags = F.create_map().cast("map<string,string>")

    creates = [
        with_id(junction_nodes, _K_JUNCTION, jkey).select(
            F.lit("node").alias("kind"),
            F.col("new_id").alias("id"),
            "lat", "lon",
            empty_tags.alias("tags"),
        )
    ]

    vkey = F.concat_ws(":", F.col("nkey"), F.col("pos"))
    if nb is not None:
        creates.append(
            with_id(nb["vertex_nodes"], _K_VERTEX, vkey).select(
                F.lit("node").alias("kind"),
                F.col("new_id").alias("id"),
                to_4326_lat(F.col("y")).alias("lat"),
                to_4326_lon(F.col("x")).alias("lon"),
                empty_tags.alias("tags"),
            )
        )

    if pts is not None:
        creates.append(
            with_id(pts, _K_POINT, F.concat(F.lit("pt:"), F.col("pt_id"))).select(
                F.lit("node").alias("kind"),
                F.col("new_id").alias("id"),
                "lat", "lon", "tags",
            )
        )

    # new-way member resolution: junction members → junction node ids,
    # vertex members → vertex node ids; nds assembled per (way, chunk)
    jids = with_id(junction_nodes, _K_JUNCTION, jkey).select(
        "rlon", "rlat", F.col("new_id").alias("jid")
    )

    if chunked_members is not None:
        vids = with_id(nb["vertex_nodes"], _K_VERTEX, vkey).select(
            "nkey", "pos", F.col("new_id").alias("vid")
        )
        way_ids = with_id(chunked_members, _K_WAY, wkey).select(
            "nkey", "chunk", F.col("new_id").alias("way_id"), "mseq"
        )
        mem = way_ids.select(
            "nkey", "chunk", "way_id", F.posexplode("mseq").alias("seq", "m")
        ).select(
            "nkey", "chunk", "way_id", "seq",
            F.col("m.rlon").alias("rlon"), F.col("m.rlat").alias("rlat"),
            F.col("m.pos").alias("pos"), F.col("m.is_junction").alias("is_junction"),
        )
        mem = (
            mem.join(jids, ["rlon", "rlat"], "left")
            .join(vids, ["nkey", "pos"], "left")
            .withColumn("node_ref", F.when(F.col("is_junction"), F.col("jid")).otherwise(F.coalesce("vid", "jid")))
        )
        chunk_nds = mem.groupBy("nkey", "chunk", "way_id").agg(
            _ordered_values("seq", "node_ref").alias("nds")
        )
        creates.append(
            chunk_nds.join(nb["way_tags"], "nkey").select(
                F.lit("way").alias("kind"),
                F.col("way_id").alias("id"),
                "nds", "tags",
            )
        )
    parts = [tag_change(df, "create") for df in creates]

    # modified existing ways: junction members → junction ids, vertex
    # members keep their PBF node id unless junction-replaced
    if mod_ways_seq is not None:
        mmem = mod_ways_seq.select(
            "osm_id", F.posexplode("mseq").alias("seq", "m")
        ).select(
            "osm_id", "seq",
            F.col("m.rlon").alias("rlon"), F.col("m.rlat").alias("rlat"),
            F.col("m.is_junction").alias("is_junction"),
            F.col("m.node_id").alias("node_id"),
        )
        mmem = mmem.join(jids, ["rlon", "rlat"], "left").withColumn(
            "node_ref", F.when(F.col("is_junction"), F.col("jid")).otherwise(F.col("node_id"))
        )
        mod_nds = mmem.groupBy("osm_id").agg(
            _ordered_values("seq", "node_ref").alias("nds")
        )
        mod_ways = mod_nds.join(mod_way_tags, "osm_id").select(
            F.lit("way").alias("kind"),
            F.col("osm_id").alias("id"),
            "nds", "tags",
        )
        parts.append(tag_change(mod_ways, "modify"))

    parts.extend(del_elems)
    if poly_parts is not None:
        parts.extend(_assemble_polygons(poly_parts, with_id))

    from changegen_spark.operators.changes import assemble_changeset

    return assemble_changeset(*parts)


def _deletion_elements(tables: dict[str, DataFrame], skip_nodes: bool) -> list[DataFrame]:
    """C5 way deletes, plus node deletes unless ``skip_nodes``: version 99
    placeholder, lat/lon 0 on nodes (changegen/generator.py:919-925)."""
    empty_tags = F.create_map().cast("map<string,string>")
    ways, nodes = expand_deleted_ways(
        tables["deleted_ways"], tables["pbf_ways"], skip_nodes=skip_nodes
    )
    way_elems = ways.select(F.lit("way").alias("kind"), F.col("id"), empty_tags.alias("tags"))
    node_elems = nodes.select(
        F.lit("node").alias("kind"),
        F.col("id"),
        F.lit(0.0).alias("lat"),
        F.lit(0.0).alias("lon"),
        empty_tags.alias("tags"),
    )
    return [tag_change(way_elems, "delete"), tag_change(node_elems, "delete")]


def _build_polygons(cs: ChangeSet, polys: DataFrame) -> dict[str, DataFrame]:
    """Stage E prep: explode polygon rings; request node ids.

    Simple polygons (no interiors) → one closed way carrying the tags;
    holed polygons → one way per ring + a type=multipolygon relation with
    outer/inner roles (changegen/generator.py:683-753)."""
    polys = polys.withColumn("__n_int", F.size(F.col("geometry.rings")) - 1)
    base = polys.select(
        F.col("name").alias("pkey"),
        "__n_int",
        F.posexplode(F.col("geometry.rings")).alias("ring_idx", "__ring"),
    )
    # drop the closing duplicate coordinate for node synthesis (M4 inverse)
    base = base.withColumn(
        "__ring", F.slice(F.col("__ring"), 1, F.size(F.col("__ring")) - 1)
    )
    verts = base.select(
        "pkey", "ring_idx", F.posexplode("__ring").alias("pos", "__pt")
    ).select(
        "pkey", "ring_idx", "pos",
        F.col("__pt.x").alias("x"), F.col("__pt.y").alias("y"),
    )
    nkey = F.concat_ws(":", F.lit("poly"), F.col("pkey"), F.col("ring_idx"), F.col("pos"))
    cs.request_ids(verts, _K_POINT, nkey)
    rings = base.select(
        "pkey", "ring_idx", "__n_int",
        F.concat_ws(":", F.lit("polyring"), F.col("pkey"), F.col("ring_idx")).alias("ring_key"),
    )
    relations = polys.filter(F.col("__n_int") > 0).select(
        F.col("name").alias("pkey")
    )
    tags = polys.select(
        F.col("name").alias("pkey"),
        F.col("__n_int"),
        _tags_map(polys, exclude=("geometry", "__n_int")).alias("tags"),
    )
    return {"verts": verts, "rings": rings, "relations": relations, "tags": tags}


def _assemble_polygons(pp, with_id) -> list[DataFrame]:
    """Stage E finish: nodes, closed ways, multipolygon relations."""
    empty_tags = F.create_map().cast("map<string,string>")
    nkey = F.concat_ws(":", F.lit("poly"), F.col("pkey"), F.col("ring_idx"), F.col("pos"))
    vid = with_id(pp["verts"], _K_POINT, nkey)
    node_elems = vid.select(
        F.lit("node").alias("kind"),
        F.col("new_id").alias("id"),
        to_4326_lat(F.col("y")).alias("lat"),
        to_4326_lon(F.col("x")).alias("lon"),
        empty_tags.alias("tags"),
    )
    # ordered nds per ring, closed by repeating the first node (M4)
    ring_nds = vid.groupBy("pkey", "ring_idx").agg(
        _ordered_values("pos", "new_id").alias("open_nds")
    ).withColumn("nds", F.concat(F.col("open_nds"), F.slice(F.col("open_nds"), 1, 1)))

    rid = with_id(pp["rings"], _K_WAY, F.col("ring_key")).join(
        ring_nds, ["pkey", "ring_idx"]
    )
    simple_tags = pp["tags"].filter(F.col("__n_int") == 0).select("pkey", "tags")
    way_elems = rid.join(simple_tags, "pkey", "left").select(
        F.lit("way").alias("kind"),
        F.col("new_id").alias("id"),
        "nds",
        F.coalesce(F.col("tags"), empty_tags).alias("tags"),
    )

    # relations: members = ring ways with outer/inner roles (M5)
    rel_members = rid.filter(F.col("__n_int") > 0).select(
        "pkey",
        F.struct(
            F.col("new_id").alias("ref"),
            F.lit("way").alias("type"),
            F.when(F.col("ring_idx") == 0, F.lit("outer")).otherwise(F.lit("inner")).alias("role"),
        ).alias("m"),
        "ring_idx",
    )
    rel_members = rel_members.groupBy("pkey").agg(
        _ordered_values("ring_idx", "m").alias("members")
    )
    holed_tags = pp["tags"].filter(F.col("__n_int") > 0).select(
        "pkey",
        F.map_concat(
            F.col("tags"),
            F.create_map(F.lit("type"), F.lit("multipolygon")).cast("map<string,string>"),
        ).alias("tags"),
    )
    rel_elems = (
        with_id(pp["relations"], _K_RELATION, F.col("pkey"))
        .join(rel_members, "pkey")
        .join(holed_tags, "pkey")
        .select(
            F.lit("relation").alias("kind"),
            F.col("new_id").alias("id"),
            "members", "tags",
        )
    )
    return [tag_change(df, "create") for df in (node_elems, way_elems, rel_elems)]


def generate_relation_changes(
    spark: SparkSession,
    tables: dict[str, DataFrame],
    mod_table: str = "mod_relations",
    del_table: str = "deleted_relations",
    hstore_col: str | None = None,
) -> DataFrame:
    """Relation modify/delete flows (beyond-parity surface: the reference
    only CREATES relations, ``changegen/generator.py:732-741``).

    ``mod_table`` rows are keyed by ``osm_id``; tags come from the row's
    attribute columns (hstore merged).  Member lists: a ``members`` column
    on the table replaces the relation's members outright; otherwise the
    extract's member list (``pbf_relations``) is reused — the tags-only
    modify, symmetric with the way ``--modify_meta`` flow.  ``del_table``
    ids emit ``<delete>`` relations (version 99).  Apply-side semantics and
    the member-aware prune live in ``operators/apply.py``.
    """
    from changegen_spark.operators.changes import assemble_changeset

    member_t = "array<struct<ref:bigint,type:string,role:string>>"
    empty_tags = F.create_map().cast("map<string,string>")
    parts: list[DataFrame] = []

    mod = tables.get(mod_table)
    if mod is not None:
        tags = _tags_map(
            mod,
            exclude=("id", "osm_id", "members", "geometry"),
            hstore_col=hstore_col if hstore_col is not None else "tags",
        )
        keyed = mod.select(
            F.col("osm_id"),
            tags.alias("tags"),
            *(
                [F.col("members").cast(member_t).alias("__new_members")]
                if "members" in mod.columns
                else []
            ),
        )
        pbf = tables["pbf_relations"].select(
            F.col("id").alias("osm_id"), F.col("members").cast(member_t).alias("__pbf_members")
        )
        joined = keyed.join(pbf, "osm_id", "inner")  # missing in extract → skipped
        members = (
            F.coalesce(F.col("__new_members"), F.col("__pbf_members"))
            if "members" in mod.columns
            else F.col("__pbf_members")
        )
        rels = joined.select(
            F.lit("relation").alias("kind"),
            F.col("osm_id").alias("id"),
            members.alias("members"),
            "tags",
        )
        parts.append(tag_change(rels, "modify"))

    dels = tables.get(del_table)
    if dels is not None:
        ids = dels.select(F.col("osm_id").cast("long").alias("id")).distinct()
        rels = ids.select(F.lit("relation").alias("kind"), "id", empty_tags.alias("tags"))
        parts.append(tag_change(rels, "delete"))
    if not parts:
        raise ValueError(f"neither {mod_table} nor {del_table} present in tables")
    return assemble_changeset(*parts)


def generate_modify_meta(
    spark: SparkSession,
    tables: dict[str, DataFrame],
    table_name: str = "mod_ways",
    hstore_col: str | None = None,
) -> DataFrame:
    """C4: --modify_meta flow (changegen/__main__.py:104-113) — reuse the
    extract's node lists, replace tags only; version 2.  Geometry changes
    are out of contract (reference raises, __main__.py:188-192)."""
    mod = tables[table_name]
    tags = _tags_map(
        mod,
        exclude=("id", "osm_id", "parent_osm_id", "geometry", "__fkey"),
        hstore_col=hstore_col if hstore_col is not None else "tags",
    )
    keyed = mod.select(F.col("osm_id"), tags.alias("tags"))
    pbf = tables["pbf_ways"].select(F.col("id").alias("osm_id"), "nds")
    ways = keyed.join(pbf, "osm_id", "inner").select(  # missing pbf → skipped
        F.lit("way").alias("kind"),
        F.col("osm_id").alias("id"),
        "nds", "tags",
    )
    return tag_change(ways, "modify")


def generate_modify_points(
    spark: SparkSession,
    tables: dict[str, DataFrame],
    table_name: str = "modified_points",
) -> DataFrame:
    """C2 node-modify path (generator.py:608-621): keyed by osm_id,
    version 2, osm_id dropped from tags (P5)."""
    mod = tables[table_name]
    tags = _tags_map(mod, exclude=("id", "osm_id", "geom"), hstore_col="tags")
    px, py = point_xy(F.col("geom"))
    nodes = mod.select(
        F.lit("node").alias("kind"),
        F.col("osm_id").alias("id"),
        to_4326_lat(py).alias("lat"),
        to_4326_lon(px).alias("lon"),
        tags.alias("tags"),
    )
    return tag_change(nodes, "modify")


def generate_deletions(
    spark: SparkSession,
    tables: dict[str, DataFrame],
    skip_nodes: bool = True,
) -> DataFrame:
    """C5 standalone deletion flow (changegen/generator.py:876-927)."""
    from changegen_spark.operators.changes import assemble_changeset

    return assemble_changeset(*_deletion_elements(tables, skip_nodes))
