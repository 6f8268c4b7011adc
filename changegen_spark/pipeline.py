"""End-to-end changegen pipeline (SURVEY §3.1-§3.3), Spark-first.

The reference's ``generate_changes`` (``changegen/generator.py:496-873``) is
a row-at-a-time loop; here every stage is a whole-DataFrame transform:

  A. junction synthesis — ONE segment grid join of the new ways against
     the existing ways (J1) and, with ``--self``, the new ways themselves
     (J3); one closest approach per pair; 6-dp grid dedup (A3)
  B. new-way construction — vertex explode with ``cumulative_fraction``,
     one left join flagging junction vertices (J4 reuse), fractional
     insertion of the other junctions (W2/M2), way splitting (W3)
  C. modify intersecting existing ways — PBF node-list join (J5), then
     stage B's member rebuild against the way's own junction cells
     (replace at a vertex, insert otherwise), version 2 (C2)
  D. point create/modify paths (C1/C2) with tag projection (P1/P2)
  E. polygon paths — closed ways, multipolygon relations (P6/M4/M5)
  F. modify-meta flow (C4)  G. deletion flow (C5/C3/A7)

Stages B and C share one member rebuild (``_junction_members``): the
only window is each stage's fenced vertex fractions, and inserted
junctions are located on those rows.

ID policy (W1, SURVEY §7 risk 1): one union of id requests is ranked by
(kind, stable key) with ``operators.ids.prefix_sum`` — ids are unique,
dense from ``id_offset+1``, deterministic; exact interleaving parity with
the reference's mutable counter is explicitly out of contract.  The id
table is one eager fence, read by two joins.  The member-ref join resolves
every way and relation member (junction cell, new-way vertex, polygon
node, ring) to its id; modified ways keep their PBF node ids.  The element
join gives every node, way and relation payload its id; modified ways
keep their ``osm_id``.  Stage B's chunked member lists and stage C's
rebuilt ways are eager fences built in their pool threads, so neither the
id fence nor the sink recomputes them.

Scale notes: every join is keyed (grid cell, rounded coordinate, osm_id);
the only single-partition stages are the ordered XML sink and, in the
global ids (a range-partitioned prefix sum over the id-request keys,
``operators/ids.py``), the scan of one count per range partition.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from changegen_spark.geo.geometry import exterior, g_type, point_xy
from changegen_spark.geo.mercator import to_4326_lat, to_4326_lon
from changegen_spark.geo.segments import explode_segments, segment_distance_join
from changegen_spark.operators.changes import expand_deleted_ways, tag_change
from changegen_spark.operators.fence import fence
from changegen_spark.operators.ids import assign_sequential_ids
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

    def __init__(self):
        self.requests: list[DataFrame] = []

    def request_ids(self, df: DataFrame, kind: int, skey) -> None:
        self.requests.append(
            df.select(F.lit(kind).alias("korder"), skey.cast("string").alias("skey"))
        )

    def resolve(self, id_offset: int, negative: bool) -> DataFrame:
        """(korder, skey) → new_id, dense from id_offset+1 (W1)."""
        allreq = reduce(lambda a, b: a.unionByName(b), self.requests).distinct()
        return assign_sequential_ids(
            allreq, order_by=["korder", "skey"], id_offset=id_offset, negative=negative
        )


def synthesize_junctions(
    new_ways: DataFrame,
    existing_ways: DataFrame,
    key_col: str,
    self_intersections: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Stage A: (junction_nodes keyed by rounded lon/lat, per-pair junctions).

    Junction per (new way, existing way) pair, and with
    ``self_intersections`` per pair of distinct new ways = closest point on
    the new geometry within the buffer (crossings → exact crossing point),
    then 6-dp grid dedup; the same fenced join yields the intersecting-id
    list (J2) — unlike the reference, the spatial predicate runs once, in
    one segment join (SURVEY §3.3)."""
    ring = exterior(F.col("geometry")).alias("__ring")
    lsegs = explode_segments(
        new_ways.select(F.col(key_col).alias("nkey"), ring), ["nkey"], F.col("__ring"), prefix="l"
    )
    # The right side: every existing way (okey null), and with --self (J3,
    # changegen/__main__.py:131-139) every new way as well (osm_id null).
    # Both directions of a new×new crossing pair appear, so each way
    # receives the junction; the 6-dp grid dedup collapses them to one
    # shared node.  Self junctions carry no osm_id: they modify no existing
    # way.
    rways = existing_ways.select(
        "osm_id", F.lit(None).cast(new_ways.schema[key_col].dataType).alias("okey"), ring
    )
    if self_intersections:
        rways = rways.unionByName(new_ways.select(
            F.lit(None).cast("long").alias("osm_id"), F.col(key_col).alias("okey"), ring
        ))
    rsegs = explode_segments(rways, ["osm_id", "okey"], F.col("__ring"), prefix="r")
    pairs = segment_distance_join(lsegs, rsegs, DISTANCE_BUFFER_DEFAULT).filter(
        F.col("okey").isNull() | (F.col("nkey") != F.col("okey"))
    )
    # one junction per (new, other) pair: the globally closest approach
    junctions = pairs.groupBy("nkey", "osm_id", "okey").agg(
        F.min_by(F.struct("cp_x", "cp_y"), F.struct("dist", "lseg", "rseg")).alias("cp")
    ).select("nkey", "osm_id", F.col("cp.cp_x").alias("jx"), F.col("cp.cp_y").alias("jy"))
    rlon, rlat = _rounded_lonlat(F.col("jx"), F.col("jy"))
    junctions = junctions.withColumn("rlon", rlon).withColumn("rlat", rlat)
    # ONE materialization of the segment-join pipeline: every downstream
    # stage re-references the junction frame, and the segment-join tree is
    # deep, so the fence bounds Catalyst analysis for all consumers.
    # junction_nodes stays a lazy (trivial) agg over the fenced rows — a
    # second dedicated fence job cost more than the per-consumer
    # re-agg.  Lazy: the fence exists at once, and the rows materialize
    # inside stage C's eager vertex fence, the frame's single plan-phase
    # consumer, so no two jobs race to compute them.
    junctions = junctions.transform(fence, "changegen junctions", eager=False)
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


def _way_junctions(junctions: DataFrame, key: str) -> DataFrame:
    """The junctions of each way: ONE row per (way, 6-dp cell).  Raw jx/jy
    from different pair joins can differ in low-order bits within the same
    cell (e.g. a new way crossing an existing way AND another new way at
    the same spot — the duplicate case the reference dedups,
    generator.py:132-142); a plain distinct() would keep both, mixing two
    probes in one located group and, where these rows are the cell frame
    (stage C), doubling every vertex in the cell."""
    return (
        junctions.groupBy(key, "rlon", "rlat")
        .agg(F.min_by(F.struct("jx", "jy"), F.struct("jx", "jy")).alias("__j"))
        .select(key, F.col("__j.jx").alias("jx"), F.col("__j.jy").alias("jy"), "rlon", "rlat")
    )


def _junction_members(
    verts: DataFrame,
    way_j: DataFrame,
    key: str,
    cells: DataFrame,
    on: list[str],
    extra: tuple[str, ...] = (),
) -> tuple[DataFrame, DataFrame]:
    """(flagged vertices, ordered members) of one stage's ways.

    ``verts`` are the ways' ``cumulative_fraction`` rows and ``way_j``
    their ``_way_junctions``.  One left join against ``cells`` (distinct
    on ``on``) flags each vertex ``is_junction``.  A junction not
    coincident with any vertex of its way is inserted at its fractional
    position along the way (W2/M2), located on the vertex rows with no
    further window.  Each way's members are its flagged vertices plus its
    inserted junctions, sorted by ``_ordered_members``; ``extra`` vertex
    columns ride along (null on inserted junctions)."""
    flagged = verts.join(
        cells.select(*on, F.lit(True).alias("__hit")), on, "left"
    ).withColumn("is_junction", F.col("__hit").isNotNull())
    to_insert = way_j.join(
        verts.select(key, "rlon", "rlat"), [key, "rlon", "rlat"], "left_anti"
    ).select(
        key,
        F.col("jx").alias("px"),
        F.col("jy").alias("py"),
        F.col("rlon").alias("jrlon"),
        F.col("rlat").alias("jrlat"),
    )
    inserted = line_locate_fraction(
        verts.join(to_insert, key), [key, "jrlon", "jrlat"], "px", "py"
    ).select(
        key,
        F.col("point_frac").alias("frac"),
        F.col("jrlon").alias("rlon"),
        F.col("jrlat").alias("rlat"),
        F.lit(True).alias("is_junction"),
    )
    members = flagged.select(
        key, "pos", "frac", "rlon", "rlat", "is_junction", *extra
    ).unionByName(inserted, allowMissingColumns=True)
    return flagged, _ordered_members(members, key, extra)


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


def _null(dtype: str):
    return F.lit(None).cast(dtype)


def _cell_key(rlon, rlat):
    """A junction node's id key: its 6-dp cell as a string.  Spark's
    ``round`` yields +0.0 for a coordinate that rounds to zero from below,
    so a cell never has a "-0.0" twin."""
    return F.concat_ws(",", rlon, rlat)


def _member_rows(
    df: DataFrame, kind: str, change_type: str, owner, tags, seq, ref, role=None
) -> DataFrame:
    """``df`` as member-ref rows.  ``owner`` and ``ref`` are (korder,
    skey, direct) column triples: an id request key, or a direct id."""
    return tag_change(df.select(
        F.lit(kind).alias("kind"),
        *(c.alias(n) for c, n in zip(owner, ("okorder", "oskey", "odirect"))),
        tags.alias("tags"),
        seq.alias("seq"),
        *(c.alias(n) for c, n in zip(ref, ("korder", "skey", "direct"))),
        (role if role is not None else _null("string")).alias("role"),
    ), change_type)


def _way_members(ways: DataFrame, change_type: str, owner, vertex) -> DataFrame:
    """Member rows of stage B/C ways (one row per way: ``mseq`` and
    ``tags``).  A junction member refs the junction node of its 6-dp cell;
    any other member refs ``vertex``, a (korder, skey, direct) triple."""
    m = ways.select("*", F.posexplode("mseq").alias("seq", "m"))
    junction = F.col("m.is_junction")
    cell = (F.lit(_K_JUNCTION), _cell_key(F.col("m.rlon"), F.col("m.rlat")), _null("long"))
    ref = [F.when(junction, j).otherwise(v) for j, v in zip(cell, vertex)]
    return _member_rows(m, "way", change_type, owner, F.col("tags"), F.col("seq"), ref)


def new_way_vertices(new_ways: DataFrame, key_col: str) -> DataFrame:
    """Stage B's vertex frame: every new way's vertices with their
    fractions, fenced.  It feeds three downstream joins; truncating its
    (windowed) lineage keeps every consumer's analysis tree shallow.
    Eager (measured, see SCALE.md): a lazy fence lets several consumers
    race to compute the same partitions.  The vertices derive from
    ``new_ways`` only, so ``generate_changes`` runs this job on a pool
    thread while the driver builds and fences the junction frame."""
    geoms = new_ways.select(
        F.col(key_col).alias("nkey"), exterior(F.col("geometry")).alias("__ring")
    )
    return _vertices_with_frac(geoms, ["nkey"]).transform(
        fence, "changegen new-way vertices"
    )


def build_new_ways(
    cs: ChangeSet,
    new_ways: DataFrame,
    verts: DataFrame,
    junction_nodes: DataFrame,
    junctions: DataFrame,
    key_col: str,
    hstore_col: str | None = None,
) -> dict[str, DataFrame]:
    """Stage B: create-path ways + their nodes.

    ``verts`` is ``new_way_vertices(new_ways, key_col)``.
    Returns dict with 'vertex_nodes' (unmatched vertices needing fresh ids),
    'ordered_members' (nkey, mseq), 'way_tags'.
    Junction handling: a junction equal to a way vertex at 6 dp reuses the
    junction node (J4, generator.py:430-443); otherwise it is inserted at
    its fractional position (W2/M2, generator.py:208-255,458-487)."""
    flagged, ordered = _junction_members(
        verts, _way_junctions(junctions, "nkey"), "nkey", junction_nodes, ["rlon", "rlat"]
    )
    unmatched = flagged.filter(~F.col("is_junction"))

    # id requests for unmatched vertices
    vkey = F.concat_ws(":", F.col("nkey"), F.col("pos"))
    cs.request_ids(unmatched, _K_VERTEX, vkey)

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
    verts = verts.join(nds, ["osm_id", "pos"], "inner").transform(
        fence, "changegen modified-way vertices"
    )

    # unlike the create path's global junction cells, a vertex here matches
    # only the junction cells of its own way; a vertex that matches none
    # keeps its PBF node id
    way_j = _way_junctions(hit, "osm_id")
    _, ordered = _junction_members(
        verts, way_j, "osm_id", way_j, ["osm_id", "rlon", "rlat"], extra=("node_id",)
    )
    return ordered


def generate_changes(
    spark: SparkSession,
    tables: dict[str, DataFrame],
    id_offset: int = 0,
    negative_ids: bool = False,
    self_intersections: bool = False,
    node_limit: int = NODE_LIMIT_DEFAULT,
    chunk_size: int = CHUNK_SIZE_DEFAULT,
    key_col: str = "name",
    hstore_col: str | None = None,
    reference_bytes: bool = False,
) -> DataFrame:
    """Full run: create new ways/points/polygons, modify intersecting
    existing ways, apply deletions.  Returns the unified element DataFrame
    (sink-ready, see sinks.oscxml.ELEMENT_SCHEMA).

    The id offset is not checked against the extract's ids here: the
    CLI runs that guard where ``--id_offset`` enters
    (``operators.ids.check_id_collision``).

    ``reference_bytes=True`` makes the output byte-compatible with the
    reference's actual behavior (the CLI's ``--reference-bytes``), in
    two places.  Modified intersecting ways re-emit the source feature's
    ``osm_id`` field as a tag (``_generate_tags_from_feature`` is called
    with no exclude list on the modify path, ``generator.py:812-813``);
    by default the id is join metadata, not cargo (GAPS.md deviation
    note).  Over-long ways split with each chunk's first node duplicated
    instead of a shared boundary node (``split_ways(joiner=
    "duplicate_first")``, see operators.ways)."""
    import concurrent.futures

    # Stages B and C run on this pool while the driver builds the rest of
    # the plan.  Leaving the ``with`` block joins the pool, so any stage
    # failure leaves no pool thread running.
    with concurrent.futures.ThreadPoolExecutor(max_workers=4) as pool:
        cs = ChangeSet()
        new_ways = tables.get("new_ways")
        existing = tables.get("original_ways")
        # stage B's vertex fence needs no junctions: its job runs while the
        # driver builds the junction plan below
        fut_verts = (
            pool.submit(new_way_vertices, new_ways, key_col) if new_ways is not None else None
        )

        # A: junctions (single evaluation serves J1 closest-points AND J2 ids)
        if new_ways is not None and existing is not None:
            junction_nodes, junctions = synthesize_junctions(
                new_ways, existing, key_col=key_col, self_intersections=self_intersections,
            )
        else:
            junction_nodes = spark.createDataFrame(
                [], "rlon double, rlat double, lon double, lat double"
            )
            junctions = spark.createDataFrame(
                [], "nkey string, osm_id long, jx double, jy double, rlon double, rlat double"
            )
        jkey = _cell_key(F.col("rlon"), F.col("rlat"))
        cs.request_ids(junction_nodes, _K_JUNCTION, jkey)

        # B: new ways.  Way splitting happens on the member-KEY sequences, so
        # way ids can be requested in the same single resolve as node ids (the
        # chunk count depends only on member counts, not on resolved ids).
        wkey = F.concat_ws(":", F.col("nkey"), F.col("chunk"))
        # Stages B and C are independent once the junction frame is
        # materialized; each ends in an eager fence (a separate Spark
        # job with its own codegen compile).  Running them on two threads
        # overlaps those jobs — py4j releases the GIL on socket IO, and Spark
        # job submission is thread-safe.  cs.request_ids appends under the GIL;
        # resolve() orders by (kind, key), so request order is immaterial.
        def _stage_b():
            nb_ = build_new_ways(
                cs, new_ways, fut_verts.result(), junction_nodes, junctions, key_col=key_col,
                hstore_col=hstore_col,
            )
            cm = split_ways(
                nb_["ordered_members"], nds_col="mseq",
                node_limit=node_limit, chunk_size=chunk_size,
                joiner="duplicate_first" if reference_bytes else "shared",
            )
            # the id fence and the member-ref join both read the chunks
            return nb_, cm.join(nb_["way_tags"], "nkey").transform(
                fence, "changegen new-way chunks"
            )

        def _stage_c():
            # hstore expansion applies to intersecting-way modifies exactly
            # as it does to new features (generator.py:190-203 → :812).
            mod_excl = ("id", "geometry") if reference_bytes else ("id", "osm_id", "geometry")
            mod_way_tags = existing.select(
                F.col("osm_id"),
                _tags_map(existing, exclude=mod_excl, hstore_col=hstore_col).alias("tags"),
            )
            # fenced here, so its job overlaps stage B's instead of the sink's
            seq = modify_intersecting_ways(existing, junctions, tables["pbf_ways"])
            return seq.join(mod_way_tags, "osm_id").transform(
                fence, "changegen modified ways"
            )

        # Stages D/E/G below are pure driver-side plan building with no
        # dependency on B/C — they run while the pool's fence jobs
        # execute; the B/C futures are joined just before resolve
        # (request_ids order is immaterial: resolve sorts by kind+key).
        fut_b = fut_c = None
        nb = chunked_members = None
        mod_ways_seq = None
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
        poly_verts = _build_polygons(cs, polys) if polys is not None else None

        # G: deletions
        del_elems = []
        if tables.get("deleted_ways") is not None:
            del_elems = _deletion_elements(tables, skip_nodes=True)

        # join the overlapped B/C stages
        if fut_b is not None:
            nb, chunked_members = fut_b.result()
            cs.request_ids(chunked_members, _K_WAY, wkey)
        if fut_c is not None:
            mod_ways_seq = fut_c.result()

    # --- resolve ids and assemble elements ---
    # Both id joins read this table: fence it once, eagerly.
    ids = cs.resolve(id_offset, negative_ids).transform(fence, "changegen ids")

    # Member-ref join: one row per way or relation member, carrying its
    # owner element (okorder, oskey), or the owner's direct id for a
    # modified way, with the owner's kind and tags; its place in the
    # owner's list (seq); and its ref, a (korder, skey) id request or a
    # direct PBF node id.  One left join resolves every ref, and one sorted
    # list per owner rebuilds its nds or members.
    members = []
    if chunked_members is not None:
        members.append(_way_members(
            chunked_members, "create", (F.lit(_K_WAY), wkey, _null("long")),
            (
                F.lit(_K_VERTEX),
                F.concat_ws(":", F.col("nkey"), F.col("m.pos")),
                _null("long"),
            ),
        ))
    if mod_ways_seq is not None:
        no_request = (_null("int"), _null("string"))
        members.append(_way_members(
            mod_ways_seq, "modify", (*no_request, F.col("osm_id")),
            (*no_request, F.col("m.node_id")),
        ))
    if poly_verts is not None:
        members.extend(_polygon_members(poly_verts))

    empty_tags = F.create_map().cast("map<string,string>")

    def nodes(df: DataFrame, korder: int, skey, lat, lon, tags=empty_tags) -> DataFrame:
        # every column the element select reads, so a run with no ways or
        # relations still resolves it
        return tag_change(df.select(
            F.lit(korder).alias("korder"), skey.alias("skey"), F.lit("node").alias("kind"),
            lat.alias("lat"), lon.alias("lon"), tags.alias("tags"),
            _null("long").alias("direct"), _null("array<bigint>").alias("nds"),
            _null("array<struct<ref:bigint,type:string,role:string>>").alias("members"),
        ), "create")

    payloads = [nodes(junction_nodes, _K_JUNCTION, jkey, F.col("lat"), F.col("lon"))]
    if nb is not None:
        payloads.append(nodes(
            nb["vertex_nodes"], _K_VERTEX, F.concat_ws(":", F.col("nkey"), F.col("pos")),
            to_4326_lat(F.col("y")), to_4326_lon(F.col("x")),
        ))
    if pts is not None:
        payloads.append(nodes(
            pts, _K_POINT, F.concat(F.lit("pt:"), F.col("pt_id")),
            F.col("lat"), F.col("lon"), F.col("tags"),
        ))
    if poly_verts is not None:
        payloads.append(nodes(
            poly_verts, _K_POINT, F.col("node_key"),
            to_4326_lat(F.col("y")), to_4326_lon(F.col("x")),
        ))
    if members:
        resolved = reduce(DataFrame.unionByName, members).join(ids, ["korder", "skey"], "left")
        owned = resolved.groupBy(
            "okorder", "oskey", "odirect", "kind", "change_type", "version"
        ).agg(
            # every member row carries its owner's tags: any one will do,
            # and seq picks one deterministically
            F.min_by("tags", "seq").alias("tags"),
            F.array_sort(F.collect_list(F.struct(
                "seq", F.coalesce("direct", "new_id").alias("ref"), "role"
            ))).alias("mseq"),
        )
        payloads.append(owned.select(
            F.col("okorder").alias("korder"),
            F.col("oskey").alias("skey"),
            F.col("odirect").alias("direct"),
            "kind", "tags", "change_type", "version",
            F.when(
                F.col("kind") == "way", F.transform("mseq", lambda m: m["ref"])
            ).alias("nds"),
            F.when(F.col("kind") == "relation", F.transform(
                "mseq",
                lambda m: F.struct(
                    m["ref"].alias("ref"), F.lit("way").alias("type"), m["role"].alias("role")
                ),
            )).alias("members"),
        ))

    # Element join: every payload is keyed by its id request; modified
    # ways miss and keep their direct id.
    elements = reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), payloads
    ).join(ids, ["korder", "skey"], "left")
    parts = [elements.select(
        "kind",
        F.coalesce("direct", "new_id").alias("id"),
        "lat", "lon", "tags", "change_type", "version", "nds", "members",
    )]
    parts.extend(del_elems)

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


def _build_polygons(cs: ChangeSet, polys: DataFrame) -> DataFrame:
    """Stage E prep: explode polygon rings into vertex rows; request node,
    ring and relation ids.

    Simple polygons (no interiors) → one closed way carrying the tags;
    holed polygons → one way per ring + a type=multipolygon relation with
    outer/inner roles (changegen/generator.py:683-753)."""
    polys = polys.withColumn("__n_int", F.size(F.col("geometry.rings")) - 1)
    rings = polys.select(
        F.col("name").alias("pkey"),
        "__n_int",
        _tags_map(polys, exclude=("geometry", "__n_int")).alias("tags"),
        F.posexplode(F.col("geometry.rings")).alias("ring_idx", "__ring"),
    ).withColumn(
        "ring_key", F.concat_ws(":", F.lit("polyring"), F.col("pkey"), F.col("ring_idx"))
    )
    # drop the closing duplicate coordinate for node synthesis (M4 inverse)
    open_ring = F.slice(F.col("__ring"), 1, F.size(F.col("__ring")) - 1)
    verts = rings.select(
        "pkey", "ring_idx", "ring_key", "__n_int", "tags",
        F.size(open_ring).alias("n"),
        F.posexplode(open_ring).alias("pos", "__pt"),
    ).select(
        "pkey", "ring_idx", "ring_key", "__n_int", "tags", "n", "pos",
        F.col("__pt.x").alias("x"), F.col("__pt.y").alias("y"),
        F.concat_ws(
            ":", F.lit("poly"), F.col("pkey"), F.col("ring_idx"), F.col("pos")
        ).alias("node_key"),
    )
    cs.request_ids(verts, _K_POINT, F.col("node_key"))
    cs.request_ids(rings, _K_WAY, F.col("ring_key"))
    cs.request_ids(
        polys.filter(F.col("__n_int") > 0), _K_RELATION, F.col("name")
    )
    return verts


def _polygon_members(verts: DataFrame) -> list[DataFrame]:
    """Stage E member rows: each ring's nodes in order, closed by its first
    node again (M4), and each multipolygon relation's rings, outer first,
    then inner (M5).  A simple polygon's tags sit on its ring way, a holed
    one's on its relation.  Both come from ``verts``, so a degenerate ring
    (no vertices) is neither a way nor a member."""
    # a ring's first node is also its last, at seq n
    ring_nodes = verts.withColumn("seq", F.explode(
        F.when(F.col("pos") == 0, F.array("pos", "n")).otherwise(F.array("pos"))
    ))
    ring_tags = F.when(F.col("__n_int") == 0, F.col("tags")).otherwise(
        F.create_map().cast("map<string,string>")
    )
    rel_tags = F.map_concat(
        F.col("tags"),
        F.create_map(F.lit("type"), F.lit("multipolygon")).cast("map<string,string>"),
    )
    role = F.when(F.col("ring_idx") == 0, F.lit("outer")).otherwise(F.lit("inner"))
    return [
        _member_rows(
            ring_nodes, "way", "create",
            (F.lit(_K_WAY), F.col("ring_key"), _null("long")), ring_tags, F.col("seq"),
            (F.lit(_K_POINT), F.col("node_key"), _null("long")),
        ),
        _member_rows(
            verts.filter((F.col("pos") == 0) & (F.col("__n_int") > 0)), "relation", "create",
            (F.lit(_K_RELATION), F.col("pkey"), _null("long")), rel_tags, F.col("ring_idx"),
            (F.lit(_K_WAY), F.col("ring_key"), _null("long")), role,
        ),
    ]


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
