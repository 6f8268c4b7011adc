"""Geospatial operator inventory queries (SURVEY §2.3 J1-J4, §2.4 A3, §2.7 F1-F8).

No Sedona in this container, so geometry is pure PySpark: points are (x, y)
double columns synthesized deterministically from the events table (both
sides derive identical coordinates with integer arithmetic), the distance
join is the grid-partitioned equi-join from ``changegen_spark.geo.join``,
and reprojection is closed-form Web-Mercator math.  The DuckDB oracle uses a
naive cross-join + filter — same answer, quadratic plan — which is exactly
the point: the Spark side must scale, the oracle only validates semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from changegen_spark.geo.join import grid_distance_join
from changegen_spark.geo.mercator import to_3857_x, to_3857_y, to_4326_lat, to_4326_lon
from changegen_spark.operators.dedup import grid_dedup_points
from changegen_spark.operators.fence import fence
from changegen_spark.sources.tables import load_table

# Deterministic synthetic point field: 100×100 units, ~1 point per unit².
# The integer-division terms break the pure linear-congruence lattice so
# genuine near-pairs exist; all arithmetic is integer → bit-identical in any
# engine.
_PTS_SQL = """
  SELECT event_id AS pid,
         CAST((event_id * 37 + (event_id // 11) * 193) % 1000 AS DOUBLE) / 10 AS x,
         CAST((event_id * 61 + (event_id // 13) * 389) % 1000 AS DOUBLE) / 10 AS y
  FROM events
"""


def _points(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    eid = F.col("event_id")
    return ev.select(
        eid.alias("pid"),
        (((eid * 37 + F.expr("event_id div 11") * 193) % 1000).cast("double") / 10).alias("x"),
        (((eid * 61 + F.expr("event_id div 13") * 389) % 1000).cast("double") / 10).alias("y"),
    )


# --- J1: distance join (ST_DWithin analog) with closest-point distance ---

def q_distance_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs (a, b) with dist ≤ 0.5, a from a sparse probe set, b from the
    full field; NOT-equal guard as in changegen/db.py:134.  Spark plan:
    grid-cell equi-join (filter-and-refine); oracle plan: cross join."""
    pts = _points(spark, sf_dir)
    probes = pts.filter(F.col("pid") % 20 == 0)
    pairs = grid_distance_join(
        probes, pts, radius=0.5, left_cols=("x", "y"), right_cols=("x", "y"),
        exclude_equal=True,
    )
    return (
        pairs.select(
            F.col("l_pid").alias("a_id"),
            F.col("r_pid").alias("b_id"),
            F.round(F.col("dist"), 6).alias("dist"),
        )
        .orderBy("a_id", "b_id")
    )


Q_DISTANCE_JOIN_SQL = f"""
WITH pts AS ({_PTS_SQL})
SELECT a.pid AS a_id, b.pid AS b_id,
       round(sqrt((a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y)), 6) AS dist
FROM pts a JOIN pts b
  ON a.pid % 20 = 0
 AND NOT (a.x = b.x AND a.y = b.y)
 AND sqrt((a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y)) <= 0.5
ORDER BY a_id, b_id
"""


# --- J2: spatial semi-join → distinct id list ---

def q_dwithin_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct ids of 'existing' points within 0.3 of any 'new' point —
    the id-list half of changegen/db.py:141-146, computed from the SAME
    cached join as J1 (the reference re-executes the predicate; we don't)."""
    pts = _points(spark, sf_dir)
    new = pts.filter(F.col("pid") % 7 == 0)
    existing = pts.filter(F.col("pid") % 7 != 0)
    pairs = grid_distance_join(
        new, existing, radius=0.3, left_cols=("x", "y"), right_cols=("x", "y")
    )
    return pairs.select(F.col("r_pid").alias("osm_id")).distinct().orderBy("osm_id")


Q_DWITHIN_SEMI_SQL = f"""
WITH pts AS ({_PTS_SQL})
SELECT DISTINCT e.pid AS osm_id
FROM pts n JOIN pts e
  ON n.pid % 7 = 0 AND e.pid % 7 != 0
 AND sqrt((n.x-e.x)*(n.x-e.x) + (n.y-e.y)*(n.y-e.y)) <= 0.3
ORDER BY osm_id
"""


# --- J3: spatial self-join (junctions among new features) ---

def q_self_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """--self parity (changegen/__main__.py:131-139): same layer on both
    sides, coincident points excluded, closest-point distance emitted;
    symmetric pairs deduped by id order."""
    pts = _points(spark, sf_dir).filter(F.col("pid") % 10 == 0)
    pairs = grid_distance_join(
        pts, pts, radius=0.7, left_cols=("x", "y"), right_cols=("x", "y"),
        exclude_equal=True,
    ).filter(F.col("l_pid") < F.col("r_pid"))
    return (
        pairs.select(
            F.col("l_pid").alias("a_id"),
            F.col("r_pid").alias("b_id"),
            F.round(F.col("dist"), 6).alias("dist"),
        )
        .orderBy("a_id", "b_id")
    )


Q_SELF_JOIN_SQL = f"""
WITH pts AS (SELECT * FROM ({_PTS_SQL}) WHERE pid % 10 = 0)
SELECT a.pid AS a_id, b.pid AS b_id,
       round(sqrt((a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y)), 6) AS dist
FROM pts a JOIN pts b
  ON a.pid < b.pid
 AND NOT (a.x = b.x AND a.y = b.y)
 AND sqrt((a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y)) <= 0.7
ORDER BY a_id, b_id
"""


# --- A3: grid dedup at 6-decimal precision, last-wins ---

def q_grid_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COORDINATE_PRECISION dedup (changegen/generator.py:31,137-142):
    coarse synthetic coords force collisions; last-wins by max event id."""
    ev = load_table(spark, sf_dir, "events")
    pts = ev.select(
        F.col("event_id").alias("pid"),
        (((F.col("event_id") * 13) % 200).cast("double") / 7).alias("lon"),
        (((F.col("event_id") * 29) % 200).cast("double") / 7).alias("lat"),
    )
    kept = grid_dedup_points(pts, x_col="lon", y_col="lat", order_col="pid")
    return kept.select(
        "pid", F.round("lon", 6).alias("lon"), F.round("lat", 6).alias("lat")
    ).orderBy("pid")


Q_GRID_DEDUP_SQL = """
WITH pts AS (
  SELECT event_id AS pid,
         CAST((event_id * 13) % 200 AS DOUBLE) / 7 AS lon,
         CAST((event_id * 29) % 200 AS DOUBLE) / 7 AS lat
  FROM events
)
SELECT max(pid) AS pid, round(arg_max(lon, pid), 6) AS lon, round(arg_max(lat, pid), 6) AS lat
FROM pts GROUP BY round(lon, 6), round(lat, 6)
ORDER BY pid
"""


# --- F1: Web-Mercator reprojection round-trip ---

def q_mercator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EPSG:4326 → 3857 → 4326 closed form (changegen/generator.py:29-30);
    bbox chosen inside the reference fixture extent (FIXTURES.md)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") % 10 == 0)
    lon = F.lit(-118.48) + ((F.col("event_id") * 7) % 560).cast("double") / 1000.0
    lat = F.lit(48.43) + ((F.col("event_id") * 11) % 420).cast("double") / 1000.0
    pts = ev.select(F.col("event_id").alias("pid"), lon.alias("lon"), lat.alias("lat"))
    out = pts.select(
        "pid",
        F.round(to_3857_x(F.col("lon")), 3).alias("x3857"),
        F.round(to_3857_y(F.col("lat")), 3).alias("y3857"),
        F.round(to_4326_lon(to_3857_x(F.col("lon"))), 9).alias("lon_rt"),
        F.round(to_4326_lat(to_3857_y(F.col("lat"))), 9).alias("lat_rt"),
    )
    return out.orderBy("pid")


Q_MERCATOR_SQL = """
WITH pts AS (
  SELECT event_id AS pid,
         -118.48 + CAST((event_id * 7) % 560 AS DOUBLE) / 1000.0 AS lon,
         48.43 + CAST((event_id * 11) % 420 AS DOUBLE) / 1000.0 AS lat
  FROM events WHERE event_id % 10 = 0
)
SELECT pid,
       round(radians(lon) * 6378137.0, 3) AS x3857,
       round(6378137.0 * ln(tan(pi()/4 + radians(lat)/2)), 3) AS y3857,
       round(degrees((radians(lon) * 6378137.0) / 6378137.0), 9) AS lon_rt,
       round(degrees(2*atan(exp((6378137.0 * ln(tan(pi()/4 + radians(lat)/2))) / 6378137.0)) - pi()/2), 9) AS lat_rt
FROM pts ORDER BY pid
"""


# --- J4/W4: nearest-candidate selection (min-distance junction node) ---

def q_nearest_neighbor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For each probe, the single nearest other point within 1.5 units —
    the reference's sort-by-distance-take-first (generator.py:440-443) as
    min_by over the grid join."""
    pts = _points(spark, sf_dir)
    probes = pts.filter(F.col("pid") % 100 == 0)
    pairs = grid_distance_join(
        probes, pts, radius=1.5, left_cols=("x", "y"), right_cols=("x", "y"),
        exclude_equal=True,
    )
    return (
        pairs.groupBy(F.col("l_pid").alias("probe_id"))
        .agg(
            F.min_by(F.col("r_pid"), F.struct(F.col("dist"), F.col("r_pid"))).alias("nearest_id"),
            F.round(F.min(F.col("dist")), 6).alias("nearest_dist"),
        )
        .orderBy("probe_id")
    )


KNN_K = 3
KNN_RADIUS = 1.5


def q_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-radius k-nearest-neighbor join: for each probe, the up-to-3
    nearest other points within 1.5 units, ranked — the multi-match
    generalization of q_nearest_neighbor (same grid candidates, a
    per-probe top-k window instead of min_by).

    The radius bound is what makes a distributed kNN join tractable: grid
    candidates are complete within it (the spatial-join guarantee), so
    rank ≤ k over them is exact for every neighbor within the radius —
    the contract real pipelines use (post-filter ANN, map-matching,
    junction candidate ranking).  Unbounded exact kNN needs expanding
    ring searches; the bounded form is one equi-join + one window.
    Ties break (dist, neighbor id) — deterministic in both engines.
    """
    pts = _points(spark, sf_dir)
    probes = pts.filter(F.col("pid") % 100 == 0)
    pairs = grid_distance_join(
        probes, pts, radius=KNN_RADIUS, left_cols=("x", "y"),
        right_cols=("x", "y"), exclude_equal=True,
    )
    w = Window.partitionBy("l_pid").orderBy(
        F.round(F.col("dist"), 6), F.col("r_pid")
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= KNN_K)
        .select(
            F.col("l_pid").alias("probe_id"),
            "rank",
            F.col("r_pid").alias("neighbor_id"),
            F.round(F.col("dist"), 6).alias("dist"),
        )
        .orderBy("probe_id", "rank")
    )


Q_KNN_JOIN_SQL = f"""
WITH pts AS ({_PTS_SQL}),
cand AS (
  SELECT a.pid AS probe_id, b.pid AS neighbor_id,
         round(sqrt((a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y)), 6) AS dist
  FROM pts a JOIN pts b
    ON a.pid % 100 = 0
   AND NOT (a.x = b.x AND a.y = b.y)
   AND sqrt((a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y)) <= {KNN_RADIUS}
)
SELECT probe_id, rn AS rank, neighbor_id, dist
FROM (
  SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY dist, neighbor_id) AS rn
  FROM cand
) WHERE rn <= {KNN_K} ORDER BY probe_id, rank
"""


Q_NEAREST_SQL = f"""
WITH pts AS ({_PTS_SQL}),
cand AS (
  SELECT a.pid AS probe_id, b.pid AS b_id,
         sqrt((a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y)) AS dist
  FROM pts a JOIN pts b
    ON a.pid % 100 = 0
   AND NOT (a.x = b.x AND a.y = b.y)
   AND sqrt((a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y)) <= 1.5
)
SELECT probe_id, b_id AS nearest_id, round(dist, 6) AS nearest_dist
FROM (
  SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY dist, b_id) AS rn
  FROM cand
) WHERE rn = 1 ORDER BY probe_id
"""


# --- W2: point insertion index with a full SQL oracle ---

def q_insertion_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's core way-modification primitive
    (changegen/generator.py:208-255): for a synthetic polyline per order
    (vertices from lineitems) and a probe point derived from the order key,
    the index at which the point inserts.  Exercised end-to-end as
    cumulative-fraction + clamped segment projection + argmin window."""
    from changegen_spark.operators.ways import insertion_index

    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_orderkey") % 400 == 0)
    )
    w = Window.partitionBy("l_orderkey").orderBy("l_linenumber", "l_partkey")
    verts = li.select(
        "l_orderkey",
        (F.row_number().over(w) - 1).alias("pos"),
        (F.row_number().over(w) * 2).cast("double").alias("x"),
        ((F.col("l_partkey") % 7)).cast("double").alias("y"),
    )
    # probe point: inside the polyline's x-range, off-axis in y
    probes = verts.groupBy("l_orderkey").agg(
        (F.max("x") * 0.4).alias("px"), F.lit(1.5).alias("py"),
        F.count("*").alias("n"),
    ).filter(F.col("n") >= 3)
    vp = verts.join(probes, "l_orderkey")
    out = insertion_index(vp, ["l_orderkey"], "px", "py")
    return out.select("l_orderkey", "insert_idx").orderBy("l_orderkey")


Q_INSERTION_INDEX_SQL = """
WITH verts AS (
  SELECT l_orderkey,
         CAST(row_number() OVER w - 1 AS BIGINT) AS pos,
         CAST(row_number() OVER w * 2 AS DOUBLE) AS x,
         CAST(l_partkey % 7 AS DOUBLE) AS y
  FROM lineitem WHERE l_orderkey % 400 = 0
  WINDOW w AS (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey)
), probes AS (
  SELECT l_orderkey, max(x) * 0.4 AS px, 1.5 AS py
  FROM verts GROUP BY l_orderkey HAVING count(*) >= 3
), seg AS (
  SELECT v.l_orderkey, v.pos, p.px, p.py,
         lag(v.x) OVER w AS ax, lag(v.y) OVER w AS ay, v.x AS bx, v.y AS by
  FROM verts v JOIN probes p USING (l_orderkey)
  WINDOW w AS (PARTITION BY v.l_orderkey ORDER BY v.pos)
), seg2 AS (
  SELECT *, sqrt((bx-ax)*(bx-ax) + (by-ay)*(by-ay)) AS slen,
         CASE WHEN (bx-ax)*(bx-ax) + (by-ay)*(by-ay) > 0
              THEN least(greatest(((px-ax)*(bx-ax) + (py-ay)*(by-ay))
                   / ((bx-ax)*(bx-ax) + (by-ay)*(by-ay)), 0), 1)
              ELSE 0 END AS t
  FROM seg WHERE ax IS NOT NULL
), seg3 AS (
  SELECT *, (px - (ax + t*(bx-ax)))*(px - (ax + t*(bx-ax)))
          + (py - (ay + t*(by-ay)))*(py - (ay + t*(by-ay))) AS d2,
         sum(slen) OVER (PARTITION BY l_orderkey ORDER BY pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         sum(slen) OVER (PARTITION BY l_orderkey) AS total
  FROM seg2
), best AS (
  SELECT l_orderkey, (cum - slen + t*slen) / total AS pf
  FROM (SELECT *, row_number() OVER (PARTITION BY l_orderkey ORDER BY d2, pos) AS rn FROM seg3)
  WHERE rn = 1
), vfrac AS (
  SELECT s.l_orderkey, s.pos, s.cum / s.total AS vf, b.pf
  FROM seg3 s JOIN best b USING (l_orderkey)
)
SELECT l_orderkey, CAST(min(pos) AS BIGINT) AS insert_idx
FROM vfrac WHERE vf > pf
GROUP BY l_orderkey ORDER BY l_orderkey
"""


# --- J1 refine kernel: segment-segment closest point, direct oracle ---

_SEGPAIRS_SQL = """
  SELECT event_id AS pid,
         CAST((event_id * 31) % 97 AS DOUBLE) AS lax,
         CAST((event_id * 37) % 89 AS DOUBLE) AS lay,
         CAST((event_id * 41) % 97 AS DOUBLE) AS lbx,
         CAST((event_id * 43) % 89 AS DOUBLE) AS lby,
         CAST((event_id * 47) % 97 AS DOUBLE) AS rax,
         CAST((event_id * 53) % 89 AS DOUBLE) AS ray,
         CAST((event_id * 59) % 97 AS DOUBLE) AS rbx,
         CAST((event_id * 61) % 89 AS DOUBLE) AS rby
  FROM events WHERE event_id % 40 = 0
"""


def q_segment_closest_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The spatial-join refine kernel (ST_ClosestPoint on segment pairs,
    changegen/db.py:129): synthetic segment pairs → closest point on the
    left segment + distance, covering both the crossing branch (dist 0,
    exact crossing point) and the projection branch."""
    from changegen_spark.geo.segments import closest_point_cols, segment_pair_closest

    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") % 40 == 0)
    eid = F.col("event_id")
    pairs = ev.select(
        eid.alias("pid"),
        ((eid * 31) % 97).cast("double").alias("lax"),
        ((eid * 37) % 89).cast("double").alias("lay"),
        ((eid * 41) % 97).cast("double").alias("lbx"),
        ((eid * 43) % 89).cast("double").alias("lby"),
        ((eid * 47) % 97).cast("double").alias("rax"),
        ((eid * 53) % 89).cast("double").alias("ray"),
        ((eid * 59) % 97).cast("double").alias("rbx"),
        ((eid * 61) % 89).cast("double").alias("rby"),
    )
    out = pairs.select("pid", segment_pair_closest().alias("__cp"))
    out = out.select("pid", *closest_point_cols())
    return out.select(
        "pid",
        F.round("cp_x", 6).alias("cp_x"),
        F.round("cp_y", 6).alias("cp_y"),
        F.round("dist", 6).alias("dist"),
        (F.col("dist") == 0.0).alias("crossing"),
    ).orderBy("pid")


Q_SEGMENT_CP_SQL = f"""
WITH pairs AS ({_SEGPAIRS_SQL}),
c AS (
  SELECT *,
         (lbx-lax) AS rx, (lby-lay) AS ry,
         (rbx-rax) AS sx, (rby-ray) AS sy,
         (rax-lax) AS qpx, (ray-lay) AS qpy
  FROM pairs
), tuv AS (
  SELECT *,
         rx*sy - ry*sx AS denom,
         CASE WHEN rx*sy - ry*sx != 0
              THEN (qpx*sy - qpy*sx) / (rx*sy - ry*sx) ELSE 0 END AS t,
         CASE WHEN rx*sy - ry*sx != 0
              THEN (qpx*ry - qpy*rx) / (rx*sy - ry*sx) ELSE 0 END AS u
  FROM c
), cand AS (
  SELECT *,
         denom != 0 AND t >= 0 AND t <= 1 AND u >= 0 AND u <= 1 AS crossing,
         -- candidate 1/2: right endpoints projected onto the left segment
         CASE WHEN rx*rx + ry*ry > 0
              THEN least(greatest(((rax-lax)*rx + (ray-lay)*ry) / (rx*rx + ry*ry), 0), 1)
              ELSE 0 END AS t1,
         CASE WHEN rx*rx + ry*ry > 0
              THEN least(greatest(((rbx-lax)*rx + (rby-lay)*ry) / (rx*rx + ry*ry), 0), 1)
              ELSE 0 END AS t2,
         -- candidate 3/4: left endpoints projected onto the right segment
         CASE WHEN sx*sx + sy*sy > 0
              THEN least(greatest(((lax-rax)*sx + (lay-ray)*sy) / (sx*sx + sy*sy), 0), 1)
              ELSE 0 END AS t3,
         CASE WHEN sx*sx + sy*sy > 0
              THEN least(greatest(((lbx-rax)*sx + (lby-ray)*sy) / (sx*sx + sy*sy), 0), 1)
              ELSE 0 END AS t4
  FROM tuv
), scored AS (
  SELECT *,
         (rax - (lax + t1*rx))*(rax - (lax + t1*rx)) + (ray - (lay + t1*ry))*(ray - (lay + t1*ry)) AS d1,
         (rbx - (lax + t2*rx))*(rbx - (lax + t2*rx)) + (rby - (lay + t2*ry))*(rby - (lay + t2*ry)) AS d2,
         (lax - (rax + t3*sx))*(lax - (rax + t3*sx)) + (lay - (ray + t3*sy))*(lay - (ray + t3*sy)) AS d3,
         (lbx - (rax + t4*sx))*(lbx - (rax + t4*sx)) + (lby - (ray + t4*sy))*(lby - (ray + t4*sy)) AS d4
  FROM cand
), tupled AS (
  -- candidate ordering mirrors the Spark array_min struct comparison:
  -- lexicographic on (d, qx, qy)
  SELECT *,
         {{'d': d1, 'qx': lax + t1*rx, 'qy': lay + t1*ry}} AS c1,
         {{'d': d2, 'qx': lax + t2*rx, 'qy': lay + t2*ry}} AS c2,
         {{'d': d3, 'qx': lax, 'qy': lay}} AS c3,
         {{'d': d4, 'qx': lbx, 'qy': lby}} AS c4
  FROM scored
), best AS (
  SELECT *,
         CASE WHEN crossing THEN {{'d': 0.0, 'qx': lax + t*rx, 'qy': lay + t*ry}}
              WHEN c1 <= c2 AND c1 <= c3 AND c1 <= c4 THEN c1
              WHEN c2 <= c3 AND c2 <= c4 THEN c2
              WHEN c3 <= c4 THEN c3
              ELSE c4 END AS w
  FROM tupled
)
SELECT pid,
       round(w.qx, 6) AS cp_x,
       round(w.qy, 6) AS cp_y,
       round(CASE WHEN crossing THEN 0.0 ELSE sqrt(w.d) END, 6) AS dist,
       (CASE WHEN crossing THEN 0.0 ELSE sqrt(w.d) END) = 0.0 AS crossing
FROM best ORDER BY pid
"""


def q_geo_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometry measures (F-family: ST_Length / ST_Area / ST_Envelope /
    ST_Centroid analogs) of each user's event trajectory: points ordered by
    the strict (ts, event_id) key form a polyline; closing it to the first
    point forms a polygon.

    Everything is exact integer arithmetic on 0.1-unit coordinates
    (the synthetic field has 1 decimal → x10/y10 are integers):
    per-segment lengths are e6-scaled integers BEFORE summation, the
    shoelace twice-area is a pure integer sum (products of int
    coordinates), bbox is integer min/max, and the centroid is the ratio
    of two exact sums rounded to 6 dp.  No double ever crosses a shuffle.

    Scale shape: one lag window per user (the clickstream's natural key)
    + one aggregate; the closing term uses min_by/max_by on the same
    total order — no second window pass.
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") % 10 == 0)
    eid = F.col("event_id")
    pts = ev.select(
        "user_id",
        "ts",
        "event_id",
        ((eid * 37 + F.expr("event_id div 11") * 193) % 1000).alias("x10"),
        ((eid * 61 + F.expr("event_id div 13") * 389) % 1000).alias("y10"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seg = (
        pts.withColumn("px", F.lag("x10").over(w))
        .withColumn("py", F.lag("y10").over(w))
    )
    dx, dy = F.col("x10") - F.col("px"), F.col("y10") - F.col("py")
    # 0.1-unit segment length scaled to e6 of ORIGINAL units: sqrt/10*1e6
    seg_len_e6 = F.round(F.sqrt(dx * dx + dy * dy) * 100000).cast("long")
    cross = F.col("px") * F.col("y10") - F.col("x10") * F.col("py")
    okey = F.struct(F.col("ts"), F.col("event_id"))
    agg = seg.groupBy("user_id").agg(
        F.count("*").alias("n_points"),
        F.coalesce(F.sum(seg_len_e6), F.lit(0)).alias("path_len_e6"),
        F.coalesce(F.sum(cross), F.lit(0)).alias("open_cross"),
        F.min("x10").alias("min_x10"),
        F.max("x10").alias("max_x10"),
        F.min("y10").alias("min_y10"),
        F.max("y10").alias("max_y10"),
        F.sum("x10").alias("sx"),
        F.sum("y10").alias("sy"),
        F.min_by(F.struct("x10", "y10"), okey).alias("first_pt"),
        F.max_by(F.struct("x10", "y10"), okey).alias("last_pt"),
    )
    closing = (
        F.col("last_pt.x10") * F.col("first_pt.y10")
        - F.col("first_pt.x10") * F.col("last_pt.y10")
    )
    return (
        agg.select(
            "user_id",
            "n_points",
            "path_len_e6",
            # |twice signed area| in 0.01-unit² (x10*y10 products)
            F.abs(F.col("open_cross") + closing).alias("area2_e2"),
            "min_x10",
            "max_x10",
            "min_y10",
            "max_y10",
            F.round(F.col("sx") / F.col("n_points") / 10, 6).alias("centroid_x"),
            F.round(F.col("sy") / F.col("n_points") / 10, 6).alias("centroid_y"),
        )
        .orderBy("user_id")
    )


Q_GEO_MEASURES_SQL = """
WITH pts AS (
  SELECT user_id, ts, event_id,
         (event_id * 37 + (event_id // 11) * 193) % 1000 AS x10,
         (event_id * 61 + (event_id // 13) * 389) % 1000 AS y10
  FROM events WHERE user_id % 10 = 0
), seg AS (
  SELECT *,
         lag(x10) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS px,
         lag(y10) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS py,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC)
           AS rrn
  FROM pts
)
SELECT user_id,
       count(*) AS n_points,
       CAST(coalesce(sum(CAST(round(sqrt((x10 - px) * (x10 - px)
                + (y10 - py) * (y10 - py)) * 100000) AS BIGINT)), 0) AS BIGINT)
         AS path_len_e6,
       CAST(abs(coalesce(sum(px * y10 - x10 * py), 0)
           + max(CASE WHEN rrn = 1 THEN x10 END)
             * max(CASE WHEN rn = 1 THEN y10 END)
           - max(CASE WHEN rn = 1 THEN x10 END)
             * max(CASE WHEN rrn = 1 THEN y10 END)) AS BIGINT) AS area2_e2,
       CAST(min(x10) AS BIGINT) AS min_x10, CAST(max(x10) AS BIGINT) AS max_x10,
       CAST(min(y10) AS BIGINT) AS min_y10, CAST(max(y10) AS BIGINT) AS max_y10,
       round(sum(x10) * 1.0 / count(*) / 10, 6) AS centroid_x,
       round(sum(y10) * 1.0 / count(*) / 10, 6) AS centroid_y
FROM seg
GROUP BY user_id
ORDER BY user_id
"""


SIMPLIFY_EPS = 5.0  # 0.5 original units in x10 coordinates


def q_simplify_trajectories(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Douglas-Peucker simplification of each user trajectory (rows-only:
    the recursive split is not SQL — the independent-implementation pin is
    tests/test_ops_random.py::test_douglas_peucker_*): per user, original
    vs kept vertex counts and the e6 compression ratio at eps = 0.5
    units."""
    from changegen_spark.geo.simplify import simplify_arrays

    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") % 10 == 0)
    eid = F.col("event_id")
    pts = ev.select(
        "user_id",
        F.struct("ts", "event_id").alias("ok"),
        ((eid * 37 + F.expr("event_id div 11") * 193) % 1000)
        .cast("double")
        .alias("x10"),
        ((eid * 61 + F.expr("event_id div 13") * 389) % 1000)
        .cast("double")
        .alias("y10"),
    )
    traj = pts.groupBy("user_id").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("ok", "x10", "y10"))),
            lambda s: s["x10"],
        ).alias("xs"),
        F.transform(
            F.sort_array(F.collect_list(F.struct("ok", "x10", "y10"))),
            lambda s: s["y10"],
        ).alias("ys"),
    )
    kept = F.size(simplify_arrays(F.col("xs"), F.col("ys"), SIMPLIFY_EPS))
    return (
        traj.select(
            "user_id",
            F.size("xs").alias("n_points"),
            kept.alias("n_kept"),
            F.round(kept * F.lit(1_000_000) / F.size("xs")).cast("long").alias(
                "keep_ratio_e6"
            ),
        )
        .orderBy("user_id")
    )


# Fixed test polygon for the ST_Contains analog: a non-convex pentagon in
# x10 integer coordinates (star-ish notch exercises the crossing-number
# parity).  Closed implicitly (last edge joins back to the first vertex).
PIP_POLY = [(100, 100), (800, 150), (650, 500), (450, 300), (150, 700)]


def _pip_edges(poly=None):
    poly = poly or PIP_POLY
    return list(zip(poly, poly[1:] + poly[:1]))


def _pip_spark(px, py, poly=None) -> F.Column:
    """Crossing-number point-in-polygon as a pure integer expression.

    For edge (x1,y1)->(x2,y2), a rightward ray from (px,py) crosses iff
    the edge spans py half-open ((y1 > py) != (y2 > py)) AND the
    intersection x exceeds px — tested by cross-multiplication with the
    sign of (y2-y1), so NO division ever happens: every comparison is
    exact int64 arithmetic, bit-identical in any engine."""
    inside = F.lit(False)
    for (x1, y1), (x2, y2) in _pip_edges(poly):
        spans = (F.lit(y1) > py) != (F.lit(y2) > py)
        lhs = (px - F.lit(x1)) * F.lit(y2 - y1)
        rhs = (py - F.lit(y1)) * F.lit(x2 - x1)
        crosses = spans & (F.when(F.lit(y2 - y1 > 0), lhs < rhs).otherwise(lhs > rhs))
        inside = F.when(crosses, ~inside).otherwise(inside)
    return inside


def _pip_sql(px: str, py: str, poly=None) -> str:
    terms = []
    for (x1, y1), (x2, y2) in _pip_edges(poly):
        op = "<" if (y2 - y1) > 0 else ">"
        terms.append(
            f"CAST((({y1} > {py}) != ({y2} > {py}))"
            f" AND (({px} - {x1}) * ({y2 - y1}) {op} ({py} - {y1}) * ({x2 - x1}))"
            " AS INT)"
        )
    return "(" + " + ".join(terms) + ") % 2 = 1"


def q_point_in_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_Contains analog: which synthetic field points fall inside the
    fixed non-convex test pentagon (crossing-number / even-odd rule).

    The Spark side folds the per-edge crossing tests with XOR; the oracle
    sums the same per-edge booleans and checks odd parity — two
    formulations of the even-odd rule over identical exact-integer edge
    tests.  Map-only; at scale this is the polygon-probe inner loop of a
    point-in-polygon join after a grid/bbox prefilter (geo/join.py)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") % 5 == 0)
    eid = F.col("event_id")
    x10 = (eid * 37 + F.expr("event_id div 11") * 193) % 1000
    y10 = (eid * 61 + F.expr("event_id div 13") * 389) % 1000
    return (
        ev.select(
            eid.alias("pid"),
            x10.alias("x10"),
            y10.alias("y10"),
            _pip_spark(x10, y10).alias("inside"),
        )
        .filter(F.col("inside"))
        .select("pid", "x10", "y10")
        .orderBy("pid")
    )


Q_PIP_SQL = f"""
WITH pts AS (
  SELECT event_id AS pid,
         (event_id * 37 + (event_id // 11) * 193) % 1000 AS x10,
         (event_id * 61 + (event_id // 13) * 389) % 1000 AS y10
  FROM events WHERE event_id % 5 = 0
)
SELECT pid, CAST(x10 AS BIGINT) AS x10, CAST(y10 AS BIGINT) AS y10
FROM pts
WHERE {_pip_sql("x10", "y10")}
ORDER BY pid
"""


# Containment-join polygon set: the test pentagon plus integer-derived
# translations/shrink — distinct overlap patterns over the [0,1000)² field.
PIP_POLYS = {
    1: PIP_POLY,
    2: [(x + 120, y - 60) for x, y in PIP_POLY],
    3: [((x + 500) // 2, (y + 500) // 2) for x, y in PIP_POLY],
    4: [(x - 80, y + 200) for x, y in PIP_POLY],
}


def q_containment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_Contains JOIN: every (polygon_id, point) containment pair
    against a small polygon table — the dimension-side-literal spatial
    join (zone assignment, geofencing).

    Because the polygon side is a handful of fixed rings, the join is a
    UNION of map-only passes — one exact-integer crossing-number
    predicate per polygon compiled into the scan, ZERO shuffle until the
    final order.  This is the broadcast-dimension degenerate case of the
    containment join; the data-sized-both-sides form adds the grid/bbox
    prefilter (q_bbox_join) in front of the same per-edge test.  Points
    on the even-odd boundary follow the half-open crossing rule
    identically in both engines (pure int64 comparisons).
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") % 5 == 0)
    eid = F.col("event_id")
    x10 = (eid * 37 + F.expr("event_id div 11") * 193) % 1000
    y10 = (eid * 61 + F.expr("event_id div 13") * 389) % 1000
    parts = []
    for poly_id, poly in PIP_POLYS.items():
        parts.append(
            ev.select(
                F.lit(poly_id).alias("poly_id"),
                eid.alias("pid"),
                _pip_spark(x10, y10, poly).alias("inside"),
            ).filter(F.col("inside"))
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select("poly_id", "pid").orderBy("poly_id", "pid")


def _containment_sql() -> str:
    branches = []
    for poly_id, poly in PIP_POLYS.items():
        branches.append(
            f"SELECT {poly_id} AS poly_id, pid FROM pts WHERE "
            + _pip_sql("x10", "y10", poly)
        )
    union = "\nUNION ALL\n".join(branches)
    return f"""
WITH pts AS (
  SELECT event_id AS pid,
         (event_id * 37 + (event_id // 11) * 193) % 1000 AS x10,
         (event_id * 61 + (event_id // 13) * 389) % 1000 AS y10
  FROM events WHERE event_id % 5 = 0
)
{union}
ORDER BY poly_id, pid
"""


Q_CONTAINMENT_JOIN_SQL = _containment_sql()


def q_convex_hulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Convex hull stats per user trajectory (rows-only — the monotone
    chain is not SQL; invariant pins in tests/test_ops_random.py): hull
    vertex count and the exact integer twice-area of the hull."""
    from changegen_spark.geo.hull import hull_stats

    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") % 10 == 0)
    eid = F.col("event_id")
    pts = ev.select(
        "user_id",
        ((eid * 37 + F.expr("event_id div 11") * 193) % 1000).alias("x10"),
        ((eid * 61 + F.expr("event_id div 13") * 389) % 1000).alias("y10"),
    )
    traj = pts.groupBy("user_id").agg(
        F.collect_list("x10").alias("xs"), F.collect_list("y10").alias("ys")
    )
    st = hull_stats(F.col("xs"), F.col("ys"))
    return (
        traj.select(
            "user_id",
            F.size("xs").alias("n_points"),
            st["n_hull"].alias("n_hull"),
            st["hull_area2"].alias("hull_area2_e2"),
        )
        .orderBy("user_id")
    )


EARTH_R = 6371008.8  # IUGG mean radius, meters


def q_haversine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geodesic (haversine) vs planar-Mercator distance for consecutive
    sampled points — the geodesic correction the pipeline's planar 3857
    math deliberately omits (GAPS.md), quantified: at ~48.5°N the
    Mercator planar distance overstates ground distance by ~1/cos(lat) ≈
    1.51x.

    Output per consecutive pair: haversine meters and planar 3857 meters
    (both rounded to 3 dp).  Transcendentals (sin/cos/asin/ln/tan) are
    IEEE-identical across these engines at 3-dp rounding — the same
    contract q_mercator already relies on.

    Consecutive-pair pairing uses the same two-phase pattern as q_gini:
    range-partition by pid, lag WITHIN each partition, then stitch the
    partition boundaries from a tiny per-partition first/last frame (the
    only global window runs over ≤ N_PARTITIONS rows).  No
    single-partition scan of the data at any scale."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") % 10 == 0)
    lon = F.lit(-118.48) + ((F.col("event_id") * 7) % 560).cast("double") / 1000.0
    lat = F.lit(48.43) + ((F.col("event_id") * 11) % 420).cast("double") / 1000.0
    # fence = CORRECTNESS (r9 postmortem, ids.py note):
    # intra-pairs and the boundary-stitch frame double-execute pts; with
    # re-sampled boundaries the pairs dropped at exec-A's boundaries
    # would not match the pairs stitched from exec-B's
    pts = (
        ev.select(F.col("event_id").alias("pid"), lon.alias("lon"), lat.alias("lat"))
        .repartitionByRange(8, "pid")
        .withColumn("__part", F.spark_partition_id())
        .transform(fence, "q_haversine pts", eager=False)
    )
    wp = Window.partitionBy("__part").orderBy("pid")
    intra = (
        pts.withColumn("plon", F.lag("lon").over(wp))
        .withColumn("plat", F.lag("lat").over(wp))
        .filter(F.col("plon").isNotNull())
        .drop("__part")
    )
    # partition-boundary pairs: each partition's first point pairs with the
    # previous non-empty partition's last point (bounds frame is ≤ 8 rows)
    bounds = pts.groupBy("__part").agg(
        F.min("pid").alias("f_pid"),
        F.min_by("lon", "pid").alias("f_lon"),
        F.min_by("lat", "pid").alias("f_lat"),
        F.max_by("lon", "pid").alias("l_lon"),
        F.max_by("lat", "pid").alias("l_lat"),
    )
    wb = Window.orderBy("__part")
    boundary = (
        bounds.select(
            F.col("f_pid").alias("pid"),
            F.col("f_lon").alias("lon"),
            F.col("f_lat").alias("lat"),
            F.lag("l_lon").over(wb).alias("plon"),
            F.lag("l_lat").over(wb).alias("plat"),
        )
        .filter(F.col("plon").isNotNull())
    )
    pairs = intra.unionByName(boundary)
    rad = lambda c: F.radians(c)  # noqa: E731
    dphi = rad(F.col("lat") - F.col("plat"))
    dlam = rad(F.col("lon") - F.col("plon"))
    a = (
        F.sin(dphi / 2) * F.sin(dphi / 2)
        + F.cos(rad(F.col("plat"))) * F.cos(rad(F.col("lat")))
        * F.sin(dlam / 2) * F.sin(dlam / 2)
    )
    hav = F.lit(2.0 * EARTH_R) * F.asin(F.sqrt(a))
    dx = to_3857_x(F.col("lon")) - to_3857_x(F.col("plon"))
    dy = to_3857_y(F.col("lat")) - to_3857_y(F.col("plat"))
    planar = F.sqrt(dx * dx + dy * dy)
    return pairs.select(
        "pid",
        F.round(hav, 3).alias("haversine_m"),
        F.round(planar, 3).alias("planar_3857_m"),
    ).orderBy("pid")


Q_HAVERSINE_SQL = f"""
WITH pts AS (
  SELECT event_id AS pid,
         -118.48 + CAST((event_id * 7) % 560 AS DOUBLE) / 1000.0 AS lon,
         48.43 + CAST((event_id * 11) % 420 AS DOUBLE) / 1000.0 AS lat
  FROM events WHERE event_id % 10 = 0
), pairs AS (
  SELECT pid, lon, lat,
         lag(lon) OVER (ORDER BY pid) AS plon,
         lag(lat) OVER (ORDER BY pid) AS plat
  FROM pts
)
SELECT pid,
       round(2.0 * {EARTH_R} * asin(sqrt(
         sin(radians(lat - plat) / 2) * sin(radians(lat - plat) / 2)
         + cos(radians(plat)) * cos(radians(lat))
           * sin(radians(lon - plon) / 2) * sin(radians(lon - plon) / 2)
       )), 3) AS haversine_m,
       round(sqrt(
         (radians(lon) * 6378137.0 - radians(plon) * 6378137.0)
           * (radians(lon) * 6378137.0 - radians(plon) * 6378137.0)
         + (6378137.0 * ln(tan(pi()/4 + radians(lat)/2))
            - 6378137.0 * ln(tan(pi()/4 + radians(plat)/2)))
           * (6378137.0 * ln(tan(pi()/4 + radians(lat)/2))
              - 6378137.0 * ln(tan(pi()/4 + radians(plat)/2)))
       ), 3) AS planar_3857_m
FROM pairs WHERE plon IS NOT NULL
ORDER BY pid
"""


TILE_MAX_Z = 12
_MERC_L = "20037508.342789244"  # π·6378137, shared literal text both engines


def q_tile_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slippy-map tile pyramid: point counts per (zoom, tile_x, tile_y)
    at zooms 8/10/12 — the pre-aggregation every map renderer/vector-tile
    pipeline builds over OSM-scale data.

    Determinism discipline: the float→tile floor happens ONCE, at
    TILE_MAX_Z, on the 3-dp-rounded Mercator meters (the same rounded
    values q_mercator pins); every coarser zoom is an INTEGER right-shift
    of the z12 tile — the real tile-pyramid recurrence (parent = child
    >> 1) — so the rollup introduces no further float edges and
    aggregates hierarchically with map-side combine.

    Scale: binning is a pure projection; one (z, tx, ty) counting shuffle
    whose key space is bounded by the tile grid, not the data.
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") % 10 == 0)
    lon = F.lit(-118.48) + ((F.col("event_id") * 7) % 560).cast("double") / 1000.0
    lat = F.lit(48.43) + ((F.col("event_id") * 11) % 420).cast("double") / 1000.0
    x = F.round(to_3857_x(lon), 3)
    y = F.round(to_3857_y(lat), 3)
    n = 1 << TILE_MAX_Z
    tx = F.floor((x + float(_MERC_L)) / (2 * float(_MERC_L)) * n).cast("long")
    ty = F.floor((float(_MERC_L) - y) / (2 * float(_MERC_L)) * n).cast("long")
    base = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") % 10 == 0)
        .select(tx.alias("tx12"), ty.alias("ty12"))
    )
    parts = []
    for z in (8, 10, 12):
        s = TILE_MAX_Z - z
        parts.append(
            base.select(
                F.lit(z).alias("zoom"),
                F.shiftright("tx12", s).alias("tile_x"),
                F.shiftright("ty12", s).alias("tile_y"),
            )
        )
    allz = parts[0]
    for p in parts[1:]:
        allz = allz.unionByName(p)
    return (
        allz.groupBy("zoom", "tile_x", "tile_y")
        .agg(F.count("*").alias("n_points"))
        .orderBy("zoom", "tile_x", "tile_y")
    )


Q_TILE_PYRAMID_SQL = f"""
WITH pts AS (
  SELECT -118.48 + CAST((event_id * 7) % 560 AS DOUBLE) / 1000.0 AS lon,
         48.43 + CAST((event_id * 11) % 420 AS DOUBLE) / 1000.0 AS lat
  FROM events WHERE event_id % 10 = 0
), merc AS (
  SELECT round(radians(lon) * 6378137.0, 3) AS x,
         round(6378137.0 * ln(tan(pi()/4 + radians(lat)/2)), 3) AS y
  FROM pts
), t12 AS (
  SELECT CAST(floor((x + {_MERC_L}) / (2 * {_MERC_L}) * {1 << TILE_MAX_Z}) AS BIGINT) AS tx12,
         CAST(floor(({_MERC_L} - y) / (2 * {_MERC_L}) * {1 << TILE_MAX_Z}) AS BIGINT) AS ty12
  FROM merc
), allz AS (
  SELECT 8 AS zoom, tx12 >> 4 AS tile_x, ty12 >> 4 AS tile_y FROM t12
  UNION ALL
  SELECT 10, tx12 >> 2, ty12 >> 2 FROM t12
  UNION ALL
  SELECT 12, tx12, ty12 FROM t12
)
SELECT zoom, tile_x, tile_y, count(*) AS n_points
FROM allz GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
"""


BBOX_DOMAIN = 100_000  # integer coordinate domain
BBOX_CELL = 8_192  # grid cell: ≥ max box extent → ≤ 2 cells per axis


def _bbox_h(salt: str) -> F.Column:
    return F.conv(
        F.substring(
            F.md5(F.concat(F.col("c_custkey").cast("string"), F.lit(salt))),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")


def q_bbox_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MBR (bounding-box) overlap join — the filter step of every R-tree
    spatial engine as a standalone operator: which rectangle pairs
    intersect, with the exact integer intersection area.

    Boxes are deterministic integer rectangles derived per customer key
    (stable md5 coordinates/extents — the registry's synthetic-geometry
    idiom), so every coordinate, the overlap predicate, and the area are
    pure integer arithmetic: the oracle — a structurally different
    brute-force O(n²) SQL join — must agree bit-for-bit.

    Scale shape: grid filter-and-refine.  Each box explodes to the ≤ 4
    cells its extent can span (BBOX_CELL ≥ the max box size), pairs come
    from a hash EQUI-join on the cell, symmetric/multi-cell duplicates
    are deduped on the id pair, and the exact closed-interval predicate
    refines — the same plan family as the segment distance join, axis-
    aligned.  Never all-pairs: candidate volume tracks cell occupancy.
    """
    c = load_table(spark, sf_dir, "customer")
    boxes = c.select(
        F.col("c_custkey").alias("box_id"),
        (_bbox_h("x") % BBOX_DOMAIN).alias("cx"),
        (_bbox_h("y") % BBOX_DOMAIN).alias("cy"),
        (50 + _bbox_h("w") % 2000).alias("hw"),
        (50 + _bbox_h("h") % 2000).alias("hh"),
    ).select(
        "box_id",
        (F.col("cx") - F.col("hw")).alias("xmin"),
        (F.col("cx") + F.col("hw")).alias("xmax"),
        (F.col("cy") - F.col("hh")).alias("ymin"),
        (F.col("cy") + F.col("hh")).alias("ymax"),
    )

    def with_cells(df: DataFrame, p: str) -> DataFrame:
        out = df.select(*[F.col(c0).alias(f"{p}{c0}") for c0 in df.columns])
        return out.withColumn(
            "__cx",
            F.explode(
                F.sequence(
                    F.floor(F.col(f"{p}xmin") / BBOX_CELL),
                    F.floor(F.col(f"{p}xmax") / BBOX_CELL),
                )
            ),
        ).withColumn(
            "__cy",
            F.explode(
                F.sequence(
                    F.floor(F.col(f"{p}ymin") / BBOX_CELL),
                    F.floor(F.col(f"{p}ymax") / BBOX_CELL),
                )
            ),
        )

    a = with_cells(boxes, "a_")
    b = with_cells(boxes, "b_")
    pairs = (
        a.join(b, ["__cx", "__cy"])
        .filter(F.col("a_box_id") < F.col("b_box_id"))
        .dropDuplicates(["a_box_id", "b_box_id"])
    )
    overlap = (
        (F.col("a_xmin") <= F.col("b_xmax"))
        & (F.col("b_xmin") <= F.col("a_xmax"))
        & (F.col("a_ymin") <= F.col("b_ymax"))
        & (F.col("b_ymin") <= F.col("a_ymax"))
    )
    iw = F.least(F.col("a_xmax"), F.col("b_xmax")) - F.greatest(
        F.col("a_xmin"), F.col("b_xmin")
    )
    ih = F.least(F.col("a_ymax"), F.col("b_ymax")) - F.greatest(
        F.col("a_ymin"), F.col("b_ymin")
    )
    return (
        pairs.filter(overlap)
        .select(
            F.col("a_box_id").alias("a_id"),
            F.col("b_box_id").alias("b_id"),
            (iw * ih).alias("overlap_area"),
        )
        .orderBy("a_id", "b_id")
    )


_BBOX_H_SQL = (
    "CAST(concat('0x', substr(md5(concat(CAST(c_custkey AS VARCHAR), '{s}')), 1, 8)) AS BIGINT)"
)

Q_BBOX_JOIN_SQL = f"""
WITH boxes AS (
  SELECT c_custkey AS box_id,
         ({_BBOX_H_SQL.format(s='x')} % {BBOX_DOMAIN})
           - (50 + {_BBOX_H_SQL.format(s='w')} % 2000) AS xmin,
         ({_BBOX_H_SQL.format(s='x')} % {BBOX_DOMAIN})
           + (50 + {_BBOX_H_SQL.format(s='w')} % 2000) AS xmax,
         ({_BBOX_H_SQL.format(s='y')} % {BBOX_DOMAIN})
           - (50 + {_BBOX_H_SQL.format(s='h')} % 2000) AS ymin,
         ({_BBOX_H_SQL.format(s='y')} % {BBOX_DOMAIN})
           + (50 + {_BBOX_H_SQL.format(s='h')} % 2000) AS ymax
  FROM customer
)
SELECT a.box_id AS a_id, b.box_id AS b_id,
       (least(a.xmax, b.xmax) - greatest(a.xmin, b.xmin))
       * (least(a.ymax, b.ymax) - greatest(a.ymin, b.ymin)) AS overlap_area
FROM boxes a JOIN boxes b
  ON a.box_id < b.box_id
 AND a.xmin <= b.xmax AND b.xmin <= a.xmax
 AND a.ymin <= b.ymax AND b.ymin <= a.ymax
ORDER BY a_id, b_id
"""


QUERIES = {
    "q_distance_join": q_distance_join,
    "q_bbox_join": q_bbox_join,
    "q_knn_join": q_knn_join,
    "q_containment_join": q_containment_join,
    "q_tile_pyramid": q_tile_pyramid,
    "q_haversine": q_haversine,
    "q_point_in_polygon": q_point_in_polygon,
    "q_convex_hulls": q_convex_hulls,
    "q_geo_measures": q_geo_measures,
    "q_simplify_trajectories": q_simplify_trajectories,
    "q_insertion_index": q_insertion_index,
    "q_segment_closest_point": q_segment_closest_point,
    "q_dwithin_semi": q_dwithin_semi,
    "q_self_join": q_self_join,
    "q_grid_dedup": q_grid_dedup,
    "q_mercator": q_mercator,
    "q_nearest_neighbor": q_nearest_neighbor,
}

ORACLES = {
    "q_distance_join": Q_DISTANCE_JOIN_SQL,
    "q_bbox_join": Q_BBOX_JOIN_SQL,
    "q_knn_join": Q_KNN_JOIN_SQL,
    "q_containment_join": Q_CONTAINMENT_JOIN_SQL,
    "q_tile_pyramid": Q_TILE_PYRAMID_SQL,
    "q_point_in_polygon": Q_PIP_SQL,
    "q_haversine": Q_HAVERSINE_SQL,
    "q_geo_measures": Q_GEO_MEASURES_SQL,
    "q_insertion_index": Q_INSERTION_INDEX_SQL,
    "q_segment_closest_point": Q_SEGMENT_CP_SQL,
    "q_dwithin_semi": Q_DWITHIN_SEMI_SQL,
    "q_self_join": Q_SELF_JOIN_SQL,
    "q_grid_dedup": Q_GRID_DEDUP_SQL,
    "q_mercator": Q_MERCATOR_SQL,
    "q_nearest_neighbor": Q_NEAREST_SQL,
}

# hull + simplify goldens: independent-implementation VALUES oracles
# (queries/geogold.py — the media-family pattern); absent testdata keeps
# them rows-only instead of failing import
from changegen_spark.queries.geogold import build_oracles as _geogold_oracles  # noqa: E402

ORACLES.update(_geogold_oracles())
