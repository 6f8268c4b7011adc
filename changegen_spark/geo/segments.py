"""Segment-level spatial join: the distributed ST_DWithin + ST_ClosestPoint
(SURVEY §2.3 J1, ``changegen/db.py:126-156``).

Polylines are exploded to segments; candidate segment pairs come from the
same grid-cell equi-join as the point join (filter-and-refine, §4); the
refine step computes the exact closest point *on the left segment* to the
right segment — crossing segments yield the crossing point (dist 0), the
junction-node case that drives the whole changegen pipeline.

All pure column expressions (closed-form 2-D segment math) — no UDF, stays
in whole-stage codegen, shuffles only on grid cells.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from changegen_spark.geo.join import _cells_for_bbox


def explode_segments(
    df: DataFrame, key_cols: list[str], ring_col: Column, prefix: str = ""
) -> DataFrame:
    """Polyline ring → one row per segment: (key…, seg, ax, ay, bx, by).

    Consecutive-vertex pairing happens ARRAY-SIDE (``zip_with`` of the ring
    against itself shifted by one) before the explode — a pure projection.
    The r1 shape (explode vertices → window ``lead`` per way) paid a full
    shuffle + sort per call just to look one row ahead; this is map-only
    with identical output (seg = index of the segment's first vertex).
    """
    p = prefix
    segs = F.zip_with(
        F.slice(ring_col, 1, F.greatest(F.size(ring_col) - 1, F.lit(0))),
        F.slice(ring_col, 2, F.greatest(F.size(ring_col) - 1, F.lit(0))),
        lambda a, b: F.struct(
            a.getField("x").alias("ax"),
            a.getField("y").alias("ay"),
            b.getField("x").alias("bx"),
            b.getField("y").alias("by"),
        ),
    )
    return df.select(
        *key_cols, F.posexplode(segs).alias(f"{p}seg", "__s")
    ).select(
        *key_cols,
        f"{p}seg",
        F.col("__s.ax").alias(f"{p}ax"),
        F.col("__s.ay").alias(f"{p}ay"),
        F.col("__s.bx").alias(f"{p}bx"),
        F.col("__s.by").alias(f"{p}by"),
    )


def _closest_point_on_segment(px, py, ax, ay, bx, by):
    """(qx, qy, dist²) of the point on segment AB closest to P."""
    dx, dy = bx - ax, by - ay
    len2 = dx * dx + dy * dy
    t_raw = F.when(len2 > 0, ((px - ax) * dx + (py - ay) * dy) / len2).otherwise(
        F.lit(0.0)
    )
    t = F.least(F.greatest(t_raw, F.lit(0.0)), F.lit(1.0))
    qx, qy = ax + t * dx, ay + t * dy
    d2 = (px - qx) * (px - qx) + (py - qy) * (py - qy)
    return qx, qy, d2


def segment_pair_closest(cols_l: str = "l", cols_r: str = "r") -> list[Column]:
    """Closest point on left segment to right segment + distance.

    Returns [cp_x, cp_y, dist] column expressions over a joined segment-pair
    row with columns {l}ax…{l}by and {r}ax…{r}by.  Crossing segments (proper
    intersection) give the crossing point and distance 0; otherwise the best
    of the four endpoint projections (the classic closest-approach cases).
    """
    lax, lay = F.col(f"{cols_l}ax"), F.col(f"{cols_l}ay")
    lbx, lby = F.col(f"{cols_l}bx"), F.col(f"{cols_l}by")
    rax, ray = F.col(f"{cols_r}ax"), F.col(f"{cols_r}ay")
    rbx, rby = F.col(f"{cols_r}bx"), F.col(f"{cols_r}by")

    rx, ry = lbx - lax, lby - lay
    sx, sy = rbx - rax, rby - ray
    denom = rx * sy - ry * sx
    qpx, qpy = rax - lax, ray - lay
    # parallel/degenerate pairs (denom = 0) must not divide — ANSI mode
    # raises on x/0; they fall through to the endpoint-projection branch
    t = F.when(denom != 0, (qpx * sy - qpy * sx) / denom).otherwise(F.lit(0.0))
    u = F.when(denom != 0, (qpx * ry - qpy * rx) / denom).otherwise(F.lit(0.0))
    crossing = (
        (denom != 0) & (t >= 0) & (t <= 1) & (u >= 0) & (u <= 1)
    )

    # candidate 1/2: right endpoints projected onto the left segment
    q1x, q1y, d1 = _closest_point_on_segment(rax, ray, lax, lay, lbx, lby)
    q2x, q2y, d2 = _closest_point_on_segment(rbx, rby, lax, lay, lbx, lby)
    # candidate 3/4: left endpoints projected onto the right segment — the
    # closest point on the LEFT segment is the left endpoint itself
    _, _, d3 = _closest_point_on_segment(lax, lay, rax, ray, rbx, rby)
    _, _, d4 = _closest_point_on_segment(lbx, lby, rax, ray, rbx, rby)

    best = F.array_min(
        F.array(
            F.struct(d1.alias("d"), q1x.alias("qx"), q1y.alias("qy")),
            F.struct(d2.alias("d"), q2x.alias("qx"), q2y.alias("qy")),
            F.struct(d3.alias("d"), lax.alias("qx"), lay.alias("qy")),
            F.struct(d4.alias("d"), lbx.alias("qx"), lby.alias("qy")),
        )
    )
    # Single-copy intermediate (r3): the four-candidate tree, the crossing
    # predicate and the crossing point are each emitted ONCE as struct
    # fields.  The r2 shape inlined the full candidates tree into each of
    # cp_x / cp_y / dist — 3× the analysis/physical-planning work on the
    # pipeline's hottest expression (the plan-build floor, GAPS #2).  The
    # caller splits the final cp_x/cp_y/dist extraction into a SECOND
    # projection behind the nondeterministic fence.
    return F.struct(
        crossing.alias("xing"),
        (lax + t * rx).alias("xx"),
        (lay + t * ry).alias("xy"),
        best.getField("qx").alias("qx"),
        best.getField("qy").alias("qy"),
        best.getField("d").alias("d"),
    )


def closest_point_cols(cp: Column = None) -> list[Column]:
    """[cp_x, cp_y, dist] from the ``segment_pair_closest`` struct column.

    ``dist`` carries the CSE fence: left deterministic, the optimizer
    re-inlines the full candidate trees into the radius filter
    (predicate-pushdown alias substitution folds it into the grid join
    condition) and into the caller's partial min_by aggregate — the
    duplicated trees push the generated method past janino's 64 KB limit
    and the stage silently falls back to INTERPRETED execution (observed
    in scale_smoke).  Adding an exactly-zero nondeterministic term
    (rand ∈ [0,1) is finite, x + 0.0*r == x for the non-NaN dist) marks
    the projection nondeterministic, which both CollapseProject and
    PushPredicateThroughNonJoin refuse to rewrite, so downstream operators
    reference the computed attributes instead."""
    if cp is None:
        cp = F.col("__cp")
    cp_x = F.when(cp.getField("xing"), cp.getField("xx")).otherwise(cp.getField("qx"))
    cp_y = F.when(cp.getField("xing"), cp.getField("xy")).otherwise(cp.getField("qy"))
    dist = F.when(cp.getField("xing"), F.lit(0.0)).otherwise(
        F.sqrt(cp.getField("d"))
    )
    dist = dist + F.rand(7) * F.lit(0.0)
    return [cp_x.alias("cp_x"), cp_y.alias("cp_y"), dist.alias("dist")]


def segment_distance_join(
    left_segs: DataFrame, right_segs: DataFrame, radius: float
) -> DataFrame:
    """Candidate segment pairs within ``radius``: grid-bin both sides on
    segment bboxes (the left side's grown by ``radius``), equi-join on
    cell, refine with exact segment math.

    A segment pair that meets in several cells appears once per shared
    cell; the caller's per-pair ``min_by`` is idempotent over those
    duplicates, so no dedup shuffle runs here.

    Output: all left+right columns (prefixed ``l``/``r`` by the caller's
    column naming) + cp_x/cp_y/dist.  Scale: shuffle keyed by grid cell —
    identical plan shape to Sedona's DistanceJoin.
    """
    cell_size = max(2.0 * radius, 64.0)

    def with_cells(df: DataFrame, p: str) -> DataFrame:
        xmin = F.least(F.col(f"{p}ax"), F.col(f"{p}bx")) - radius
        xmax = F.greatest(F.col(f"{p}ax"), F.col(f"{p}bx")) + radius
        ymin = F.least(F.col(f"{p}ay"), F.col(f"{p}by")) - radius
        ymax = F.greatest(F.col(f"{p}ay"), F.col(f"{p}by")) + radius
        return df.withColumn(
            "__cell", F.explode(_cells_for_bbox(xmin, ymin, xmax, ymax, cell_size))
        )

    # Only the left side expands its bbox by the radius; the right side bins
    # its true bbox — together every pair within `radius` shares ≥1 cell.
    lc = with_cells(left_segs, "l")
    rc = right_segs
    rxmin = F.least(F.col("rax"), F.col("rbx"))
    rxmax = F.greatest(F.col("rax"), F.col("rbx"))
    rymin = F.least(F.col("ray"), F.col("rby"))
    rymax = F.greatest(F.col("ray"), F.col("rby"))
    rc = rc.withColumn(
        "__cell", F.explode(_cells_for_bbox(rxmin, rymin, rxmax, rymax, cell_size))
    )
    pairs = lc.join(rc, "__cell").drop("__cell")
    pairs = pairs.select("*", segment_pair_closest().alias("__cp"))
    pairs = pairs.select("*", *closest_point_cols()).drop("__cp")
    return pairs.filter(F.col("dist") <= F.lit(radius))
