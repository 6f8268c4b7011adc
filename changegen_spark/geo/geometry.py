"""Unified geometry column model (pure PySpark, no Sedona).

A geometry is a struct column:

    geometry: struct<
        gtype: string,                 -- Point | LineString | Polygon | Multi*
        rings: array<array<struct<x:double, y:double>>>
    >

Point → one ring of one coord; LineString → one ring; Polygon → exterior
ring first, then interiors (SURVEY §1.1 geometry row).  This keeps every
geometry op a built-in array/struct expression: explode to vertex rows for
windowed math, never a Python object.

Multi* geometries are represented but rejected by the pipeline, matching
``changegen/generator.py:603-606``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    StringType,
    StructField,
    StructType,
)

COORD = StructType([StructField("x", DoubleType()), StructField("y", DoubleType())])
GEOMETRY = StructType(
    [
        StructField("gtype", StringType()),
        StructField("rings", ArrayType(ArrayType(COORD))),
    ]
)


def g_type(geom: Column) -> Column:
    return geom.getField("gtype")


def exterior(geom: Column) -> Column:
    """First ring: the whole line for LineString, exterior for Polygon."""
    return F.element_at(geom.getField("rings"), 1)


def point_xy(geom: Column) -> tuple[Column, Column]:
    p = F.element_at(exterior(geom), 1)
    return p.getField("x"), p.getField("y")


def wkt(geom: Column) -> Column:
    """Geometry → WKT string (F9 boundary serialization), built-ins only."""
    ring_txt = lambda r: F.concat_ws(  # noqa: E731
        ", ",
        F.transform(
            r,
            lambda p: F.concat_ws(" ", p.getField("x").cast("string"), p.getField("y").cast("string")),
        ),
    )
    rings = geom.getField("rings")
    return F.when(
        g_type(geom) == "Point",
        F.concat(F.lit("POINT ("), ring_txt(F.element_at(rings, 1)), F.lit(")")),
    ).when(
        g_type(geom) == "LineString",
        F.concat(F.lit("LINESTRING ("), ring_txt(F.element_at(rings, 1)), F.lit(")")),
    ).when(
        g_type(geom) == "Polygon",
        F.concat(
            F.lit("POLYGON ("),
            F.concat_ws(
                ", ",
                F.transform(rings, lambda r: F.concat(F.lit("("), ring_txt(r), F.lit(")"))),
            ),
            F.lit(")"),
        ),
    )


def parse_wkt(col: Column) -> Column:
    """WKT → geometry struct for POINT/LINESTRING/POLYGON (F9 ingest).

    Built-ins only: regex strip + split.  Not a full WKT parser (no Multi*,
    no EMPTY) — boundary ingestion for the supported types.
    """
    gtype = F.when(F.upper(col).startswith("POINT"), "Point").when(
        F.upper(col).startswith("LINESTRING"), "LineString"
    ).when(F.upper(col).startswith("POLYGON"), "Polygon")
    body = F.regexp_extract(col, r"\(\s*(.*)\s*\)\s*$", 1)
    # polygon rings split on "),(" boundaries; point/line have one ring
    ring_strs = F.when(
        gtype == "Polygon",
        F.split(F.regexp_replace(body, r"^\(|\)$", ""), r"\)\s*,\s*\("),
    ).otherwise(F.array(body))
    coords = F.transform(
        ring_strs,
        lambda r: F.transform(
            F.split(F.trim(r), r"\s*,\s*"),
            lambda pt: F.struct(
                F.split(F.trim(pt), r"\s+").getItem(0).cast("double").alias("x"),
                F.split(F.trim(pt), r"\s+").getItem(1).cast("double").alias("y"),
            ),
        ),
    )
    return F.struct(gtype.alias("gtype"), coords.alias("rings"))
