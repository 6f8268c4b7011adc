"""GeoJSON ingestion (SURVEY §2.1 S9 — the reference reads test fixtures
via ``ogr.Open('….geojson')``).

``read_feature_collection`` reads a single FeatureCollection document
(the reference's fixture format), parsed driver-side: it is one JSON
object by definition.

Properties land as a ``map<string,string>`` tag map — the engine's
open-schema convention (§1.3); geometry becomes the struct model of
``geo/geometry.py``.  Coordinates are assumed EPSG:4326 per RFC 7946 and
are NOT reprojected here — callers send them through ``geo.mercator`` when
the pipeline works in 3857.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession


def _coords_to_rings(gtype: str, coords) -> list[list[dict]]:
    if gtype == "Point":
        return [[{"x": float(coords[0]), "y": float(coords[1])}]]
    if gtype == "LineString":
        return [[{"x": float(x), "y": float(y)} for x, y in coords]]
    if gtype == "Polygon":
        return [
            [{"x": float(x), "y": float(y)} for x, y in ring] for ring in coords
        ]
    raise ValueError(f"unsupported GeoJSON geometry type: {gtype}")


def read_feature_collection(spark: SparkSession, path: str) -> DataFrame:
    """One FeatureCollection file → DataFrame(tags map, geometry struct)."""
    from changegen_spark.geo.geometry import GEOMETRY

    with open(path, encoding="utf-8") as f:
        doc = json.load(f)
    if doc.get("type") != "FeatureCollection":
        raise ValueError(f"{path}: not a FeatureCollection")
    rows = []
    for feat in doc.get("features", []):
        geom = feat.get("geometry") or {}
        gtype = geom.get("type")
        rows.append(
            (
                {
                    k: ("" if v is None else str(v))
                    for k, v in (feat.get("properties") or {}).items()
                },
                {"gtype": gtype, "rings": _coords_to_rings(gtype, geom.get("coordinates"))},
            )
        )
    return spark.createDataFrame(
        rows, f"tags map<string,string>, geometry {GEOMETRY.simpleString()}"
    )
