"""GeoJSON ingestion of a FeatureCollection (the reference's fixture
format): tags and geometry structs, and a feed into the pipeline."""

import json

import pytest


@pytest.fixture(scope="module")
def gj(tmp_path_factory):
    features = [
        {
            "type": "Feature",
            "properties": {"highway": "path", "name": "t1", "width": 2},
            "geometry": {
                "type": "LineString",
                "coordinates": [[-118.1, 48.5], [-118.2, 48.6], [-118.3, 48.65]],
            },
        },
        {
            "type": "Feature",
            "properties": {"amenity": "shelter"},
            "geometry": {"type": "Point", "coordinates": [-118.15, 48.55]},
        },
        {
            "type": "Feature",
            "properties": {"landuse": "meadow"},
            "geometry": {
                "type": "Polygon",
                "coordinates": [
                    [[-118.0, 48.0], [-118.0, 48.1], [-117.9, 48.1], [-118.0, 48.0]]
                ],
            },
        },
    ]
    d = tmp_path_factory.mktemp("gj")
    fc = d / "fixture.geojson"
    fc.write_text(json.dumps({"type": "FeatureCollection", "features": features}))
    return str(fc)


def test_feature_collection_roundtrip(spark, gj):
    from changegen_spark.sources.geojson import read_feature_collection

    fc = gj
    rows = read_feature_collection(spark, fc).collect()
    assert len(rows) == 3
    line = next(r for r in rows if r["geometry"]["gtype"] == "LineString")
    assert line["tags"] == {"highway": "path", "name": "t1", "width": "2"}
    assert [(p["x"], p["y"]) for p in line["geometry"]["rings"][0]][0] == (-118.1, 48.5)


def test_feature_collection_feeds_pipeline(spark, gj):
    """Ingested WGS84 geometry → mercator → the pipeline's vertex explode."""
    from pyspark.sql import functions as F

    from changegen_spark.geo.mercator import to_3857_x, to_3857_y
    from changegen_spark.sources.geojson import read_feature_collection

    fc = gj
    df = read_feature_collection(spark, fc)
    lines = df.filter(F.col("geometry.gtype") == "LineString").select(
        F.posexplode(F.element_at("geometry.rings", 1)).alias("pos", "p")
    )
    out = lines.select(
        to_3857_x(F.col("p.x")).alias("x"), to_3857_y(F.col("p.y")).alias("y")
    ).collect()
    assert len(out) == 3
    assert all(abs(r["x"]) > 1e7 for r in out)  # projected magnitudes
