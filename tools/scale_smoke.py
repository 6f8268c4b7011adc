"""Pipeline scale smoke: a parametric road network ~500× the unit-fixture
junction count, end-to-end through generate_changes + the sharded sink.

Usage: python tools/scale_smoke.py [n_orig] [n_new]

Defaults 300×200 → 60,000 junction pairs.  Prints one JSON line with
element counts and stage wall times; results recorded in SCALE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def build_network(spark, n_orig: int, n_new: int):
    """Horizontal originals × vertical news, all crossing."""
    from changegen_spark.sources.osm import _X0, _Y0, inv_merc

    ORIG_VERTS, NEW_VERTS = 11, 13
    span_x = n_new * 150.0 + 2000.0
    span_y = n_orig * 120.0 + 2000.0

    def geom(coords):
        return {"gtype": "LineString", "rings": [[{"x": x, "y": y} for x, y in coords]]}

    orig_rows, pbf_ways, pbf_nodes = [], [], []
    nid = 1_000_000
    for i in range(n_orig):
        y = _Y0 + i * 120.0 + (37.0 if i % 2 else 0.0)
        coords = [
            (_X0 + k * (span_x / (ORIG_VERTS - 1)), y) for k in range(ORIG_VERTS)
        ]
        nds = []
        for (x, yy) in coords:
            nid += 1
            lon, lat = inv_merc(x, yy)
            pbf_nodes.append((nid, lat, lon, {}))
            nds.append(nid)
        pbf_ways.append((10_000 + i, nds, {}))
        orig_rows.append((i, 10_000 + i, "path", f"orig-{i}", geom(coords)))

    new_rows = []
    for j in range(n_new):
        x = _X0 + 500.0 + j * 150.0
        coords = [
            (x, _Y0 - 500.0 + k * ((span_y + 500.0) / (NEW_VERTS - 1)))
            for k in range(NEW_VERTS)
        ]
        new_rows.append(("path", f"new-{j}", geom(coords)))

    from changegen_spark.geo.geometry import GEOMETRY

    g = GEOMETRY.simpleString()
    frames = {
        "original_ways": spark.createDataFrame(
            orig_rows, f"id int, osm_id long, highway string, name string, geometry {g}"
        ),
        "new_ways": spark.createDataFrame(
            new_rows, f"highway string, name string, geometry {g}"
        ),
        "pbf_nodes": spark.createDataFrame(pbf_nodes, "id long, lat double, lon double, tags map<string,string>"),
        "pbf_ways": spark.createDataFrame(pbf_ways, "id long, nds array<long>, tags map<string,string>"),
        "pbf_relations": spark.createDataFrame([], "id long, members array<struct<ref:long,type:string,role:string>>, tags map<string,string>"),
    }
    # Round-trip through parquet: real pipeline inputs are parquet/pbf
    # scans, not parallelized local relations — this gives the run true
    # Catalyst size stats (local relations report unknown ⇒ the pipeline's
    # size-adaptive fence planning can't engage), real pushdown, and
    # file-scan partitioning.  Write cost lands in build_s, not plan_s.
    out = {}
    for name, df in frames.items():
        path = f"/tmp/scale_smoke_in/{name}.parquet"
        df.write.mode("overwrite").parquet(path)
        out[name] = spark.read.parquet(path)
    return out


def main() -> None:
    from changegen_spark.pipeline import generate_changes
    from changegen_spark.session import get_spark
    from changegen_spark.sinks.oscxml import write_osmchange_sharded

    n_orig = int(sys.argv[1]) if len(sys.argv) > 1 else 300
    n_new = int(sys.argv[2]) if len(sys.argv) > 2 else 200
    spark = get_spark("scale-smoke")

    # Session warmup, timed separately: the FIRST job on a fresh local JVM
    # pays executor-thread/scheduler/codegen-framework init that a long-lived
    # cluster session pays once per session, not per pipeline run.  A trivial
    # shuffle job warms scheduler+shuffle; a 2-way micro-pipeline through
    # synthesize_junctions + localCheckpoint warms the interpreted-HOF /
    # RDD-conversion classes the real run uses (measured: the first
    # checkpoint of a fresh segment-join tree costs 3.2 s, the second 1.4 s,
    # the third 0.9 s — pure class-loading, once per session).
    from pyspark.sql import functions as F

    from changegen_spark.pipeline import synthesize_junctions

    t0 = time.time()
    spark.range(1 << 20).groupBy((F.col("id") % 7).alias("k")).count().collect()
    mini = build_network(spark, 2, 2)
    _, mj = synthesize_junctions(mini["new_ways"], mini["original_ways"], key_col="name")
    mj.count()
    t_warm = time.time() - t0

    t0 = time.time()
    tables = build_network(spark, n_orig, n_new)
    t_build = time.time() - t0

    t0 = time.time()
    cset = generate_changes(spark, tables, id_offset=10_000_000)
    t_plan = time.time() - t0

    t0 = time.time()
    sink_t: dict = {}
    counts = write_osmchange_sharded(
        cset, "/tmp/scale_smoke.osc", shards_per_block=16, timings=sink_t
    )
    t_exec = time.time() - t0

    print(
        json.dumps(
            {
                "n_orig": n_orig,
                "n_new": n_new,
                "junction_pairs": n_orig * n_new,
                "counts": counts,
                "warmup_s": round(t_warm, 1),
                "build_s": round(t_build, 1),
                "plan_s": round(t_plan, 1),
                "execute_and_sink_s": round(t_exec, 1),
                "sink_spark_s": sink_t.get("spark_s"),
                "sink_concat_s": sink_t.get("concat_s"),
            }
        )
    )


if __name__ == "__main__":
    main()
