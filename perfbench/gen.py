"""Seeded input generators for the benchmark workloads.

Everything here is numpy + pyarrow: inputs are written as parquet files
before any Spark work starts, and the same seed always writes the same
bytes.

``write_documents`` writes the ``documents`` table the text queries of
the registry read, with the column names and types of the repository's
synthetic test data.

``write_changegen_inputs`` writes a changegen database directory (WKT
``geometry`` parquet tables) and an ingested extract directory
(``nodes``/``ways``/``relations`` parquet), and returns the per-block
element counts the CLI must produce for them.  The counts follow from the
geometry by construction:

* existing roads are horizontal lines; the first ``n_cross`` of them are
  crossed once by every new road, the rest lie beyond the new roads' ends
  and are the ones the ``--deletions`` table removes;
* new roads are vertical lines with ``new_vertices`` vertices each, so
  each one gains ``n_cross`` junction nodes and is split into
  ``ceil(members / CHUNK_SIZE)`` ways;
* no junction lies within a metre of any vertex, and junctions are at
  least ``ROW_GAP`` metres apart, so the 6-decimal-degree grid dedup never
  merges two of them;
* points and polygons touch nothing; every fourth polygon has a hole and
  becomes a multipolygon relation of two ways.
"""

from __future__ import annotations

import json
import math
import os
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- queries

_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window order data column join small customer query "
    "big stream group filter vector"
).split()
_LANG = ["de", "en", "es", "fr", "zh"]
N_DOCUMENTS = 500


def _write(path: str, cols: dict[str, pa.Array]) -> None:
    pq.write_table(pa.table(cols), path)


def write_documents(out_dir: str, seed: int) -> None:
    """Write ``documents.parquet``: random word sequences over a small
    vocabulary; every tenth document copies an earlier one with three
    words replaced, so the near-duplicate queries have work to do."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    texts: list[str] = []
    for d in range(N_DOCUMENTS):
        if d >= 10 and d % 10 == 0:
            words = texts[int(rng.integers(0, d))].split()
            for _ in range(3):
                words[int(rng.integers(0, len(words)))] = _WORDS[int(rng.integers(0, len(_WORDS)))]
        else:
            words = [_WORDS[i] for i in rng.integers(0, len(_WORDS), int(rng.integers(8, 100)))]
        texts.append(" ".join(words))
    _write(os.path.join(out_dir, "documents.parquet"), {
        "doc_id": pa.array(np.arange(N_DOCUMENTS, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([_LANG[i] for i in rng.integers(0, 5, N_DOCUMENTS)]),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, N_DOCUMENTS)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


# -------------------------------------------------------------- changegen

R = 6378137.0
X0 = math.radians(-118.40) * R
Y0 = R * math.log(math.tan(math.pi / 4 + math.radians(48.50) / 2))
CHUNK_SIZE = 500  # operators.ways.CHUNK_SIZE_DEFAULT: members per split way
ROW_GAP = 60.0  # metres between existing roads
COL_GAP = 100.0  # metres between new roads
EXISTING_VERTICES = 11
NODE_ID_BASE = 1_000_000
WAY_ID_BASE = 10_000


@dataclass(frozen=True)
class ChangegenShape:
    """Sizes of one changegen input set."""

    n_cross: int = 20  # existing roads every new road crosses
    n_deleted: int = 2  # existing roads the --deletions table removes
    n_new: int = 12  # new roads
    new_vertices: int = 490  # vertices per new road
    n_points: int = 300
    n_polygons: int = 100

    @property
    def members(self) -> int:
        return self.new_vertices + self.n_cross

    def expected_counts(self) -> dict[str, dict[str, int]]:
        """Per-block, per-kind element counts of the merged .osc."""
        holed = (self.n_polygons + 3) // 4
        poly_nodes = 4 * self.n_polygons + 4 * holed
        chunks = math.ceil(self.members / CHUNK_SIZE)
        return {
            "create": {
                "node": self.n_new * self.members + self.n_points + poly_nodes,
                "way": self.n_new * chunks + self.n_polygons + holed,
                "relation": holed,
            },
            "modify": {"node": 0, "way": self.n_cross, "relation": 0},
            "delete": {"node": 0, "way": self.n_deleted, "relation": 0},
        }


def _inv_merc(x: float, y: float) -> tuple[float, float]:
    return (
        math.degrees(x / R),
        math.degrees(2 * math.atan(math.exp(y / R)) - math.pi / 2),
    )


def _wkt_line(coords) -> str:
    return "LINESTRING (" + ", ".join(f"{x:.3f} {y:.3f}" for x, y in coords) + ")"


def _wkt_square(cx: float, cy: float, half: float) -> str:
    c = [(cx - half, cy - half), (cx + half, cy - half), (cx + half, cy + half), (cx - half, cy + half)]
    return "(" + ", ".join(f"{x:.3f} {y:.3f}" for x, y in c + c[:1]) + ")"


def write_changegen_inputs(out_dir: str, seed: int, shape: ChangegenShape) -> dict:
    """Write ``db/`` and ``extract/`` under ``out_dir``; return the run spec.

    The spec holds the paths, the CLI's ``--id_offset`` and
    ``--max_nodes_per_way`` values and the expected element counts."""
    rng = np.random.default_rng(seed)
    db = os.path.join(out_dir, "db")
    extract = os.path.join(out_dir, "extract")
    os.makedirs(db, exist_ok=True)
    os.makedirs(extract, exist_ok=True)
    n_exist = shape.n_cross + shape.n_deleted
    width = shape.n_new * COL_GAP + 1000.0
    y_start = Y0 - 300.0
    y_end = Y0 + shape.n_cross * ROW_GAP - 20.0
    new_vy = np.linspace(y_start, y_end, shape.new_vertices)
    exist_vx = X0 + np.arange(EXISTING_VERTICES) * (width / (EXISTING_VERTICES - 1))

    # existing roads: each crossing sits midway between two vertices of the
    # new roads (so each junction is inserted, never reused), and new roads
    # keep a metre or more from the existing roads' vertices
    if new_vy[1] - new_vy[0] < 2.5:
        raise ValueError("new roads' vertices are too dense to keep junctions off them")
    ys = []
    for i in range(n_exist):
        y = Y0 + i * ROW_GAP + float(rng.uniform(0.0, 20.0))
        if i < shape.n_cross:
            k = int(np.searchsorted(new_vy, y))
            y = float(new_vy[k - 1] + new_vy[k]) / 2.0
        ys.append(y)
    xs = []
    for j in range(shape.n_new):
        x = X0 + 500.0 + j * COL_GAP + float(rng.uniform(0.0, 30.0))
        while np.min(np.abs(exist_vx - x)) < 1.0:
            x += 1.5
        xs.append(x)

    node_ids, node_lat, node_lon, way_ids, way_nds = [], [], [], [], []
    ex_osm, ex_name, ex_geom = [], [], []
    nid = NODE_ID_BASE
    for i, y in enumerate(ys):
        coords = [(float(x), y) for x in exist_vx]
        nds = []
        for x, yy in coords:
            nid += 1
            lon, lat = _inv_merc(x, yy)
            node_ids.append(nid)
            node_lat.append(lat)
            node_lon.append(lon)
            nds.append(nid)
        way_ids.append(WAY_ID_BASE + i)
        way_nds.append(nds)
        ex_osm.append(WAY_ID_BASE + i)
        ex_name.append(f"road-{i}")
        ex_geom.append(_wkt_line(coords))

    empty_tags = pa.array([[] for _ in node_ids], pa.map_(pa.string(), pa.string()))
    _write(os.path.join(extract, "nodes.parquet"), {
        "id": pa.array(node_ids, pa.int64()),
        "lat": pa.array(node_lat),
        "lon": pa.array(node_lon),
        "tags": empty_tags,
    })
    _write(os.path.join(extract, "ways.parquet"), {
        "id": pa.array(way_ids, pa.int64()),
        "nds": pa.array(way_nds, pa.list_(pa.int64())),
        "tags": pa.array([[("highway", "residential")] for _ in way_ids], pa.map_(pa.string(), pa.string())),
    })
    member_t = pa.struct([("ref", pa.int64()), ("type", pa.string()), ("role", pa.string())])
    _write(os.path.join(extract, "relations.parquet"), {
        "id": pa.array([], pa.int64()),
        "members": pa.array([], pa.list_(member_t)),
        "tags": pa.array([], pa.map_(pa.string(), pa.string())),
    })

    _write(os.path.join(db, "roads_existing.parquet"), {
        "osm_id": pa.array(ex_osm, pa.int64()),
        "highway": pa.array(["residential"] * n_exist),
        "name": pa.array(ex_name),
        "geometry": pa.array(ex_geom),
    })
    deleted = ex_osm[shape.n_cross:]
    _write(os.path.join(db, "roads_deleted.parquet"), {
        "osm_id": pa.array(deleted, pa.int64()),
    })
    _write(os.path.join(db, "roads_new.parquet"), {
        "highway": pa.array([("primary", "secondary", "tertiary")[int(k)] for k in rng.integers(0, 3, shape.n_new)]),
        "name": pa.array([f"new-road-{j}" for j in range(shape.n_new)]),
        "geometry": pa.array([_wkt_line([(x, float(y)) for y in new_vy]) for x in xs]),
    })

    # points and polygons sit below the road grid and touch nothing
    px = X0 + rng.uniform(0.0, width, shape.n_points)
    py = Y0 - 2000.0 - rng.uniform(0.0, 1000.0, shape.n_points)
    _write(os.path.join(db, "pois_new.parquet"), {
        "amenity": pa.array([("cafe", "school", "bank", "park")[int(k)] for k in rng.integers(0, 4, shape.n_points)]),
        "name": pa.array([f"poi-{k}" for k in range(shape.n_points)]),
        "geometry": pa.array([f"POINT ({x:.3f} {y:.3f})" for x, y in zip(px, py)]),
    })
    per_row = max(int(width // 50.0), 1)
    polys = []
    for k in range(shape.n_polygons):
        cx = X0 + 25.0 + (k % per_row) * 50.0
        cy = Y0 - 4000.0 - (k // per_row) * 50.0
        half = float(rng.uniform(8.0, 20.0))
        rings = _wkt_square(cx, cy, half)
        if k % 4 == 0:
            rings += ", " + _wkt_square(cx, cy, half / 3.0)
        polys.append(f"POLYGON ({rings})")
    _write(os.path.join(db, "areas_new.parquet"), {
        "building": pa.array(["yes"] * shape.n_polygons),
        "name": pa.array([f"area-{k}" for k in range(shape.n_polygons)]),
        "geometry": pa.array(polys),
    })

    spec = {
        "db": db,
        "extract": extract,
        "id_offset": nid + 1_000_000,
        "max_nodes_per_way": shape.members - 1,
        "shape": asdict(shape),
        "expected": shape.expected_counts(),
    }
    with open(os.path.join(out_dir, "spec.json"), "w") as f:
        json.dump(spec, f, indent=1, sort_keys=True)
    return spec
