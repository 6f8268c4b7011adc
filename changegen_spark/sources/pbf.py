"""Native OSM ``.pbf`` ingestion: a pure-Python decoder behind one Spark
reader, the registered ``osmpbf`` Python Data Source.

The reference reads the extract through osmium callbacks (handler
``changegen/generator.py:35-53``; metadata scan
``changegen/__main__.py:26-53``).  This module does the same from public
format knowledge only (the OSM PBF wire format:
https://wiki.openstreetmap.org/wiki/PBF_Format — varint/zigzag protobuf
encoding, zlib-compressed PrimitiveBlocks, DenseNodes delta coding).

``spark.read.format("osmpbf").load("extract.osm.pbf")`` (after
:func:`register`) yields one row per element in ``_UNIFIED_SCHEMA``:

* **partition planning** — a ``.pbf`` is a sequence of independently
  decodable Blobs (≤32 MB each by spec).  The driver reads only the blob
  index (4-byte lengths and BlobHeaders, no decompression) and plans one
  ``InputPartition`` per OSMData blob, so a planet file fans out across
  the cluster with no repartition step and no driver memory;
* **executor-side decode** — each task opens the file itself (shared
  storage, the standard cluster layout; trivially true in local mode) and
  yields rows directly;
* **element-kind pruning** — ``.option("kinds", "way")`` makes the
  loaded table the per-kind subset; the decode skips other
  PrimitiveGroups before parsing their bodies, and a blob with no wanted
  group never decodes its stringtable (the dominant cost);
* **column pruning** — the Python Data Source API (4.1) has no planner
  prune hook, so ``.option("columns", "kind,id")`` declares the pruned
  schema and the decode skips unprojected tags, refs, members and coords.

:func:`read_pbf_tables` reads the full scan once, fences it, and splits it
into the engine's three extract tables.  The decoder is pure CPython over
``bytes``: adequate for extracts; ``_decode_primitive_block`` is the swap
point for a vectorized or native decoder.

.. warning:: **Why this source does NOT implement ``pushFilters``**
   (Spark 4.1.2): once a kind-filtered scan of a relation plans through
   the pushdown worker, Spark REUSES that pushed read function for
   subsequent UNFILTERED scans — on the reference extract ``df.count()``
   after ``df.filter(kind='way').count()`` returned 2953 instead of
   84137, silently dropping every node and relation.  The reuse even
   follows a fresh ``.load()`` of the same path.  A mutable-pushdown
   reader is therefore unusable for correctness on this Spark build; the
   option-based subset is relation-scoped and immutable, so every scan of
   a given relation decodes the same rows no matter what was planned
   before it.  The test ``test_pushfilters_scan_reuse_is_still_broken``
   pins the Spark behavior with a throwaway reader — when a Spark upgrade
   fixes it, that test fails and pushFilters becomes adoptable.
"""

from __future__ import annotations

import os
import zlib
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from changegen_spark.operators.fence import fence

# one row per element; tags/members as parallel arrays, map and struct
# columns are built Spark-side (read_pbf_tables)
_UNIFIED_SCHEMA = (
    "kind string, id long, lat double, lon double, nds array<long>, "
    "mrefs array<long>, mtypes array<string>, mroles array<string>, "
    "tag_keys array<string>, tag_vals array<string>"
)
_ALL_COLS = tuple(c.split()[0] for c in _UNIFIED_SCHEMA.split(", "))

_MEMBER_TYPES = ("node", "way", "relation")


# ---------------------------------------------------------------- wire format

def _varint(buf: bytes, i: int) -> tuple[int, int]:
    """Unsigned base-128 varint at buf[i:] → (value, next_index)."""
    shift = 0
    result = 0
    while True:
        b = buf[i]
        i += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, i
        shift += 7


def _zigzag(n: int) -> int:
    return (n >> 1) ^ -(n & 1)


def _fields(buf: bytes) -> Iterator[tuple[int, int, object]]:
    """Iterate protobuf (field_no, wire_type, value) triples.

    wt0 → raw varint int; wt2 → bytes view; wt1/wt5 → skipped (returned as
    None; no OSM PBF field we consume uses them)."""
    i = 0
    n = len(buf)
    while i < n:
        key, i = _varint(buf, i)
        fno, wt = key >> 3, key & 7
        if wt == 0:
            v, i = _varint(buf, i)
            yield fno, wt, v
        elif wt == 2:
            ln, i = _varint(buf, i)
            yield fno, wt, buf[i : i + ln]
            i += ln
        elif wt == 5:
            yield fno, wt, None
            i += 4
        elif wt == 1:
            yield fno, wt, None
            i += 8
        else:  # pragma: no cover - groups are not used by OSM PBF
            raise ValueError(f"unsupported wire type {wt}")


def _packed(buf: bytes) -> list[int]:
    """Packed repeated varints → list of raw (unsigned) ints."""
    out = []
    i = 0
    n = len(buf)
    while i < n:
        v, i = _varint(buf, i)
        out.append(v)
    return out


def _packed_zigzag_delta(buf: bytes) -> list[int]:
    """Packed sint64 deltas → cumulative absolute values."""
    out = []
    acc = 0
    i = 0
    n = len(buf)
    while i < n:
        v, i = _varint(buf, i)
        acc += _zigzag(v)
        out.append(acc)
    return out


# ---------------------------------------------------------------- file layout

def scan_blob_spans(path: str) -> list[tuple[str, int, int]]:
    """Driver-side span scan: [(blob_type, data_offset, data_size)].

    Reads only the 4-byte lengths + BlobHeaders (a few hundred bytes per
    ~8 MB blob) — no decompression, O(file/blob_size) tiny reads."""
    spans = []
    with open(path, "rb") as f:
        while True:
            head = f.read(4)
            if len(head) < 4:
                break
            hlen = int.from_bytes(head, "big")
            header = f.read(hlen)
            btype, dsize = "", 0
            for fno, _wt, v in _fields(header):
                if fno == 1:
                    btype = bytes(v).decode("utf-8")
                elif fno == 3:
                    dsize = v
            off = f.tell()
            spans.append((btype, off, dsize))
            f.seek(off + dsize)
    return spans


def _blob_raw(data: bytes) -> bytes:
    """Blob message → decompressed block bytes (raw or zlib)."""
    raw = None
    zdata = None
    for fno, _wt, v in _fields(data):
        if fno == 1:
            raw = bytes(v)
        elif fno == 3:
            zdata = bytes(v)
        # fno 2 = raw_size (advisory); lzma/lz4/zstd (6/7/8) unsupported here
    if raw is not None:
        return raw
    if zdata is not None:
        return zlib.decompress(zdata)
    raise ValueError("Blob carries no raw/zlib payload (unsupported compression?)")


# ------------------------------------------------------------- block decoding

# PrimitiveGroup field number per element kind (osmformat.proto)
_KIND_FNO = {"node": (1, 2), "way": (3,), "relation": (4,)}


def _decode_primitive_block(
    raw: bytes,
    kinds: frozenset | None = None,
    cols: frozenset | None = None,
) -> Iterator[tuple]:
    """PrimitiveBlock → element tuples in _UNIFIED_SCHEMA column order.

    ``kinds`` (element-kind pruning) and ``cols`` (column pruning) are
    the ``osmpbf`` reader options (the twin of the reference's per-type
    filtered scan, ``changegen/generator.py:35-53``).  With a ``kinds``
    set, groups of other kinds are skipped BEFORE their bodies are
    parsed — and when no wanted group exists in the blob, the
    stringtable is never decoded (the dominant cost: utf-8 of every
    unique tag string).  With a
    ``cols`` set, tag/nds/member/coord decode is skipped for
    unprojected columns; skipped slots yield None (the caller projects
    them away).  Both default to None = decode everything.
    """
    need_tags = cols is None or "tag_keys" in cols or "tag_vals" in cols
    need_roles = cols is None or "mroles" in cols
    need_mtypes = cols is None or "mtypes" in cols
    need_mrefs = cols is None or "mrefs" in cols
    need_coords = cols is None or "lat" in cols or "lon" in cols
    need_nds = cols is None or "nds" in cols

    st_raw = None
    groups: list[bytes] = []
    granularity = 100
    lat_off = 0
    lon_off = 0
    for fno, _wt, v in _fields(raw):
        if fno == 1:  # stringtable — keep raw, decode lazily below
            st_raw = v
        elif fno == 2:
            groups.append(bytes(v))
        elif fno == 17:
            granularity = v
        elif fno == 19:
            lat_off = v
        elif fno == 20:
            lon_off = v

    strings: list[str] | None = None

    def get_strings() -> list[str]:
        nonlocal strings
        if strings is None:
            strings = (
                [
                    bytes(s).decode("utf-8", "replace")
                    for f2, _w2, s in _fields(st_raw)
                    if f2 == 1
                ]
                if st_raw is not None
                else []
            )
        return strings

    scale = 1e-9

    def coord(latv: int, lonv: int) -> tuple[float, float]:
        return (
            scale * (lat_off + granularity * latv),
            scale * (lon_off + granularity * lonv),
        )

    wanted_fnos = (
        None
        if kinds is None
        else frozenset(f for k in kinds for f in _KIND_FNO[k])
    )
    for g in groups:
        for fno, _wt, v in _fields(g):
            if wanted_fnos is not None and fno not in wanted_fnos:
                continue  # kind pushdown: group body never parsed
            if fno == 1:  # plain Node (rare in modern files)
                nid = 0
                keys: list[int] = []
                vals: list[int] = []
                latv = lonv = 0
                for f2, _w2, v2 in _fields(v):
                    if f2 == 1:
                        nid = _zigzag(v2)
                    elif f2 == 2 and need_tags:
                        keys = _packed(v2)
                    elif f2 == 3 and need_tags:
                        vals = _packed(v2)
                    elif f2 == 8 and need_coords:
                        latv = _zigzag(v2)
                    elif f2 == 9 and need_coords:
                        lonv = _zigzag(v2)
                lat, lon = coord(latv, lonv) if need_coords else (None, None)
                st = get_strings() if need_tags else ()
                yield (
                    "node", nid, lat, lon, None, None, None, None,
                    [st[k] for k in keys] if need_tags else None,
                    [st[k] for k in vals] if need_tags else None,
                )
            elif fno == 2:  # DenseNodes
                ids: list[int] = []
                lats: list[int] = []
                lons: list[int] = []
                kvs: list[int] = []
                for f2, _w2, v2 in _fields(v):
                    if f2 == 1:
                        ids = _packed_zigzag_delta(v2)
                    elif f2 == 8 and need_coords:
                        lats = _packed_zigzag_delta(v2)
                    elif f2 == 9 and need_coords:
                        lons = _packed_zigzag_delta(v2)
                    elif f2 == 10 and need_tags:
                        kvs = _packed(v2)
                ki = 0
                nkv = len(kvs)
                st = get_strings() if need_tags and nkv else ()
                for idx, nid in enumerate(ids):
                    if need_tags and nkv:
                        tk: list[str] | None = []
                        tv: list[str] | None = []
                        while ki < nkv and kvs[ki] != 0:
                            tk.append(st[kvs[ki]])
                            tv.append(st[kvs[ki + 1]])
                            ki += 2
                        ki += 1  # skip the 0 delimiter
                    else:
                        tk = [] if need_tags else None
                        tv = [] if need_tags else None
                    lat, lon = (
                        coord(lats[idx], lons[idx])
                        if need_coords
                        else (None, None)
                    )
                    yield ("node", nid, lat, lon, None, None, None, None, tk, tv)
            elif fno == 3:  # Way
                wid = 0
                keys = []
                vals = []
                refs: list[int] | None = None
                for f2, _w2, v2 in _fields(v):
                    if f2 == 1:
                        wid = v2
                    elif f2 == 2 and need_tags:
                        keys = _packed(v2)
                    elif f2 == 3 and need_tags:
                        vals = _packed(v2)
                    elif f2 == 8 and need_nds:
                        refs = _packed_zigzag_delta(v2)
                if need_nds and refs is None:
                    refs = []
                st = get_strings() if need_tags else ()
                yield (
                    "way", wid, None, None, refs, None, None, None,
                    [st[k] for k in keys] if need_tags else None,
                    [st[k] for k in vals] if need_tags else None,
                )
            elif fno == 4:  # Relation
                rid = 0
                keys = []
                vals = []
                roles: list[int] = []
                memids: list[int] | None = None
                types: list[int] = []
                for f2, _w2, v2 in _fields(v):
                    if f2 == 1:
                        rid = v2
                    elif f2 == 2 and need_tags:
                        keys = _packed(v2)
                    elif f2 == 3 and need_tags:
                        vals = _packed(v2)
                    elif f2 == 8 and need_roles:
                        roles = _packed(v2)
                    elif f2 == 9 and need_mrefs:
                        memids = _packed_zigzag_delta(v2)
                    elif f2 == 10 and need_mtypes:
                        types = _packed(v2)
                if need_mrefs and memids is None:
                    memids = []
                st = get_strings() if (need_tags or need_roles) else ()
                yield (
                    "relation", rid, None, None, None,
                    memids,
                    [_MEMBER_TYPES[t] for t in types] if need_mtypes else None,
                    [st[r] for r in roles] if need_roles else None,
                    [st[k] for k in keys] if need_tags else None,
                    [st[k] for k in vals] if need_tags else None,
                )


def iter_pbf_elements(path: str) -> Iterator[tuple]:
    """Single-process decode of every element (driver-side convenience /
    test oracle); the Spark path is :func:`read_pbf_tables`."""
    with open(path, "rb") as f:
        for btype, off, size in scan_blob_spans(path):
            if btype != "OSMData":
                continue
            f.seek(off)
            yield from _decode_primitive_block(_blob_raw(f.read(size)))


# ---------------------------------------------------------------- Spark entry

def _parse_columns(options) -> tuple[str, ...] | None:
    raw = options.get("columns")
    if not raw:
        return None
    cols = tuple(c.strip() for c in raw.split(",") if c.strip())
    bad = [c for c in cols if c not in _ALL_COLS]
    if bad:
        raise ValueError(
            f"osmpbf: unknown columns {bad}; available: {list(_ALL_COLS)}"
        )
    return cols


def _parse_kinds(options) -> frozenset | None:
    raw = options.get("kinds")
    if not raw:
        return None
    kinds = frozenset(k.strip() for k in raw.split(",") if k.strip())
    bad = sorted(kinds - set(_KIND_FNO))
    if bad:
        raise ValueError(
            f"osmpbf: unknown kinds {bad}; available: {list(_KIND_FNO)}"
        )
    return kinds


class PbfBlobPartition(InputPartition):
    """One OSMData blob: (byte offset, size) within the shared-path file."""

    def __init__(self, off: int, size: int):
        self.off = off
        self.size = size


class OsmPbfReader(DataSourceReader):
    def __init__(self, options):
        path = options.get("path")
        if not path:
            raise ValueError("osmpbf: .load(path) is required")
        self.path = os.path.abspath(path)
        self.columns = _parse_columns(options)
        self.kinds = _parse_kinds(options)

    def partitions(self):
        return [
            PbfBlobPartition(off, size)
            for btype, off, size in scan_blob_spans(self.path)
            if btype == "OSMData"
        ]

    def read(self, partition: PbfBlobPartition):
        with open(self.path, "rb") as f:
            f.seek(partition.off)
            raw = _blob_raw(f.read(partition.size))
        cols = self.columns
        colset = frozenset(cols) if cols is not None else None
        rows = _decode_primitive_block(raw, kinds=self.kinds, cols=colset)
        if cols is None:
            yield from rows
        else:
            idxs = tuple(_ALL_COLS.index(c) for c in cols)
            for row in rows:
                yield tuple(row[i] for i in idxs)


class OsmPbfDataSource(DataSource):
    """``format("osmpbf")`` — unified OSM element rows from a .pbf file."""

    @classmethod
    def name(cls) -> str:
        return "osmpbf"

    def schema(self) -> str:
        _parse_kinds(self.options)  # validate eagerly at load time
        cols = _parse_columns(self.options)
        if cols is None:
            return _UNIFIED_SCHEMA
        by_name = dict(zip(_ALL_COLS, _UNIFIED_SCHEMA.split(", ")))
        return ", ".join(by_name[c] for c in cols)

    def reader(self, schema) -> OsmPbfReader:
        return OsmPbfReader(self.options)


def register(spark) -> None:
    """Idempotently register the osmpbf format on this session."""
    spark.dataSource.register(OsmPbfDataSource)


def read_pbf_tables(spark: SparkSession, path: str) -> dict[str, DataFrame]:
    """``.pbf`` → the engine's extract tables (``pbf_nodes`` /
    ``pbf_ways`` / ``pbf_relations``), schema-identical to a pre-ingested
    parquet extract (``sources/osm.py`` PBF_*_SCHEMA).

    The file must be reachable at the same path on every executor."""
    register(spark)
    # one decode job serves all three per-kind selects
    u = (
        spark.read.format("osmpbf")
        .load(os.path.abspath(path))
        .transform(fence, "read_pbf_tables decode")
    )
    tags = F.map_from_arrays(F.col("tag_keys"), F.col("tag_vals")).alias("tags")
    nodes = u.filter(F.col("kind") == "node").select("id", "lat", "lon", tags)
    ways = u.filter(F.col("kind") == "way").select(
        "id", F.col("nds").alias("nds"), tags
    )
    rels = u.filter(F.col("kind") == "relation").select(
        "id",
        F.zip_with(
            F.arrays_zip(
                F.col("mrefs").alias("ref"),
                F.col("mtypes").alias("type"),
            ),
            F.col("mroles"),
            lambda rt, role: F.struct(
                rt.getField("ref").alias("ref"),
                rt.getField("type").alias("type"),
                role.alias("role"),
            ),
        ).alias("members"),
        tags,
    )
    return {"pbf_nodes": nodes, "pbf_ways": ways, "pbf_relations": rels}


def ingest_pbf_to_parquet(spark: SparkSession, path: str, outdir: str) -> dict[str, int]:
    """One-shot ingest: ``.pbf`` → ``{outdir}/{nodes,ways,relations}.parquet``.

    The materialized layout is what every other entry point consumes
    (FIXTURES.md §6) — ingest once, scan many."""
    os.makedirs(outdir, exist_ok=True)
    tables = read_pbf_tables(spark, path)
    counts = {}
    for kind, df in (
        ("nodes", tables["pbf_nodes"]),
        ("ways", tables["pbf_ways"]),
        ("relations", tables["pbf_relations"]),
    ):
        out = os.path.join(outdir, f"{kind}.parquet")
        df.write.mode("overwrite").parquet(out)
        counts[kind] = spark.read.parquet(out).count()
    return counts


def main(argv: list[str] | None = None) -> int:  # pragma: no cover - thin CLI
    import argparse
    import sys

    p = argparse.ArgumentParser(
        prog="changegen_spark.sources.pbf",
        description="Ingest an OSM .pbf into nodes/ways/relations parquet.",
    )
    p.add_argument("pbf")
    p.add_argument("outdir")
    args = p.parse_args(argv)
    from changegen_spark.session import get_spark

    counts = ingest_pbf_to_parquet(get_spark("pbf-ingest"), args.pbf, args.outdir)
    print(f"ingested {args.pbf}: {counts}", file=sys.stderr)
    return 0


if __name__ == "__main__":  # pragma: no cover
    raise SystemExit(main())
