"""A test-only OSM ``.pbf`` encoder, written from the public format spec
(https://wiki.openstreetmap.org/wiki/PBF_Format).

It writes an OSMHeader blob, then zlib-compressed OSMData blobs of at most
``per_block`` elements, each a PrimitiveBlock with its own stringtable and
one PrimitiveGroup: DenseNodes (delta/zigzag ids and coordinates,
``keys_vals``), Ways (delta refs) or Relations (``roles_sid``, delta
``memids``, ``types``).  Coordinates use the default granularity of 100
nanodegrees, so they round to 1e-7 degrees.

    write_pbf(path, nodes=[(id, lat, lon, tags)], ways=[(id, nds, tags)],
              relations=[(id, [(ref, type, role)], tags)], per_block=8000)
"""

from __future__ import annotations

import zlib

_TYPES = {"node": 0, "way": 1, "relation": 2}


def _varint(n: int) -> bytes:
    n &= (1 << 64) - 1  # int64 fields carry negatives as two's complement
    out = bytearray()
    while n > 0x7F:
        out.append(n & 0x7F | 0x80)
        n >>= 7
    out.append(n)
    return bytes(out)


def _zigzag(n: int) -> int:
    return (n << 1) ^ (n >> 63)


def _int(fno: int, n: int) -> bytes:
    return _varint(fno << 3) + _varint(n)


def _bytes(fno: int, b: bytes) -> bytes:
    return _varint(fno << 3 | 2) + _varint(len(b)) + b


def _packed(fno: int, ns: list, delta: bool = False) -> bytes:
    if delta:
        ns = [_zigzag(n - p) for n, p in zip(ns, [0] + ns[:-1])]
    return _bytes(fno, b"".join(map(_varint, ns)))


class _Strings:
    """A block's stringtable; index 0 is the empty string by spec."""

    def __init__(self):
        self.index = {"": 0}

    def __call__(self, s: str) -> int:
        return self.index.setdefault(s, len(self.index))

    def encode(self) -> bytes:
        return b"".join(_bytes(1, s.encode("utf-8")) for s in self.index)


def _dense(nodes, st) -> bytes:
    runs = [[st(x) for kv in sorted((tags or {}).items()) for x in kv]
            for *_, tags in nodes]
    # once any node has tags, a 0 closes every node's run, tagged or not
    kvs = [i for run in runs for i in run + [0]] if any(runs) else []
    return (_packed(1, [n[0] for n in nodes], delta=True)
            + _packed(8, [round(n[1] * 1e7) for n in nodes], delta=True)
            + _packed(9, [round(n[2] * 1e7) for n in nodes], delta=True)
            + (_packed(10, kvs) if kvs else b""))


def _tags(tags, st) -> bytes:
    items = sorted((tags or {}).items())
    return _packed(2, [st(k) for k, _ in items]) + _packed(3, [st(v) for _, v in items])


def _way(way, st) -> bytes:
    wid, nds, tags = way
    return _int(1, wid) + _tags(tags, st) + _packed(8, list(nds or []), delta=True)


def _relation(rel, st) -> bytes:
    rid, members, tags = rel
    members = members or []
    return (_int(1, rid) + _tags(tags, st)
            + _packed(8, [st(role or "") for _, _, role in members])
            + _packed(9, [ref for ref, _, _ in members], delta=True)
            + _packed(10, [_TYPES[t] for _, t, _ in members]))


def _blob(kind: str, payload: bytes) -> bytes:
    blob = _int(2, len(payload)) + _bytes(3, zlib.compress(payload))
    header = _bytes(1, kind.encode()) + _int(3, len(blob))
    return len(header).to_bytes(4, "big") + header + blob


def write_pbf(path, nodes=(), ways=(), relations=(), per_block=8000) -> None:
    head = (_bytes(4, b"OsmSchema-V0.6") + _bytes(4, b"DenseNodes")
            + _bytes(16, b"changegen_spark tests"))
    out = [_blob("OSMHeader", head)]
    for elems, group in ((list(nodes), lambda b, st: _bytes(2, _dense(b, st))),
                         (list(ways), lambda b, st: b"".join(_bytes(3, _way(w, st)) for w in b)),
                         (list(relations), lambda b, st: b"".join(_bytes(4, _relation(r, st)) for r in b))):
        for i in range(0, len(elems), per_block):
            st = _Strings()
            body = group(elems[i:i + per_block], st)  # fills st first
            out.append(_blob("OSMData", _bytes(1, st.encode()) + _bytes(2, body)))
    with open(path, "wb") as f:
        f.write(b"".join(out))
