"""Output checks.  Each returns a list of problems; empty means correct.

``check_osc`` re-reads a changefile with ``sources.osc.read_osmchange``,
compares its per-block, per-kind element counts with the counts the
generator derived from the seed, applies it to the extract with
``operators.apply.apply_changeset`` and requires an empty
``referential_integrity_report``.

``compare_frames`` is the comparison of ``tools/check_oracle.py``: row
count, sorted column names, then the rows as canonical strings, columns
sorted by name and rows sorted by every column.
"""

from __future__ import annotations

import hashlib
import os


def sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def check_osc(spark, osc_path: str, extract_dir: str, expected: dict) -> list[str]:
    from changegen_spark.operators.apply import (
        apply_changeset,
        referential_integrity_report,
    )
    from changegen_spark.sources.osc import read_osmchange

    problems = []
    elements = read_osmchange(spark, osc_path).cache()
    try:
        got: dict[str, dict[str, int]] = {}
        for r in elements.groupBy("change_type", "kind").count().collect():
            got.setdefault(r["change_type"], {})[r["kind"]] = r["count"]
        for block, kinds in expected.items():
            for kind, n in kinds.items():
                have = got.get(block, {}).get(kind, 0)
                if have != n:
                    problems.append(f"{block}/{kind}: {have} elements, expected {n}")
        extra = set(got) - set(expected)
        if extra:
            problems.append(f"unexpected blocks {sorted(extra)}")

        def table(name):
            return spark.read.parquet(os.path.join(extract_dir, f"{name}.parquet"))

        nodes, ways = apply_changeset(table("nodes"), table("ways"), elements)
        dangling = referential_integrity_report(nodes, ways).count()
        if dangling:
            problems.append(f"{dangling} way node refs resolve to no node after apply")
    finally:
        elements.unpersist()
    return problems


def normalize(df):
    """pandas frame → canonical string frame (columns and rows sorted)."""
    df = df.reindex(sorted(df.columns), axis=1)

    def canon(v):
        if v is None or (isinstance(v, float) and v != v):
            return "<null>"
        if isinstance(v, float):
            if v == int(v) and abs(v) < 1e15:
                return str(int(v))
            return repr(round(v, 9))
        if hasattr(v, "isoformat"):
            return v.isoformat()
        return str(v)

    out = df.apply(lambda col: col.map(canon))
    return out.sort_values(by=list(out.columns)).reset_index(drop=True)


def compare_frames(got, expected) -> list[str]:
    """Compare a normalized result with a normalized oracle result."""
    if len(got) != len(expected):
        return [f"{len(got)} rows, oracle has {len(expected)}"]
    if list(got.columns) != list(expected.columns):
        return [f"columns {list(got.columns)}, oracle has {list(expected.columns)}"]
    if not got.equals(expected):
        differ = int((got != expected).any(axis=1).sum())
        return [f"{differ} of {len(got)} rows differ from the oracle"]
    return []
