"""Frames are materialized only in ``changegen_spark/operators/fence.py``,
and ranges are scanned only in ``changegen_spark/operators/ids.py``.

A ``localCheckpoint``, ``checkpoint``, ``persist`` or ``cache`` call
elsewhere in the package is a fence that skips the shared one: it runs
no labelled job, cannot report observed counts, and makes its own choice
of eager versus lazy.  A ``spark_partition_id`` call elsewhere is a
hand-rolled copy of ``prefix_sum``'s block scan, with its own partition
count and its own fence.  This test sweeps the package AST for every such
call, in the style of ``tests/test_conf_ownership.py``; a new one fails
the test until it goes through ``fence`` (``df.transform(fence, "name")``)
or ``prefix_sum``.
"""
import ast
import os
from collections import Counter

PKG = os.path.join(os.path.dirname(__file__), "..", "changegen_spark")

MATERIALIZERS = ("localCheckpoint", "checkpoint", "persist", "cache")

# (relpath, enclosing function) -> count
ALLOWED = {("changegen_spark/operators/fence.py", "fence"): 1}

# q_haversine's boundary-lag stitch pairs neighbours across range blocks:
# a lag, not a prefix sum
PARTITION_ID_ALLOWED = {
    ("changegen_spark/operators/ids.py", "prefix_sum"): 1,
    ("changegen_spark/queries/geo.py", "q_haversine"): 1,
}


def call_sites(names, pkg=PKG):
    """[(relpath, enclosing function)] for every ``<x>.<name>(`` call under
    ``pkg`` with ``name`` in ``names``."""
    out = []
    for root, _dirs, files in os.walk(pkg):
        for fn in sorted(files):
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            rel = os.path.relpath(path, os.path.join(pkg, ".."))
            tree = ast.parse(open(path).read())
            for node in ast.walk(tree):
                for ch in ast.iter_child_nodes(node):
                    ch._parent = node
            for node in ast.walk(tree):
                f = getattr(node, "func", None)
                if (
                    isinstance(node, ast.Call)
                    and isinstance(f, ast.Attribute)
                    and f.attr in names
                ):
                    out.append((rel.replace(os.sep, "/"), _enclosing_func(node)))
    return out


def _enclosing_func(node):
    cur = getattr(node, "_parent", None)
    while cur is not None:
        if isinstance(cur, (ast.FunctionDef, ast.AsyncFunctionDef)):
            return cur.name
        cur = getattr(cur, "_parent", None)
    return "<module>"


def _assert_only(names, allowed, advice):
    found = Counter(call_sites(names))
    new = found - Counter(allowed)
    assert not new, f"{advice}: {dict(new)}"
    gone = Counter(allowed) - found
    assert not gone, f"stale allowed sites (removed or moved): {dict(gone)}"


def test_frames_are_materialized_only_in_the_fence():
    _assert_only(
        MATERIALIZERS,
        ALLOWED,
        "a frame is materialized outside operators/fence.py (use "
        "df.transform(fence, name) or fence_observed)",
    )


def test_partition_ids_are_read_only_in_prefix_sum():
    _assert_only(
        ("spark_partition_id",),
        PARTITION_ID_ALLOWED,
        "a range block scan outside operators/ids.py (use prefix_sum)",
    )


def test_sweep_catches_materializing_calls(tmp_path):
    """The sweep itself: each of the four calls flags, chained, on a
    parenthesized expression and in nested functions; a fence call, a
    ``checkpointLocation`` option and a bare ``cache`` attribute do not."""
    (tmp_path / "shapes.py").write_text(
        "def bad(df):\n"
        "    a = df.localCheckpoint(eager=False)\n"
        "    b = (df.select('x')).checkpoint()\n"
        "    c = df.filter('x').persist().count()\n"
        "    def inner():\n"
        "        return df.cache()\n"
        "    return a, b, c, inner\n"
        "def good(df, fence, writer, functools):\n"
        "    writer.option('checkpointLocation', '/tmp/c')\n"
        "    memo = functools.cache\n"
        "    return df.transform(fence, 'name'), memo\n"
    )
    rel = f"{tmp_path.name}/shapes.py"
    assert Counter(call_sites(MATERIALIZERS, pkg=str(tmp_path))) == Counter(
        {(rel, "bad"): 3, (rel, "inner"): 1}
    )
