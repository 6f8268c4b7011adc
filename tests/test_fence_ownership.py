"""Frames are materialized only in ``changegen_spark/operators/fence.py``.

A ``localCheckpoint``, ``checkpoint``, ``persist`` or ``cache`` call
elsewhere in the package is a fence that skips the shared one: it runs
no labelled job, cannot report observed counts, and makes its own choice
of eager versus lazy.  This test sweeps the package AST for every such
call, in the style of ``tests/test_conf_ownership.py``; a new one fails
the test until it goes through ``fence`` (``df.transform(fence, "name")``).
"""
import ast
import os
from collections import Counter

PKG = os.path.join(os.path.dirname(__file__), "..", "changegen_spark")

MATERIALIZERS = ("localCheckpoint", "checkpoint", "persist", "cache")

# (relpath, enclosing function) -> count
ALLOWED = {("changegen_spark/operators/fence.py", "fence"): 1}


def materialize_sites(pkg=PKG):
    """[(relpath, enclosing function)] for every ``<x>.localCheckpoint(``,
    ``<x>.checkpoint(``, ``<x>.persist(`` and ``<x>.cache(`` call under
    ``pkg``."""
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
                    and f.attr in MATERIALIZERS
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


def test_frames_are_materialized_only_in_the_fence():
    found = Counter(materialize_sites())
    allowed = Counter(ALLOWED)
    new = found - allowed
    assert not new, (
        "a frame is materialized outside operators/fence.py (use "
        f"df.transform(fence, name) or fence_observed): {dict(new)}"
    )
    gone = allowed - found
    assert not gone, f"stale allowed sites (removed or moved): {dict(gone)}"


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
    assert Counter(materialize_sites(pkg=str(tmp_path))) == Counter(
        {(rel, "bad"): 3, (rel, "inner"): 1}
    )
