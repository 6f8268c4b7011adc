"""Spark confs are set where the session is built:
``changegen_spark/session.py:get_spark``.

A runtime ``spark.conf.set`` / ``spark.conf.unset`` inside the package
changes the whole session, including jobs that other threads are running
at the time, and makes a plan depend on which code path ran before it.
This test sweeps the package AST for every such call, in the style of
``tests/test_ndet_audit.py``.  Each allowed site is pinned here with its
reason; a new one fails the test until it moves into ``get_spark`` (or
becomes a reader/writer option) or is checked and recorded here.
"""
import ast
import os
from collections import Counter

PKG = os.path.join(os.path.dirname(__file__), "..", "changegen_spark")

# (relpath, enclosing function) -> (count, reason)
ALLOWED = {
    ("changegen_spark/sources/tables.py", "_read_parquet_nanos_safe"):
        (1, "events.parquet is TIMESTAMP(NANOS), which a session built "
            "outside get_spark (e.g. the one __spark_entry__ is given) "
            "cannot read without spark.sql.legacy.parquet.nanosAsLong; "
            "get_spark sets the same value, so there it is a no-op"),
}


def conf_sites(pkg=PKG):
    """[(relpath, enclosing function)] for every ``<x>.conf.set(`` and
    ``<x>.conf.unset(`` call under ``pkg``."""
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
                    and f.attr in ("set", "unset")
                    and isinstance(f.value, ast.Attribute)
                    and f.value.attr == "conf"
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


def test_confs_are_set_only_where_the_session_is_built():
    found = Counter(conf_sites())
    allowed = Counter({key: n for key, (n, _why) in ALLOWED.items()})
    new = found - allowed
    assert not new, (
        "runtime Spark conf set/unset outside session.get_spark (set it "
        "in session.get_spark, pass a reader/writer option, or pin it in "
        f"tests/test_conf_ownership.py ALLOWED with its reason): {dict(new)}"
    )
    gone = allowed - found
    assert not gone, f"stale allowed sites (removed or moved): {dict(gone)}"


def test_sweep_catches_conf_calls(tmp_path):
    """The sweep itself: session and frame-session conf calls flag, in
    nested functions too; conf reads, writer options and other ``set``
    calls do not."""
    (tmp_path / "shapes.py").write_text(
        "def bad(spark, df):\n"
        "    spark.conf.set('k', 'v')\n"
        "    df.sparkSession.conf.unset('k')\n"
        "    def inner():\n"
        "        spark.conf.set('k', 'w')\n"
        "    return inner\n"
        "def good(spark, df, seen):\n"
        "    seen.set('k')\n"
        "    spark.conf.get('k')\n"
        "    return df.write.option('k', 'v')\n"
    )
    rel = f"{tmp_path.name}/shapes.py"
    assert Counter(conf_sites(pkg=str(tmp_path))) == Counter(
        {(rel, "bad"): 2, (rel, "inner"): 1}
    )
