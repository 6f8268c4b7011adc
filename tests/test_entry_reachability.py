"""Every top-level function and class in ``changegen_spark/`` has a caller
outside the tests.

The entry points are the module-level code of every non-test ``.py`` file
in the repository: the CLI (``__main__``), the query registry (the
``QUERIES`` dicts and ``all_queries``), ``__spark_entry__.py``,
``bench.py``, ``tools/`` and ``perfbench/``.  A definition is live when
an entry point or a live definition uses its name; the sweep iterates
to a fixpoint.  A use is a ``Name``, an ``Attribute`` or a string
constant that is exactly an identifier (perfbench's ``CHANGEGEN_SPANS``
names the attributes it wraps that way).  An import alias or an
``__all__`` entry is not a use: a re-export alone keeps nothing alive.
A renamed import (``from m import f as g``) carries a use of ``g`` over
to ``f``.

Matching is by bare name, so a live use of ``resolve`` keeps every
top-level ``resolve`` alive; the sweep errs towards keeping code.  A
definition that only tests reach fails this test until it gets a caller
or is deleted with its tests.
"""
import ast
import os

REPO = os.path.normpath(os.path.join(os.path.dirname(__file__), ".."))
PKG_NAME = "changegen_spark"

# (relpath, name) -> why a definition with no entry-point caller stays
EXEMPT = {
    ("changegen_spark/sources/pbf.py", "iter_pbf_elements"):
        "single-process decode, the oracle test_pbf_datasource checks the Data Source against",
    ("changegen_spark/sources/geojson.py", "read_feature_collection"):
        "reader of the reference's GeoJSON fixtures, used by test_reference_parity",
    ("changegen_spark/sources/geojson.py", "_coords_to_rings"):
        "ring builder of read_feature_collection",
}

_SKIP_DIRS = {"tests", "__pycache__", "spark-warehouse", "metastore_db"}


def _is_test_file(name):
    return name.startswith("test_") or name == "conftest.py"


def source_files(repo=REPO):
    """{relpath: parsed module} for every non-test ``.py`` file under
    ``repo``."""
    out = {}
    for root, dirs, files in os.walk(repo):
        dirs[:] = sorted(
            d for d in dirs if d not in _SKIP_DIRS and not d.startswith(".")
        )
        for fn in sorted(files):
            if fn.endswith(".py") and not _is_test_file(fn):
                path = os.path.join(root, fn)
                rel = os.path.relpath(path, repo).replace(os.sep, "/")
                with open(path) as f:
                    out[rel] = ast.parse(f.read(), filename=rel)
    return out


def _is_all_assign(node):
    targets = node.targets if isinstance(node, ast.Assign) else [
        getattr(node, "target", None)
    ]
    return any(isinstance(t, ast.Name) and t.id == "__all__" for t in targets)


def used_names(nodes):
    """Names that the code in ``nodes`` uses, skipping ``__all__``
    assignments (import aliases are ``alias`` nodes, never walked as
    uses)."""
    names = set()
    stack = list(nodes)
    while stack:
        node = stack.pop()
        if isinstance(node, (ast.Assign, ast.AugAssign, ast.AnnAssign)) and (
            _is_all_assign(node)
        ):
            continue
        if isinstance(node, ast.Name):
            names.add(node.id)
        elif isinstance(node, ast.Attribute):
            names.add(node.attr)
        elif (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and node.value.isidentifier()
        ):
            names.add(node.value)
        stack.extend(ast.iter_child_nodes(node))
    return names


_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def unreached(repo=REPO, pkg=PKG_NAME):
    """Sorted ``relpath:name`` of the top-level definitions under ``pkg``
    that no entry point reaches."""
    modules = source_files(repo)
    defs = {}  # (relpath, name) -> def node
    roots = set()
    renamed = {}  # import asname -> imported names
    for rel, tree in modules.items():
        for node in ast.walk(tree):
            if isinstance(node, (ast.Import, ast.ImportFrom)):
                for a in node.names:
                    if a.asname:
                        renamed.setdefault(a.asname, set()).add(a.name)
        top = []
        for node in tree.body:
            if isinstance(node, _DEFS) and rel.startswith(pkg + "/"):
                defs[(rel, node.name)] = node
            else:
                top.append(node)
        roots |= used_names(top)
    live_names = set(roots)
    live = set()
    while True:
        for n in list(live_names):
            live_names |= renamed.get(n, set())
        new = {k for k in defs if k not in live and k[1] in live_names}
        if not new:
            break
        live |= new
        for k in new:
            live_names |= used_names([defs[k]])
    return sorted(f"{rel}:{name}" for rel, name in set(defs) - live)


def test_every_definition_has_an_entry_point_caller():
    dead = [d for d in unreached() if tuple(d.split(":")) not in EXEMPT]
    assert not dead, (
        "top-level definitions that only tests reach (give each a caller "
        f"outside tests/ or delete it with its tests): {dead}"
    )


def test_exemptions_are_still_unreached():
    dead = set(unreached())
    stale = [f"{rel}:{name}" for rel, name in EXEMPT if f"{rel}:{name}" not in dead]
    assert not stale, f"exempt definitions that now have a caller or are gone: {stale}"


def test_sweep_flags_test_only_and_reexported_defs(tmp_path):
    """The sweep itself, on a throwaway package: a def only a test calls
    and a def only an ``__init__`` import and ``__all__`` keep alive both
    flag; a def reached through a ``QUERIES`` dict, one named by an
    identifier string in a span table, one called under a renamed
    import, and a def that only a live def calls do not."""
    pkg = tmp_path / "pkg"
    pkg.mkdir()
    (pkg / "__init__.py").write_text(
        "from .mod import reexported\n__all__ = ['reexported']\n"
    )
    (pkg / "mod.py").write_text(
        "def q_live(spark):\n"
        "    return _helper(spark)\n"
        "def _helper(spark):\n"
        "    return spark\n"
        "def reexported():\n"
        "    pass\n"
        "def test_only():\n"
        "    pass\n"
        "def aliased():\n"
        "    pass\n"
        "class Spanned:\n"
        "    def run(self):\n"
        "        pass\n"
        "QUERIES = {'q_live': q_live}\n"
    )
    (tmp_path / "tools").mkdir()
    (tmp_path / "tools" / "bench.py").write_text(
        "from pkg.mod import aliased as _al\n"
        "SPANS = (('pkg.mod', 'Spanned', 'mod.spanned'),)\n"
        "_al()\n"
    )
    (tmp_path / "tests").mkdir()
    (tmp_path / "tests" / "test_mod.py").write_text(
        "from pkg.mod import test_only\n"
        "def test_it():\n"
        "    test_only()\n"
    )
    assert unreached(repo=str(tmp_path), pkg="pkg") == [
        "pkg/mod.py:reexported",
        "pkg/mod.py:test_only",
    ]
