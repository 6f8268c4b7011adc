#!/usr/bin/env python
"""Repo-wide nondeterministic-source audit (r9 verdict #1).

The r9 repartitionByRange postmortem generalizes: ANY operator whose
output depends on execution-time state (sampled range boundaries, the
partition layout, input arrival order) silently produces different rows
per action.  That is harmless when the frame is executed exactly once,
and a correctness bug the moment two consumers (or an eval+pairs query
pair) each trigger their own execution — one consumer's derived
metadata gets applied to the other's rows.

This tool sweeps the package AST for every construct in the hazard
class and applies the mechanical safety rules; anything the rules can't
prove safe must appear in the per-site DISPOSITIONS allowlist below,
where the safety argument is recorded next to the site.  The test pin
(tests/test_ndet_audit.py) fails on any NEW site, so the audit can't
silently rot: adding a `rand()`/`sample()`/`monotonically_increasing_id`
/`repartitionByRange`/unsorted-`collect_list`/unordered-`limit` call
anywhere in changegen_spark requires a reviewed disposition entry.

Hazard constructs and their mechanical rules:

- ``collect_list`` / ``collect_set``: partition arrival order is
  nondeterministic, so the array order is too.  SAFE iff the call is
  the direct argument of ``array_sort`` / ``sort_array`` (the repo
  idiom: collect structs led by a total key, sort, then strip), or the
  site is disposed (e.g. the consumer reduces order-insensitively).
- ``.limit(n)``: without a total order, which n rows survive depends
  on partition scheduling.  SAFE iff n == 0 or the receiver chain ends
  in ``orderBy``/``sort`` (ties must be broken by the sort key being
  total — that part is the disposition's burden, checked at review).
- ``F.first`` / ``F.last``: arrival-order dependent.  Never
  mechanically safe; each site must be disposed (constant-per-group
  column, or explicit ordering upstream of a single partition).
- ``rand`` / ``randn`` / ``shuffle`` / ``sample`` /
  ``monotonically_increasing_id`` / ``uuid`` /
  ``repartitionByRange``: re-evaluated per action with fresh
  seeds/boundaries/layout.  Never mechanically safe; each site must be
  disposed (single-action, fenced through operators/fence.py, or
  value-irrelevant).

Run: ``python tools/ndet_audit.py`` — prints the inventory and exits
nonzero on undisposed sites.
"""
import ast
import os
import sys

PKG = os.path.join(os.path.dirname(__file__), "..", "changegen_spark")

AGG_ORDER = {"collect_list", "collect_set"}
SORT_WRAP = {"array_sort", "sort_array"}
ARRIVAL = {"first", "last"}
RANDOMISH = {
    "rand",
    "randn",
    "shuffle",
    "sample",
    "monotonically_increasing_id",
    "uuid",
    "repartitionByRange",
}
ORDERED = {"orderBy", "sort", "sortWithinPartitions"}


def _callee_name(call: ast.Call):
    f = call.func
    if isinstance(f, ast.Attribute):
        return f.attr
    if isinstance(f, ast.Name):
        return f.id
    return None


def sweep(pkg=PKG):
    """Yield (relpath, funcname, construct, mechanically_safe) sites."""
    out = []
    for root, _dirs, files in os.walk(pkg):
        for fn in sorted(files):
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            rel = os.path.relpath(path, os.path.join(pkg, ".."))
            tree = ast.parse(open(path).read())
            # annotate parents for the sort-wrap check
            for node in ast.walk(tree):
                for ch in ast.iter_child_nodes(node):
                    ch._parent = node
            func_stack = {}
            for node in ast.walk(tree):
                if not isinstance(node, ast.Call):
                    continue
                name = _callee_name(node)
                if name is None:
                    continue
                enclosing = _enclosing_func(node)
                if name in AGG_ORDER:
                    out.append(
                        (rel, enclosing, name, _sort_wrapped(node))
                    )
                elif name in ARRIVAL and _is_functions_module_call(node):
                    out.append((rel, enclosing, f"F.{name}", False))
                elif name == "limit":
                    out.append((rel, enclosing, name, _limit_safe(node)))
                elif name in RANDOMISH:
                    out.append((rel, enclosing, name, False))
    return out


def _enclosing_func(node):
    cur = node
    while cur is not None:
        cur = getattr(cur, "_parent", None)
        if isinstance(cur, (ast.FunctionDef, ast.AsyncFunctionDef)):
            return cur.name
    return "<module>"


def _sort_wrapped(call):
    """collect_list(...) safe iff its value feeds array_sort/sort_array
    directly (possibly through an .alias(...) on the sorted result —
    the repo idiom sorts first, aliases after)."""
    p = getattr(call, "_parent", None)
    if isinstance(p, ast.Call) and _callee_name(p) in SORT_WRAP:
        return True
    return False


def _is_functions_module_call(call):
    """True for F.first / F.last (pyspark aggregate), False for
    dict.first-style methods or driver-side helpers."""
    f = call.func
    return (
        isinstance(f, ast.Attribute)
        and isinstance(f.value, ast.Name)
        and f.value.id == "F"
    )


def _limit_safe(call):
    args = call.args
    if len(args) == 1 and isinstance(args[0], ast.Constant):
        if args[0].value == 0:
            return True
    f = call.func
    if isinstance(f, ast.Attribute) and isinstance(f.value, ast.Call):
        recv = _callee_name(f.value)
        if recv in ORDERED:
            return True
    return False


def main():
    sites = sweep()
    flagged = [(r, fn, c) for (r, fn, c, ok) in sites if not ok]
    safe = [(r, fn, c) for (r, fn, c, ok) in sites if ok]
    print(f"{len(sites)} sites, {len(safe)} mechanically safe, "
          f"{len(flagged)} need disposition:")
    for r, fn, c in flagged:
        print(f"  {r}  {fn}  {c}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
