"""r10 (r9 verdict #1): the repartitionByRange postmortem, generalized.

tools/ndet_audit.py sweeps the package AST for every construct whose
output depends on execution-time state — sampled range boundaries,
partition layout, arrival order — and applies mechanical safety rules
(collect_list must be array_sort-wrapped, limit must chain off an
orderBy, …).  Sites the rules can't prove safe are pinned HERE, each
with its reviewed disposition.  A new `rand()` / `sample()` /
`monotonically_increasing_id` / `repartitionByRange` / unsorted
collect_list / unordered limit anywhere in changegen_spark makes this
test fail until the site is reviewed and its disposition recorded —
the audit cannot silently rot.

Disposition vocabulary:
- fenced: a ``fence`` (operators/fence.py) immediately downstream, so
  all consumers read ONE materialization (the r9 fix class).
- single-action: the frame is consumed by exactly one action (write
  path), so there is no second execution to diverge from.
- value-irrelevant: the nondeterministic value never reaches the
  result (0.0-multiplied codegen marker; salt under an associative
  merge).
- const-per-group: F.first/last reads a column functionally dependent
  on the group key.
- ordered-window: F.last over a window whose ORDER BY is a total key.
"""
import os
import sys
from collections import Counter

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

from ndet_audit import sweep  # noqa: E402

# (relpath, enclosing function, construct) -> (count, disposition)
DISPOSITIONS = {
    ("changegen_spark/sinks/oscxml.py", "write_osmchange_sharded", "repartitionByRange"):
        (1, "single-action: per-block text write; upstream `elements` is "
            "already fenced by the function's own localCheckpoint(eager=False), "
            "each block is one action"),
    ("changegen_spark/operators/asof.py", "_as_of_backward", "F.last"):
        (1, "ordered-window: last(ignorenulls) over orderBy(__ts_us, "
            "__side, __tie) — total key per partition group"),
    ("changegen_spark/operators/asof.py", "as_of_join", "monotonically_increasing_id"):
        (1, "fenced: __asof_id frame localCheckpoint'd before the "
            "backward/forward branches join back on it"),
    ("changegen_spark/operators/ids.py", "prefix_sum", "repartitionByRange"):
        (1, "fenced (r9 site): the one ordered prefix sum; its ranged rows "
            "are fenced before the block sums and the join probe read them"),
    ("changegen_spark/operators/skew.py", "two_phase_agg", "monotonically_increasing_id"):
        (1, "value-irrelevant: salt only routes rows to partial-agg "
            "buckets; sum/min/max merge is associative-commutative, so "
            "ANY per-execution assignment yields the same final rows"),
    ("changegen_spark/geo/segments.py", "closest_point_cols", "rand"):
        (1, "value-irrelevant: dist + rand(7)*0.0 == dist (rand is "
            "finite); deliberate nondeterminism marker that stops "
            "CollapseProject from inlining the 100-term closest-point "
            "expression (see docstring)"),
    ("changegen_spark/sources/layout.py", "write_clustered", "repartitionByRange"):
        (1, "single-action: clustered parquet write; one write action "
            "consumes the range exchange"),
    ("changegen_spark/queries/geo.py", "q_convex_hulls", "collect_list"):
        (2, "order-insensitive consumer: hull_stats and size() are set "
            "functions of the points; xs/ys stay row-aligned because "
            "both lists fill in the same single aggregate pass"),
    ("changegen_spark/queries/geo.py", "q_haversine", "repartitionByRange"):
        (1, "fenced (r9 site)"),
    ("changegen_spark/queries/misc.py", "q_mad_outliers", "F.first"):
        (2, "const-per-group: med_e6/n broadcast-joined on event_type, "
            "the group key"),
    # (rerank.py _greedy_rerank F.first ×2 removed r13: the greedy loop
    # became a single applyInPandas pass — no grouped F.first remains)
}


def test_every_nondeterministic_site_is_disposed():
    sites = sweep()
    flagged = Counter(
        (r, fn, c) for (r, fn, c, ok) in sites if not ok
    )
    pinned = Counter()
    for key, (n, _why) in DISPOSITIONS.items():
        pinned[key] = n
    new = flagged - pinned
    assert not new, (
        "nondeterministic-source sites without a reviewed disposition "
        f"(add to tests/test_ndet_audit.py DISPOSITIONS): {dict(new)}"
    )
    gone = pinned - flagged
    assert not gone, (
        f"stale dispositions (site removed or moved): {dict(gone)}"
    )


def test_sweep_sees_the_whole_package():
    """The sweep must keep covering the full source tree: a refactor
    that moves queries out of changegen_spark/ (or an sweep bug that
    stops descending) would silently empty the audit.  66 sites at
    r10; 65 after the r13 rerank rewrite deleted its two grouped
    F.first sites (the greedy loop became one applyInPandas pass); 61
    (42 mechanically safe) after the pipeline's six sorted collect_list
    aggregates were folded into two shared helpers (_ordered_members,
    _ordered_values); still 61 once generate_changes' one member
    aggregate replaced _ordered_values; 54 (42 mechanically safe) once
    the eight hand-rolled range-and-fence ranks (q_gini, q_ccnet_buckets,
    q_stratified_split, q_weighted_sample, the suffix-array rank and the
    three sorted-neighbourhood passes) became calls of the one
    operators/ids.prefix_sum, whose single repartitionByRange replaces
    them."""
    sites = sweep()
    assert len(sites) >= 54, len(sites)
    mech_safe = [s for s in sites if s[3]]
    assert len(mech_safe) >= 42, len(mech_safe)


def test_sweep_rules_catch_known_shapes(tmp_path):
    """The mechanical rules themselves: sorted collect_list and
    ordered limit pass; bare ones flag."""
    mod = tmp_path / "shapes.py"
    mod.write_text(
        "import pyspark.sql.functions as F\n"
        "def good(df):\n"
        "    a = df.groupBy('k').agg(F.array_sort(F.collect_list('v')))\n"
        "    b = df.orderBy('k').limit(5)\n"
        "    c = df.limit(0)\n"
        "    return a, b, c\n"
        "def bad(df):\n"
        "    a = df.groupBy('k').agg(F.collect_list('v'))\n"
        "    b = df.limit(5)\n"
        "    c = df.sample(0.1)\n"
        "    d = df.withColumn('r', F.rand())\n"
        "    return a, b, c, d\n"
    )
    sites = sweep(pkg=str(tmp_path))
    by_fn = {}
    for _r, fn, c, ok in sites:
        by_fn.setdefault(fn, []).append((c, ok))
    assert all(ok for _c, ok in by_fn["good"]), by_fn["good"]
    assert not any(ok for _c, ok in by_fn["bad"]), by_fn["bad"]
    assert {c for c, _ in by_fn["bad"]} == {
        "collect_list", "limit", "sample", "rand"
    }
