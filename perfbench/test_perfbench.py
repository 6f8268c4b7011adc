"""Tests of the benchmark itself: python3 -m pytest perfbench -q

The event-log and span tests use the checked-in fixture and a fake
SparkContext.  The last two show that a corrupted query result and a
corrupted changefile count as failed operations; the changefile test
runs the CLI once in a local Spark session.
"""

from __future__ import annotations

import concurrent.futures
import os
import sys
import threading

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import checks  # noqa: E402
import gen  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

FIXTURE = os.path.join(HERE, "fixtures", "eventlog.jsonl")

# the spans the fixture's jobs are tagged with: a parent on the main
# thread, two children on two pool threads, then a sibling on main
FIXTURE_SPANS = [
    tracing.Span(0, "pipeline.generate_changes", None, 1000.0, 1010.0),
    tracing.Span(1, "pipeline.build_new_ways", 0, 1002.0, 1004.5),
    tracing.Span(2, "pipeline.modify_intersecting_ways", 0, 1002.0, 1006.0),
    tracing.Span(3, "sinks.write_osmchange", None, 1010.0, 1012.0),
]


def test_span_metrics_attribute_jobs_across_threads():
    log = tracing.EventLog.read(FIXTURE)
    m = tracing.span_metrics(log, FIXTURE_SPANS, [s.name for s in FIXTURE_SPANS])
    # the parent owns its own job and both pool-thread children's jobs
    assert m["pipeline.generate_changes.jobs"] == 3
    assert m["pipeline.generate_changes.wall_ms"] == pytest.approx(10000)
    # jobs ran 1001-1001.5 and 1003-1005.5: 3 s of the 10 s
    assert m["pipeline.generate_changes.driver_ms"] == pytest.approx(7000)
    # stage 1 belongs to job 1 even though job 2 lists it too
    assert m["pipeline.generate_changes.exec_cpu_ms"] == pytest.approx(800)
    assert m["pipeline.build_new_ways.jobs"] == 1
    assert m["pipeline.build_new_ways.driver_ms"] == pytest.approx(1500)
    assert m["pipeline.build_new_ways.exec_cpu_ms"] == pytest.approx(400)
    assert m["pipeline.modify_intersecting_ways.jobs"] == 1
    assert m["pipeline.modify_intersecting_ways.driver_ms"] == pytest.approx(2000)
    assert m["pipeline.modify_intersecting_ways.exec_cpu_ms"] == pytest.approx(300)
    assert m["sinks.write_osmchange.jobs"] == 1
    assert m["sinks.write_osmchange.driver_ms"] == pytest.approx(1000)


def test_window_metrics_include_python_worker_accumulators():
    log = tracing.EventLog.read(FIXTURE)
    m = tracing.window_metrics(log, 1000.0, 1014.0)
    assert m["executor.jobs"] == 5
    assert m["executor.stages"] == 5
    assert m["executor.tasks"] == 7
    assert m["executor.cpu_ms"] == pytest.approx(910)
    assert m["executor.gc_ms"] == pytest.approx(20)
    # busy 0.5 + 2.5 + 1.0 + 0.2 s of a 14 s window
    assert m["driver.busy_ms"] == pytest.approx(9800)
    assert m["shuffle.read_mb"] == pytest.approx(2.0)
    assert m["shuffle.write_mb"] == pytest.approx(2.0)
    assert m["shuffle.spill_mb"] == pytest.approx(0.5)
    assert m["pyworker.start_ms"] == pytest.approx(10)
    assert m["pyworker.init_ms"] == pytest.approx(200)
    assert m["pyworker.run_ms"] == pytest.approx(800)
    assert m["pyworker.sent_mb"] == pytest.approx(2.0)
    assert m["pyworker.recv_mb"] == pytest.approx(1.0)
    # a window holding only the last job sees nothing of the others
    late = tracing.window_metrics(log, 1012.5, 1014.0)
    assert late["executor.jobs"] == 1 and late["pyworker.run_ms"] == 0


def test_query_spans_split_plan_from_exec_at_sql_execution_start():
    log = tracing.EventLog.read(FIXTURE)
    spans = [
        tracing.Span(4, "queries.q_x.build", None, 1008.0, 1009.5),
        tracing.Span(5, "queries.q_x.exec", None, 1010.0, 1012.0),
        tracing.Span(6, "queries.q_y.exec", None, 1013.0, 1014.0),
    ]
    m = tracing.query_metrics(log, spans)
    assert m["queries.q_x.build_ms"] == pytest.approx(1500)
    assert m["queries.q_x.plan_ms"] == pytest.approx(200)
    assert m["queries.q_x.exec_ms"] == pytest.approx(1800)
    # no SQL execution started inside: the whole call is execution
    assert m["queries.q_y.plan_ms"] == 0
    assert m["queries.q_y.exec_ms"] == pytest.approx(1000)


class FakeContext:
    """Local properties per thread, as SparkContext keeps them."""

    def __init__(self) -> None:
        self._local = threading.local()

    def getLocalProperty(self, key):
        return getattr(self._local, "props", {}).get(key)

    def setLocalProperty(self, key, value):
        props = self._local.__dict__.setdefault("props", {})
        if value is None:
            props.pop(key, None)
        else:
            props[key] = value


class Stage:
    """Stands in for a module whose functions the recorder wraps."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.seen: dict[str, str] = {}

    def leaf(self, name):
        self.seen[name] = self.sc.getLocalProperty(tracing.GROUP_KEY)
        return name

    def root(self, pool):
        futures = [pool.submit(self.leaf, f"pool-{k}") for k in range(2)]
        self.leaf("main")
        return [f.result() for f in futures]


def test_span_recorder_tags_each_thread_and_finds_parents():
    sc = FakeContext()
    stage = Stage(sc)
    rec = tracing.SpanRecorder(sc)
    original = stage.root
    rec.wrap(stage, "root", "root")
    rec.wrap(stage, "leaf", "leaf")
    with concurrent.futures.ThreadPoolExecutor(max_workers=2) as pool:
        assert stage.root(pool) == ["pool-0", "pool-1"]
    rec.restore()
    assert stage.root == original

    by_id = {s.sid: s for s in rec.spans}
    (root,) = [s for s in rec.spans if s.name == "root"]
    leaves = [s for s in rec.spans if s.name == "leaf"]
    assert len(leaves) == 3
    # every leaf, on the main thread or a pool thread, hangs off root
    assert all(s.parent == root.sid for s in leaves)
    # each call saw its own span's group in its own thread
    groups = {f"{tracing.GROUP_PREFIX}{s.sid}" for s in leaves}
    assert set(stage.seen.values()) == groups
    # and the main thread's group is back to unset afterwards
    assert sc.getLocalProperty(tracing.GROUP_KEY) is None
    assert {by_id[s.parent].name for s in leaves} == {"root"}


class FakeFrame:
    def __init__(self, pdf) -> None:
        self.pdf = pdf

    def toPandas(self):
        return self.pdf


def test_corrupted_query_result_counts_as_failure():
    good = pd.DataFrame({"doc_id": [1, 2, 3], "score": [0.5, 0.25, 1.0]})
    bad = good.copy()
    bad.loc[1, "score"] = 0.75
    mix = workloads.QueryMix("queries_python", ("q_a", "q_b"), 0)
    mix.expected = {"q_a": checks.normalize(good), "q_b": checks.normalize(good)}
    mix.frames = {"q_a": FakeFrame(good), "q_b": FakeFrame(bad)}
    mix.ops = [workloads.Op("q_a"), workloads.Op("q_b"), workloads.Op("q_b"),
               workloads.Op("q_a", error="ValueError: boom")]
    messages = []
    assert mix.check(None, messages.append) == 3
    assert any("q_b: 1 of 3 rows differ" in m for m in messages)
    assert checks.compare_frames(checks.normalize(good.iloc[:2]), checks.normalize(good))


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    import run

    work = str(tmp_path_factory.mktemp("spark"))
    saved = dict(os.environ)
    run.session_env(work, None)
    from changegen_spark.session import get_spark

    session = get_spark("perfbench-test")
    yield session
    run.stop_spark(session)
    os.environ.clear()
    os.environ.update(saved)


def test_corrupted_changefile_counts_as_failure(spark, tmp_path):
    shape = gen.ChangegenShape(
        n_cross=3, n_deleted=1, n_new=2, new_vertices=60, n_points=5, n_polygons=4
    )
    cli = workloads.ChangegenCli(str(tmp_path), seed=7, shape=shape)
    cli.generate(str(tmp_path / "inputs"))
    (op,) = cli.run_pass(spark, 0)
    assert op.error is None
    messages = []
    assert cli.check(spark, messages.append) == 0, messages

    # a second output that drops one created node: the sha256 differs
    with open(op.output) as f:
        lines = f.readlines()
    victim = next(i for i, line in enumerate(lines) if line.lstrip().startswith("<node"))
    corrupt = str(tmp_path / "corrupt.osc")
    with open(corrupt, "w") as f:
        f.writelines(lines[:victim] + lines[victim + 1:])
    cli.outputs.append(workloads.Op(cli.name, output=corrupt))
    assert cli.check(spark, messages.append) == 1

    # the same corruption in the first output fails the full check, and
    # with it every operation
    cli.outputs = [workloads.Op(cli.name, output=corrupt), op]
    messages.clear()
    assert cli.check(spark, messages.append) == 2
    assert any("create/node" in m for m in messages), messages
    assert any("resolve to no node" in m for m in messages), messages
