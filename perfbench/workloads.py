"""The benchmark's workloads.

A workload generates its inputs from the seed (``generate``), learns the
expected outputs (``expect``), runs one pass of operations (``run_pass``)
and afterwards checks every operation it ran (``check``).  An operation is
one CLI run or one query execution; ``run_pass`` returns them as ``Op``
records and ``check`` returns how many failed, counting those that raised.
"""

from __future__ import annotations

import importlib
import os
from dataclasses import dataclass

import numpy as np

import checks
import gen


@dataclass
class Op:
    name: str
    error: str | None = None
    output: str | None = None  # the file a CLI run wrote


# ---------------------------------------------------------------- changegen

# (module, attribute, span): the calls the traced pass times.  Each
# attribute is looked up by its caller at call time, so replacing it on the
# module is seen by ``main`` and ``generate_changes``.
CHANGEGEN_SPANS = (
    ("changegen_spark.__main__", "load_extract", "sources.load_extract"),
    ("changegen_spark.sources.osm", "max_pbf_ids", "sources.max_pbf_ids"),
    ("changegen_spark.__main__", "load_new_parts", "sources.load_new_parts"),
    ("changegen_spark.pipeline", "generate_changes", "pipeline.generate_changes"),
    ("changegen_spark.pipeline", "synthesize_junctions", "pipeline.synthesize_junctions"),
    ("changegen_spark.pipeline", "build_new_ways", "pipeline.build_new_ways"),
    ("changegen_spark.pipeline", "modify_intersecting_ways", "pipeline.modify_intersecting_ways"),
    ("changegen_spark.pipeline:ChangeSet", "resolve", "pipeline.resolve_ids"),
    ("changegen_spark.pipeline", "split_ways", "operators.split_ways"),
    ("changegen_spark.operators.changes", "assemble_changeset", "operators.assemble_changeset"),
    ("changegen_spark.sinks.oscxml", "write_osmchange", "sinks.write_osmchange"),
)
CHANGEGEN_SPAN_NAMES = [s for _, _, s in CHANGEGEN_SPANS]


def span_owner(path: str):
    module, _, cls = path.partition(":")
    owner = importlib.import_module(module)
    return getattr(owner, cls) if cls else owner


class ChangegenCli:
    """``changegen_spark.__main__.main`` in merged ``--output`` mode."""

    name = "changegen_cli"

    def __init__(self, work: str, seed: int, shape: gen.ChangegenShape | None = None) -> None:
        self.work = work
        self.seed = seed
        self.shape = shape or gen.ChangegenShape()
        self.spec: dict = {}
        self.outputs: list[Op] = []

    def generate(self, out_dir: str) -> None:
        self.spec = gen.write_changegen_inputs(out_dir, self.seed, self.shape)

    def expect(self) -> None:
        pass  # the generator derives the expected counts with the inputs

    def argv(self, output: str) -> list[str]:
        s = self.spec
        return [
            s["db"], "--osmsrc", s["extract"], "--output", output,
            "--existing", "roads_existing", "--deletions", "roads_deleted",
            "--id_offset", str(s["id_offset"]),
            "--max_nodes_per_way", str(s["max_nodes_per_way"]),
        ]

    def install_spans(self, recorder) -> None:
        for owner, attr, span in CHANGEGEN_SPANS:
            recorder.wrap(span_owner(owner), attr, span)

    def run_pass(self, spark, index: int, recorder=None) -> list[Op]:
        from changegen_spark.__main__ import main

        out = os.path.join(self.work, f"pass-{index}.osc")
        op = Op(self.name, output=out)
        try:
            rc = main(self.argv(out))
            if rc != 0:
                op.error = f"exit code {rc}"
        except Exception as e:  # a failed operation is counted, not fatal
            op.error = f"{type(e).__name__}: {e}"
        self.outputs.append(op)
        return [op]

    def check(self, spark, log) -> int:
        """Full check of the first output; the rest must match its sha256."""
        ran = [op for op in self.outputs if op.error is None]
        failed = len(self.outputs) - len(ran)
        for op in self.outputs:
            if op.error is not None:
                log(f"{op.name} failed: {op.error}")
        if not ran:
            return failed
        first = ran[0].output
        problems = checks.check_osc(spark, first, self.spec["extract"], self.spec["expected"])
        for p in problems:
            log(f"{first}: {p}")
        digest = checks.sha256(first)
        for op in ran:
            same = checks.sha256(op.output) == digest
            if problems or not same:
                failed += 1
                if not same:
                    log(f"{op.output}: differs from {first}")
        return failed


# ----------------------------------------------------------------- queries

# The Python-worker side of the registry: Arrow UDF kernels (winnowing,
# MinHash from ``changegen_spark.functions``), a spread repartition, lazy
# and eager ``localCheckpoint`` fences, and the costliest driver-side build
# of the registry (``q_dedup_clusters``).
QUERIES_PYTHON = ("q_winnow_pairs", "q_dedup_clusters")


class QueryMix:
    """Registry queries: build each, write its frame to the noop sink.

    The seed fixes the documents table and the query order of every pass."""

    def __init__(self, name: str, queries: tuple[str, ...], seed: int) -> None:
        self.name = name
        self.queries = queries
        self.seed = seed
        self.rng = np.random.default_rng(seed)
        self.tables = ""
        self.expected: dict = {}
        self.ops: list[Op] = []
        self.frames: dict = {}  # query → the frame its latest pass built

    def generate(self, out_dir: str) -> None:
        gen.write_documents(out_dir, self.seed)
        self.tables = out_dir

    def expect(self) -> None:
        """Run each query's DuckDB oracle over the generated table."""
        import duckdb

        from changegen_spark.queries import all_oracles

        oracles = all_oracles()
        con = duckdb.connect()
        try:
            path = os.path.join(self.tables, "documents.parquet")
            con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
            for q in self.queries:
                self.expected[q] = checks.normalize(con.execute(oracles[q]).df())
        finally:
            con.close()

    def install_spans(self, recorder) -> None:
        pass  # run_pass opens the query spans itself

    def run_pass(self, spark, index: int, recorder=None) -> list[Op]:
        from changegen_spark.queries import all_queries

        registry = all_queries()
        ops = []
        for q in map(str, self.rng.permutation(self.queries)):
            op = Op(q)
            try:
                if recorder is None:
                    df = registry[q](spark, self.tables)
                    df.write.format("noop").mode("overwrite").save()
                else:
                    with recorder.span(f"queries.{q}.build"):
                        df = registry[q](spark, self.tables)
                    with recorder.span(f"queries.{q}.exec"):
                        df.write.format("noop").mode("overwrite").save()
                self.frames[op.name] = df
            except Exception as e:  # a failed operation is counted, not fatal
                op.error = f"{type(e).__name__}: {e}"
            ops.append(op)
        self.ops.extend(ops)
        return ops

    def check(self, spark, log) -> int:
        """Compare each query's latest frame with its oracle; a query that
        fails the comparison fails every execution of it in this run."""
        bad = set()
        for q in self.queries:
            if q not in self.frames:
                bad.add(q)
                continue
            try:
                problems = checks.compare_frames(
                    checks.normalize(self.frames[q].toPandas()), self.expected[q]
                )
            except Exception as e:  # counted as a failed check
                problems = [f"{type(e).__name__}: {e}"]
            for p in problems:
                log(f"{q}: {p}")
            if problems:
                bad.add(q)
        failed = 0
        for op in self.ops:
            if op.error is not None:
                log(f"{op.name} failed: {op.error}")
            if op.error is not None or op.name in bad:
                failed += 1
        return failed


NAMES = ("changegen_cli", "queries_python")


def make(name: str, work: str, seed: int):
    if name == "changegen_cli":
        return ChangegenCli(work, seed)
    return QueryMix(name, QUERIES_PYTHON, seed)
