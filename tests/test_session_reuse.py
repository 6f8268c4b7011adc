"""Running the changegen CLI more than once in one JVM.

One process often runs the pipeline repeatedly: ``--outdir`` runs it once
per discovered table, and the benchmark, the test suite and any long-lived
session re-run it.  Two things must hold across those passes:

- a warm pass reuses the generated classes of the first one instead of
  recompiling the plan (the JVM-wide codegen cache must hold a whole pass);
- a pass leaves nothing behind: no cached relation in the CacheManager and,
  once its frames are garbage collected, no persisted RDD.

Both are JVM-wide states, so the CLI runs twice in a fresh Python + JVM
process: in this test session other tests have compiled classes and
cached frames of their own.
"""

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Runs `main` twice on the fixture tables; prints one JSON line with the
# classes compiled by each pass and the session's cache state after GC.
_TWO_PASSES = r"""
import gc, json, sys, time
from changegen_spark.__main__ import main
from changegen_spark.session import get_spark

db, ext, out = sys.argv[1:4]
spark = get_spark("changegen_spark-session-reuse")
jvm = spark._jvm
compile_time = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
argv = [db, "--osmsrc", ext, "--output", out, "--suffix", "_new",
        "--existing", "original_ways", "--deletions", "deleted_ways",
        "--id_offset", "20000"]
compiles = []
for _ in range(2):
    before = compile_time.getCount()
    assert main(argv) == 0
    compiles.append(compile_time.getCount() - before)

cache_manager = spark._jsparkSession.sharedState().cacheManager()


def persisted():
    # keys only: a snapshot map of the RDDs would itself keep them alive
    keys = spark.sparkContext._jsc.sc().persistentRdds().keys().mkString(",")
    return [int(k) for k in keys.split(",") if k]


# the ContextCleaner unpersists an RDD once the JVM has collected it, which
# takes a Python GC (releasing the py4j handles), then a JVM GC
for _ in range(20):
    gc.collect()
    jvm.System.gc()
    time.sleep(0.5)
    if not persisted() and cache_manager.isEmpty():
        break
print(json.dumps({
    "compiles": compiles,
    "persisted_rdds": persisted(),
    "cache_manager_empty": cache_manager.isEmpty(),
}))
"""


@pytest.fixture(scope="module")
def two_passes(cli_dirs, tmp_path_factory):
    db, ext = cli_dirs
    out = str(tmp_path_factory.mktemp("session_reuse") / "out.osc")
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    env["PYTHONPATH"] = os.pathsep.join(filter(None, [REPO, env.get("PYTHONPATH")]))
    proc = subprocess.run(
        [sys.executable, "-c", _TWO_PASSES, db, ext, out],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_second_pass_reuses_generated_classes(two_passes):
    """The plan's classes outnumber Spark's default 100-entry codegen
    cache, which evicted every class before reuse: the second pass then
    recompiled as many classes as the first.  With the cache sized to a
    whole pass, the second pass recompiles only the whole-stage iterators
    that AQE numbers differently from one pass to the next.  Measured on
    these tables: 28-68 of ~348 classes (8-19%; the count follows the order
    in which AQE creates query stages, so it grows with machine load),
    against 415-418 of ~422 with the default cache."""
    first, second = two_passes["compiles"]
    assert first > 100
    assert second <= first / 2, two_passes["compiles"]


def test_passes_leave_no_cached_state(two_passes):
    """Each pass once left its id table in the CacheManager, pinning that
    table and the pipeline's checkpoint fences for the life of the JVM."""
    assert two_passes["cache_manager_empty"]
    assert two_passes["persisted_rdds"] == []
