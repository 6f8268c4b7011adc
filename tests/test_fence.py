"""operators/fence.py: an eager fence labels its own job and restores the
caller's label; observed aggregates come from the fence's job; a lazy
fence starts no job."""
import time
import uuid
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import functions as F

from changegen_spark.operators.fence import fence, fence_observed

DESCRIPTION = "spark.job.description"


def _described(sc, name, wait_s=10.0):
    """Ids of the jobs whose description is ``name``; the status store
    fills from the listener bus, so wait up to ``wait_s`` for the first."""
    deadline = time.monotonic() + wait_s
    while True:
        jobs = sc._jsc.sc().statusStore().jobsList(None)
        out = []
        for i in range(jobs.size()):
            d = jobs.apply(i).description()
            if d.isDefined() and d.get() == name:
                out.append(jobs.apply(i).jobId())
        if out or time.monotonic() > deadline:
            return out
        time.sleep(0.1)


def _frame(spark):
    return spark.range(200).select(
        (F.col("id") % 7).alias("k"), (F.col("id") % 3 == 0).alias("hit")
    )


def test_eager_fence_labels_its_job_from_a_pool_thread(spark):
    sc = spark.sparkContext
    name = f"fence-test-{uuid.uuid4().hex}"

    def work():
        out = fence(_frame(spark).groupBy("k").count(), name)
        return out, sc.getLocalProperty(DESCRIPTION)

    with ThreadPoolExecutor(max_workers=1) as pool:
        out, after = pool.submit(work).result()
    assert _described(sc, name), "no job carried the fence's name"
    assert after is None
    assert out.count() == 7


def test_eager_fence_restores_the_callers_description(spark):
    sc = spark.sparkContext
    outer = f"outer-{uuid.uuid4().hex}"
    sc.setLocalProperty(DESCRIPTION, outer)
    try:
        fence(_frame(spark), f"inner-{uuid.uuid4().hex}")
        assert sc.getLocalProperty(DESCRIPTION) == outer
        _frame(spark).count()
    finally:
        sc.setLocalProperty(DESCRIPTION, None)
    assert _described(sc, outer), "the caller's next job lost its label"


def test_observed_values_equal_a_separate_count(spark):
    df = _frame(spark).filter(F.col("k") != 2)
    out, seen = fence_observed(
        df, "fence observed test", n=F.count("*"), hits=F.count_if("hit")
    )
    assert seen == {"n": df.count(), "hits": df.filter("hit").count()}
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, df.collect()))


def test_observed_values_on_an_empty_frame(spark):
    _out, seen = fence_observed(
        _frame(spark).filter("k > 100"), "fence empty test", n=F.count("*")
    )
    assert seen == {"n": 0}


def _jobs_started(sc, fn):
    """(fn(), ids of the jobs fn started on this thread)."""
    group = f"fence-jobs-{uuid.uuid4().hex}"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_lazy_fence_starts_no_job_at_call_time(spark):
    sc = spark.sparkContext
    out, started = _jobs_started(
        sc, lambda: fence(_frame(spark), "lazy fence test", eager=False)
    )
    assert started == []
    assert out.filter("hit").count() == 67


def test_lazy_fence_over_an_exchange_labels_the_stage_jobs_it_starts(spark):
    """Adaptive execution plans a shuffle by running its map stage, so a
    lazy fence over an exchange starts that job at the call; it carries
    the fence's name, and the rows are stored by the first read."""
    sc = spark.sparkContext
    name = f"lazy-exchange-{uuid.uuid4().hex}"
    df = _frame(spark).groupBy("k").agg(F.count_if("hit").alias("hits"))
    out, started = _jobs_started(sc, lambda: fence(df, name, eager=False))
    assert started and sorted(_described(sc, name)) == sorted(started)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, df.collect()))
