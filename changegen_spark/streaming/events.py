"""Structured Streaming operators (SURVEY §2.10 extension surface).

The reference is strictly batch; a 100 TB ingestion pipeline is not.  These
are the streaming twins of ``changegen_spark.queries.events``: identical
transformations over an unbounded source — the point of Structured
Streaming is that the batch DataFrame expressions ARE the streaming plan.

  * ``windowed_counts_stream`` — tumbling event-time windows + watermark
    for late data;
  * ``sessionize_stream`` — gap-based session windows via the built-in
    ``session_window`` (no custom state handler needed);
  * ``change_feed`` — the CDC shape of the changegen pipeline as a stream:
    element rows appended per micro-batch, ready for ``foreachBatch`` into
    the XML sink.

Tests drive these with a file source over the events parquet, which is the
same interface a production deployment pointing at an object-store drop
directory would use.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet directory as an unbounded file-source stream.

    Schema must be declared for streaming reads; the TIMESTAMP(NANOS)
    column is read as long and rebuilt, exactly as the batch loader does.
    """
    import hashlib
    import os

    from changegen_spark.sources.tables import load_table

    batch = load_table(spark, sf_dir, "events")  # also sets nanosAsLong
    src = os.path.join(sf_dir, "events.parquet")
    # The file source requires a directory; stage a symlink dir (no copy) —
    # in production this is the object-store drop directory itself.
    stage = os.path.join(
        "/tmp", f"changegen_spark_stream_{hashlib.md5(src.encode()).hexdigest()[:8]}"
    )
    os.makedirs(stage, exist_ok=True)
    link = os.path.join(stage, "events.parquet")
    if not os.path.exists(link):
        os.symlink(src, link)
    raw_schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(raw_schema).parquet(stage)
    ts_type = dict(stream.dtypes).get("ts")
    if ts_type == "bigint":
        stream = stream.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    elif ts_type == "timestamp_ntz":
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    # keep column order identical to the batch loader
    return stream.select(*batch.columns)


def windowed_counts_stream(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    slide: str | None = None,
) -> DataFrame:
    """Tumbling — or, with ``slide``, hopping — window count+sum per
    event_type with late-data watermark.

    Batch twins: queries.events.q_event_windows (tumbling) and
    queries.timeseries.q_hopping_windows (slide="30 minutes",
    window="2 hours") — same expressions, plus the watermark bound that
    lets state be dropped at scale (hopping state is duration/slide
    windows per key at a time).
    """
    val_e6 = F.round(F.col("value") * 1e6).cast("long")
    win = (
        F.window("ts", window, slide).alias("w")
        if slide
        else F.window("ts", window).alias("w")
    )
    return (
        events.withWatermark("ts", watermark)
        .groupBy(win, "event_type")
        .agg(F.count("*").alias("n"), F.sum(val_e6).alias("sum_value_e6"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
            "sum_value_e6",
        )
    )


def sessionize_stream(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Gap-based session windows per user via ``session_window`` — the
    streaming-native form of the batch lag/cumsum sessionization
    (queries.events.q_sessionize)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "n_events",
        )
    )


def view_purchase_stream_join(
    spark: SparkSession, sf_dir: str, watermark: str = "2 hours"
) -> DataFrame:
    """Stream-STREAM inner join with watermark-bounded two-sided state:
    (view, purchase) pairs of the same user with the purchase within 30
    minutes after the view — the streaming form of
    ``queries.events.q_view_purchase_pairs`` (pinned equal in
    tests/test_streaming.py).

    This is the one join class stream-static cannot express (both sides
    unbounded).  Correct state eviction needs BOTH ingredients Spark
    requires: a watermark on each side and a time-RANGE join condition —
    the range tells the engine a view older than watermark + 30 min can
    never match a future purchase, so each user's buffered state stays
    bounded no matter how long the streams run.  Without the range bound
    the state store grows forever; that is the 100 TB failure mode this
    operator exists to avoid.

    The two sides are separate readStream sources over the same drop
    directory (self-joins of one streaming DF are legal too, but separate
    sources keep the per-side watermark explicit).
    """
    v = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("vts"),
        )
        .withWatermark("vts", watermark)
    )
    p = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("pts"),
            F.col("value"),
        )
        .withWatermark("pts", watermark)
    )
    joined = v.join(
        p,
        (F.col("p_user") == F.col("v_user"))
        & (F.col("pts") > F.col("vts"))
        & (F.col("pts") <= F.col("vts") + F.expr("INTERVAL 30 MINUTES")),
    )
    gap = F.unix_micros(F.col("pts")) - F.unix_micros(F.col("vts"))
    return joined.select(
        F.col("v_user").alias("user_id"),
        "view_id",
        "purchase_id",
        gap.alias("gap_us"),
        F.round(F.col("value") * 100).cast("long").alias("value_cents"),
    )


def batch_to_change_elements(batch_df: DataFrame, base_id: int) -> DataFrame:
    """One micro-batch of events → `<create>` node elements with dense ids
    from ``base_id``.

    Ids come from ``assign_sequential_ids`` in ``event_id`` order (range
    partitions, partition-local row_number and broadcast prefix offsets:
    ``operators/ids.prefix_sum``) — no per-batch global window over the
    events, so a hot micro-batch never funnels through one task."""
    from changegen_spark.operators.ids import assign_sequential_ids

    eid = F.col("event_id")
    lon = F.lit(-118.48) + ((eid * 7) % 560).cast("double") / 1000.0
    lat = F.lit(48.43) + ((eid * 11) % 420).cast("double") / 1000.0
    ided = assign_sequential_ids(
        batch_df,
        order_by=["event_id"],
        out_col="__id",
        id_offset=base_id,
    )
    return ided.select(
        F.lit("create").alias("change_type"),
        F.lit("node").alias("kind"),
        F.col("__id").alias("id"),
        F.lit(1).alias("version"),
        lat.alias("lat"),
        lon.alias("lon"),
        F.map_from_arrays(
            F.array(F.lit("event_type"), F.lit("source_event")),
            F.array(F.col("event_type"), eid.cast("string")),
        ).alias("tags"),
    )


def change_feed(
    events: DataFrame,
    out_dir: str,
    id_offset: int = 0,
    query_name: str = "change_feed",
):
    """Streaming changefile emission: each micro-batch of events becomes a
    ``<create>`` node changeset written as its own ordered ``.osc`` shard
    (``changes-<batchId>.osc``) — the incremental form of the batch
    pipeline's sink, driven by ``foreachBatch``.

    Events map to point features (event_id-keyed synthetic coordinates in
    the fixture bbox, event attributes as tags); ids are dense per batch
    from ``id_offset`` plus a batch stride so shards never collide.
    Returns the StreamingQuery (caller awaits termination).

    Restartability: without ``checkpointLocation`` on the writeStream a
    restart re-numbers batches from 0 and overwrites shards; production
    deployments add ``.option("checkpointLocation", …)`` so the feed
    resumes exactly-once from the last committed batch.
    """
    import os

    from changegen_spark.sinks.oscxml import write_osmchange

    os.makedirs(out_dir, exist_ok=True)
    BATCH_STRIDE = 10_000_000

    def emit(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        elems = batch_to_change_elements(
            batch_df, id_offset + batch_id * BATCH_STRIDE
        )
        write_osmchange(elems, os.path.join(out_dir, f"changes-{batch_id}.osc"))

    return (
        events.writeStream.foreachBatch(emit)
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )


def run_to_memory_sink(
    stream_df: DataFrame, query_name: str, mode: str = "append"
) -> DataFrame:
    """Run a streaming plan to completion over the (finite) file source and
    return the result as a DataFrame — the test/bench harness hook."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.table(query_name)


def hll_registers_stream(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Windowed distinct-user HLL registers as ONE stateful streaming agg.

    Per (event-time window, event_type, bucket) the register-wise max of
    rho — register max is associative/commutative/idempotent, so the
    incremental per-batch merge Structured Streaming performs is exactly
    the sketch's own merge law (pinned bit-exact on arbitrary splits in
    tests/test_sketches.py).  State is BOUNDED: at most HLL_M rows per
    (window, group) regardless of how many distinct users arrive — this,
    not the exact distinct's unbounded key set, is what a 100 TB stream
    can afford — and the watermark lets closed windows' state drop.

    The estimate fold (queries.sketches.hll_estimate) is stateless and
    runs on the emitted registers downstream (sink side or batch): folding
    inside the stream would be a second stateful agg for no state benefit.
    Batch twin: the same expressions over the static frame —
    test_hll_stream_matches_batch pins register-for-register equality.
    """
    from changegen_spark.queries.sketches import HLL_M, h60

    h = h60(F.col("user_id"))
    w50 = F.shiftright(h, 10)
    rho = F.when(w50 == 0, F.lit(51)).otherwise(51 - F.length(F.bin(w50)))
    return (
        events.withWatermark("ts", watermark)
        .select(
            F.window("ts", window).alias("w"),
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
