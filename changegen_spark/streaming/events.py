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


def capped_balance_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The clamped-balance scan as a STREAMING operator on Spark 4's
    ``transformWithStateInPandas`` (the StatefulProcessor successor to
    ``applyInPandasWithState``) — the third execution of the same
    recurrence: batch applyInPandas (operators/stateful.py), the DuckDB
    recursive-CTE oracle, and this streaming form all agree
    (tests/test_streaming.py pins stream == batch).

    State per user is the 4-tuple (bal, caps, floors, n); each micro-batch
    folds its rows in (ts, event_id) order on top of the persisted state
    and emits the running summary (Update mode — last row per user wins).
    Ordering contract: per-key event-time order across batches is assumed
    (the append-log ingestion shape); within a batch rows are sorted
    before folding, so a single-batch availableNow run is exactly the
    batch scan.

    Environment note: executing this operator requires the
    ``google.protobuf`` package (the transformWithState state-server
    protocol).  This container does not ship it, so
    tests/test_streaming.py gates the execution pin behind the import
    (plan construction and schema are asserted unconditionally); the
    applyInPandasWithState sessionizer above is the custom-state operator
    exercised end-to-end here.
    """
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    from changegen_spark.queries.events import (
        BAL_BASE,
        BAL_HI,
        BAL_INIT,
        BAL_LO,
    )

    class CappedBalance(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self.state = handle.getValueState(
                "bal", "bal long, caps long, floors long, n long"
            )

        def handleInputRows(self, key, rows, timerValues):
            pdf = pd.concat(list(rows)).sort_values(["ts", "event_id"])
            if self.state.exists():
                bal, caps, floors, n = self.state.get()
            else:
                bal, caps, floors, n = BAL_INIT, 0, 0, 0
            for d in pdf["d"]:
                bal += int(d)
                if bal > BAL_HI:
                    bal, caps = BAL_HI, caps + 1
                elif bal < BAL_LO:
                    bal, floors = BAL_LO, floors + 1
            n += len(pdf)
            self.state.update((bal, caps, floors, n))
            yield pd.DataFrame(
                [
                    {
                        "user_id": key[0],
                        "n_events": n,
                        "final_balance": bal,
                        "n_cap_hits": caps,
                        "n_floor_hits": floors,
                    }
                ]
            )

        def close(self) -> None:
            pass

    ev = stream_events(spark, sf_dir).filter(F.col("user_id") % 50 == 0)
    d = ev.select(
        "user_id",
        "ts",
        "event_id",
        (
            F.expr("CAST(round(value * 1000000) AS BIGINT)") - F.lit(BAL_BASE)
        ).alias("d"),
    )
    out_schema = (
        "user_id long, n_events long, final_balance long, "
        "n_cap_hits long, n_floor_hits long"
    )
    return d.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=CappedBalance(),
        outputStructType=out_schema,
        outputMode="Update",
        timeMode="None",
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


def sessionize_custom_state(
    events: DataFrame,
    gap_seconds: int = 1800,
    watermark: str = "2 hours",
) -> DataFrame:
    """Custom stateful sessionization via ``applyInPandasWithState`` — the
    arbitrary-state API for operators ``session_window`` can't express
    (per-session custom accumulators, early emission, side conditions).

    State per user: (session_start, last_ts, n_events).  A new event either
    extends the open session or closes it (gap exceeded) and emits the
    closed session; state timeout emits the final open session once the
    watermark passes it.  Semantics match the batch lag/cumsum
    sessionization (queries.events.q_sessionize) for completed sessions.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        "user_id long, session_start timestamp, session_end timestamp, n_events long"
    )
    state_schema = "start long, last long, n long"

    def fn(key, pdfs, state: GroupState):
        import pandas as pd

        (user_id,) = key
        rows = []
        if state.hasTimedOut:
            start, last, n = state.get
            rows.append((user_id, start, last, n))
            state.remove()
        else:
            ts_list = []
            for pdf in pdfs:
                ts_list.extend(int(t.value // 1000) for t in pd.to_datetime(pdf["ts"]))
            ts_list.sort()
            if state.exists:
                start, last, n = state.get
            else:
                start, last, n = None, None, 0
            for t in ts_list:  # micros
                if start is None:
                    start, last, n = t, t, 1
                elif t - last > gap_seconds * 1_000_000:
                    rows.append((user_id, start, last, n))
                    start, last, n = t, t, 1
                else:
                    last, n = t, n + 1
            if start is not None:
                state.update((start, last, n))
                state.setTimeoutTimestamp(last // 1000 + gap_seconds * 1000)
        yield pd.DataFrame(
            {
                "user_id": [r[0] for r in rows],
                "session_start": [pd.Timestamp(r[1], unit="us") for r in rows],
                "session_end": [pd.Timestamp(r[2], unit="us") for r in rows],
                "n_events": [r[3] for r in rows],
            }
        )

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def hourly_count_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type mean/std of hourly counts over the HISTORICAL batch
    data — the static side of the streaming anomaly join.  Same population
    stats (dense spine: empty hours count as 0) as the batch
    ``queries.timeseries.q_moving_avg``, produced from exact integer
    (sum, sumsq, n) so stream and batch flags can never disagree."""
    from changegen_spark.queries.timeseries import _events, _hour

    ev = _events(spark, sf_dir)
    hourly = ev.groupBy(F.col("event_type"), _hour().alias("hour")).agg(
        F.count("*").alias("c")
    )
    bounds = ev.agg(F.min(_hour()).alias("h0"), F.max(_hour()).alias("h1"))
    spine = (
        ev.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select("event_type", F.explode(F.sequence("h0", "h1")).alias("hour"))
    )
    dense = spine.join(hourly, ["event_type", "hour"], "left").select(
        "event_type", F.coalesce("c", F.lit(0)).alias("c")
    )
    return dense.groupBy("event_type").agg(
        (F.sum("c") / F.count("*")).alias("mean"),
        F.sqrt(
            F.sum(F.col("c") * F.col("c")) / F.count("*")
            - (F.sum("c") / F.count("*")) * (F.sum("c") / F.count("*"))
        ).alias("std"),
    )


def anomaly_stream(
    events: DataFrame,
    stats: DataFrame,
    z_thresh: float = 2.0,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming hourly anomaly flags: tumbling 1-hour counts per
    event_type, z-scored against the broadcast static baseline stats
    (``hourly_count_stats``) — the streaming twin of the batch
    ``q_moving_avg`` anomaly flag on observed (non-empty) hours.

    Scale shape: a stream-STATIC broadcast join (rows pick up their type's
    baseline map-side — no streaming state grows with the baseline) feeding
    a watermarked windowed aggregate (bounded state).  The join runs BEFORE
    the aggregation so the plan stays valid in every output mode; mean/std
    are per-type constants, so carrying them through the aggregate with
    ``max`` is exact.  Baseline refresh is a batch job — the standard
    lambda-free split for monitoring at 100 TB/day ingest."""
    hourly = (
        events.join(F.broadcast(stats), "event_type")
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("c"),
            F.max("mean").alias("mean"),
            F.max("std").alias("std"),
        )
    )
    z = (F.col("c") - F.col("mean")) / F.col("std")
    return hourly.select(
        "event_type",
        F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
        "c",
        F.round(z, 6).alias("z"),
        (F.abs(z) > z_thresh).cast("boolean").alias("is_anomaly"),
    )


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


ELO_K = 32
ELO_INIT = 1000


def elo_stream(events: DataFrame) -> DataFrame:
    """Online Elo ratings over the judgment stream — the ORDER-DEPENDENT
    companion to the order-free batch fit (q_bt_scores): each judgment
    updates the two items' ratings immediately, which is what a live
    leaderboard runs.  Zero-sum integer updates (classic Elo):
    delta = round(K·(S_a − E_a)), r_a += delta, r_b −= delta, with
    E_a = 1/(1+10^((r_b−r_a)/400)) — so Σratings is conserved at
    N_ITEMS·ELO_INIT forever (the parity test pins it).

    Shape: a SINGLE-KEY ``applyInPandasWithState`` whose entire state is
    the rating vector + game count (N_ITEMS+1 integers — KB-bounded
    regardless of stream length).  Elo is inherently sequential — that
    is its DEFINITION, not a missed parallelization: the batch answer
    for an order-free strength estimate is q_bt_scores (one distributed
    pass + driver MM); Elo is what you run ON THE STREAM, and a
    sequential fold over a KB state is exactly the right plan for it.
    Within a micro-batch judgments fold in (ts, event_id) order; across
    micro-batches in arrival order — standard online-rating semantics
    (the parity test pins the single-batch case, where that equals the
    global (ts, event_id) order).  Emits the post-batch leaderboard
    (item, rating, n_games) each trigger."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from changegen_spark.queries.prefs import N_ITEMS
    from changegen_spark.queries.sketches import h60

    eid = F.col("event_id").cast("string")
    ia = F.pmod(h60(F.concat(eid, F.lit(":pa"))), F.lit(N_ITEMS))
    ib = F.pmod(h60(F.concat(eid, F.lit(":pb"))), F.lit(N_ITEMS))
    tot = ia + ib + 2  # s_a + s_b with planted s_i = i + 1
    a_wins = F.pmod(h60(F.concat(eid, F.lit(":pw"))), tot) < ia + 1
    comps = (
        events.select(
            F.lit(0).alias("g"),
            F.col("ts"),
            F.col("event_id"),
            ia.alias("ia"),
            ib.alias("ib"),
            a_wins.alias("a_wins"),
        )
        .filter(F.col("ia") != F.col("ib"))
    )

    out_schema = "item long, rating long, n_games long"
    state_schema = "ratings array<long>, n long"

    def fn(key, pdfs, state: GroupState):
        import pandas as pd

        if state.exists:
            ratings, n = state.get
            ratings = list(ratings)
        else:
            ratings, n = [ELO_INIT] * N_ITEMS, 0
        batch = pd.concat(list(pdfs), ignore_index=True)
        if len(batch):
            batch = batch.sort_values(["ts", "event_id"])
            for i, j, aw in zip(batch["ia"], batch["ib"], batch["a_wins"]):
                i, j = int(i), int(j)
                ea = 1.0 / (1.0 + 10.0 ** ((ratings[j] - ratings[i]) / 400.0))
                delta = round(ELO_K * ((1.0 if aw else 0.0) - ea))
                ratings[i] += delta
                ratings[j] -= delta
                n += 1
        state.update((ratings, n))
        yield pd.DataFrame(
            {
                "item": list(range(N_ITEMS)),
                "rating": ratings,
                "n_games": [n] * N_ITEMS,
            }
        )

    return comps.groupBy("g").applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def rater_agreement_stream(events: DataFrame) -> DataFrame:
    """Streaming twin of q_rater_agreement (queries/prefs.py): a live
    rater-reliability monitor over the unbounded judgment stream — the
    annotation-QC dashboard a labeling operation watches to catch a
    rater going bad WITHOUT waiting for the batch audit.

    Output is the WIDE single-row form (n, agree_a_b…, kappa_a_b_e6…)
    rather than the batch query's 3-row union: a streaming plan admits
    only one aggregation subtree, and unioning three projections of the
    aggregate would plan three streaming aggs (unsupported).  The
    sufficient statistics (count, per-rater positives, pairwise
    agreements) are sums, so complete mode is micro-batch merge-safe
    and must equal the batch result exactly; state is ONE row of
    counters regardless of stream length.  The kappa projection reuses
    the batch query's guarded integer expression verbatim."""
    from changegen_spark.queries.prefs import (
        N_RATERS,
        kappa_expr,
        label_sums,
        labeled_frame,
    )

    sums = label_sums(labeled_frame(events.select("event_id")))
    cols = [F.col("n").cast("long").alias("n")]
    for a in range(N_RATERS):
        for b in range(a + 1, N_RATERS):
            cols.append(
                F.col(f"agree_{a}_{b}").cast("long").alias(f"agree_{a}_{b}")
            )
            cols.append(kappa_expr(a, b).alias(f"kappa_{a}_{b}_e6"))
    return sums.select(*cols)


def win_matrix_stream(events: DataFrame) -> DataFrame:
    """Streaming twin of q_win_matrix (queries/prefs.py): the pairwise
    preference win matrix over an unbounded judgment stream.  Counts and
    sums are the only state, so the complete-mode result is EXACTLY the
    batch result however the micro-batches split — the parity test pins
    it.  State is bounded by the item-pair lattice (≤ N_ITEMS²/2 rows),
    not by stream length."""
    from changegen_spark.queries.prefs import comps_frame, win_matrix_frame

    return win_matrix_frame(comps_frame(events.select("event_id")))
