"""Streaming entity-resolution lifecycle (r13).

``lifecycle_stream`` maintains one ER store under a single event stream
that interleaves arrival and delete batches: retraction, margin
assignment against the current golden rows, a drain of the carried pool
and a touched-bucket golden rewrite, per micro-batch in
``foreachBatch``.  Every piece of state is derived and batch-keyed, so
restarts are exactly-once under the file-source commit log.
``rehome_touched`` is the touched-only core of record retraction, and
``stage_lifecycle_frames`` stages an event sequence as one file per
batch.  ``tools/ladders.py``'s ``er`` ladder times all three.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from changegen_spark.operators.fence import fence


GOLDEN_BUCKETS = 16  # entity-hash partitions of the maintained tables


def _bucketed(df: DataFrame) -> DataFrame:
    from pyspark.sql import functions as F

    return df.withColumn(
        "bucket", F.pmod(F.col("entity"), F.lit(GOLDEN_BUCKETS))
    )


def _member_rows(df: DataFrame, entity_col) -> DataFrame:
    from pyspark.sql import functions as F

    return df.select(
        entity_col.cast("long").alias("entity"),
        "rec_id",
        F.coalesce(F.lower("name"), F.lit("")).alias("nname"),
        F.coalesce("city", F.lit("")).alias("city"),
    )


def _golden_rows(members: DataFrame) -> DataFrame:
    """Survivorship rows from a member set — the same three per-column
    rules as queries/er/golden.q_er_golden_full (mode / longest /
    latest), kept as hash aggregations."""
    from pyspark.sql import functions as F

    nc = members.groupBy("entity", "nname").agg(F.count("*").alias("cnt"))
    mode = (
        nc.groupBy("entity")
        .agg(
            F.min(
                F.struct(
                    (-F.col("cnt")).alias("neg"), F.col("nname").alias("v")
                )
            ).alias("b")
        )
        .select("entity", F.col("b.v").alias("name_mode"))
    )
    rest = members.groupBy("entity").agg(
        F.count("*").alias("n_members"),
        F.min(
            F.struct(
                (-F.length("nname")).alias("neg"), F.col("nname").alias("v")
            )
        )["v"].alias("name_longest"),
        F.max(
            F.struct(F.col("rec_id").alias("r"), F.col("city").alias("v"))
        )["v"].alias("city_latest"),
    )
    return rest.join(mode, "entity").select(
        "entity", "n_members", "name_mode", "name_longest", "city_latest"
    )


def _latest_pool_batch(pool_dir: str, before: int) -> int | None:
    """Largest committed pool snapshot id strictly below ``before`` —
    the pool state this batch inherits (a RETRIED batch must not read
    its own failed attempt's snapshot)."""
    if not os.path.isdir(pool_dir):
        return None
    ids = [
        int(d.split("=", 1)[1])
        for d in os.listdir(pool_dir)
        if d.startswith("batch=")
    ]
    ids = [i for i in ids if i < before]
    return max(ids) if ids else None


def rehome_touched(
    membership: DataFrame,
    deletes: DataFrame,
    people: DataFrame,
    pairs_fn=None,
) -> DataFrame:
    """The touched-only CORE of a retraction step: the new (rec_id,
    entity) assignments for the REMAINING members of the entities that
    lost a record — pair generation re-run on just that record subset,
    CC on the induced subgraph, components re-headed by min rec_id.
    This frame is all the retraction WORK there is (the er_ladder
    ``retract`` cell times exactly it); every untouched entity's rows
    pass through unchanged.

    ``pairs_fn`` (people_subset → (rec_a, rec_b) pairs) is the pair rule
    the membership was BUILT with — retraction must regenerate edges
    under the same rule or the rehomed subgraph belongs to a different
    pipeline than the one being maintained (r12 advice).  Defaults to
    plain ``er_pairs_for``."""
    from pyspark.sql import functions as F

    from changegen_spark.functions.clustering import connected_components
    from changegen_spark.queries.er.blocking import er_pairs_for

    if pairs_fn is None:
        pairs_fn = er_pairs_for
    dels = deletes.select("rec_id").distinct()
    touched = (
        membership.join(dels, "rec_id").select("entity").distinct()
    ).transform(fence, "rehome_touched touched")
    remaining = membership.join(F.broadcast(touched), "entity").join(
        dels, "rec_id", "left_anti"
    )
    sub_people = people.join(
        remaining.select("rec_id"), "rec_id"
    ).transform(fence, "rehome_touched sub_people")
    sub_edges = pairs_fn(sub_people).select("rec_a", "rec_b")
    subcomp = connected_components(sub_edges, src="rec_a", dst="rec_b")
    return remaining.select("rec_id").join(
        subcomp, remaining.rec_id == subcomp.node, "left"
    ).select(
        "rec_id", F.coalesce("comp", F.col("rec_id")).alias("entity")
    )


def stage_lifecycle_frames(
    spark: SparkSession, out_dir: str, frames, t0: float
) -> str:
    """Stage a composed-lifecycle event sequence from prepared frames:
    each element of ``frames`` is a DataFrame with (kind, rec_id, name,
    city) — kind 'arrive' or 'delete'.  One file per batch, mtimes
    pinned in order from ``t0`` (the file source orders micro-batches
    by mtime, and same-mtime ties are listing-order — arbitrary)."""
    import glob
    import shutil

    os.makedirs(out_dir, exist_ok=True)
    for i, df in enumerate(frames):
        tmp = os.path.join(out_dir, f"_g{i}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        (part,) = glob.glob(os.path.join(tmp, "part-*.parquet"))
        dst = os.path.join(out_dir, f"{i:02d}.parquet")
        shutil.copy(part, dst)
        shutil.rmtree(tmp)
        os.utime(dst, (t0 + i, t0 + i))
    return out_dir


def lifecycle_stream(
    spark: SparkSession,
    state_dir: str,
    events_stage: str,
    checkpoint: str | None = None,
    base: DataFrame | None = None,
    seed_key: str | None = None,
    pool_ttl_batches: int | None = None,
    tombstone_window: int | None = None,
):
    """The COMPOSED ER lifecycle over one shared store (r13, r12 verdict
    #3): a single event stream interleaves ARRIVAL batches and DELETE
    batches, and every stage probes the state every other stage
    maintains — retraction changes the golden names and memberships
    that both the carried pool's re-probe and the next batch's
    assignment see.  Per micro-batch, in order:

    1. retraction — deleted rec_ids leave the record set (base records,
       previously-arrived members, and PENDING POOL ENTRIES alike);
       entities that lost their head re-head to the min surviving
       member (assignment-model clusters are stars: deletion re-heads
       or tombstones, never splits);
    2. assignment — the batch's arrivals margin-assign against the
       CURRENT golden rows (post-retraction: a deleted base record can
       never attract a new arrival), −2 arrivals join the pool with
       their park_lev;
    3. pool drain — the whole pool re-probes the updated golden names
       through the shared ``reprobe_pool`` core (default 'toward'
       policy: a tie broken by a rival's DELETION is still
       uninformative about where the arrival belongs — the survivor's
       lev did not drop — so such arrivals stay parked);
    4. maintenance — records/pool/drained snapshots written batch-keyed
       (idempotent), touched golden buckets explicitly overwritten
       (deletion can empty a bucket).

    State: records/{seed,batch=*}, pool/batch=*, drained/batch=*,
    golden/bucket=*.  All derived + batch-keyed → restart exactly-once
    under the file-source checkpoint, including resuming MID-sequence
    when new event files land after a completed availableNow run.

    ``base`` substitutes the seeded record set (rec_id, name, city; one
    entity per record) for the planted fixture — the bench lifecycle
    rung seeds the 100k er_records corpus this way; a custom base needs
    an explicit ``seed_key`` for the idempotent-seed marker.
    ``pool_ttl_batches`` bounds carried state: a parked arrival the
    drain cannot place for that many consecutive batches gets the
    terminal ``escalated`` disposition (matched_entity −3 — route to
    review, never a merge) and leaves the pool; default None keeps the
    r12 carry-forever behavior.  Pool snapshots carry ``parked_batch``
    for the age check (batch-keyed, so restart-safe).

    ``tombstone_window`` is the retraction-shadow guard (r13): golden
    names of entities that DISAPPEARED (no surviving members) are kept
    as batch-keyed tombstones for that many batches, and an arrival
    whose best live candidate would have been TIED OR BEATEN by a
    fresh tombstone is parked instead of merged.  The hazard it
    closes, found by the lifecycle bench rung's purity audit: an
    arrival landing AFTER its true entity was retracted, with a
    near-twin surviving, gives the first pass a sole maximally-
    confident candidate — the one wrong-merge mechanism no margin or
    drain policy can see, because the evidence is in the DELETED rows.
    The parked arrival then rides the normal pool: the drain cannot
    find toward evidence for it, so under a TTL it escalates to
    review rather than silently resurrecting.  The probe reuses the
    re-probe scorer (`_reprobe_scored`) against the windowed tombstone
    set — two key-equality hash joins with a window-bounded build
    side.  New-entity arrivals are NOT guarded: under record-level
    retraction a fresh observation legitimately starts a new entity.

    100 TB shape: the fixture-scale record snapshot stands in for a
    bucketed upsert; every probe
    is the two-key hash join of the batch operators, the drain is
    pool-sized, retraction work is touched-entity-sized, and golden
    rewrites are touched-bucket-sized."""
    from pyspark.sql import functions as F

    from changegen_spark.queries.er import ER_AMBIG_PATH
    from changegen_spark.queries.er.incremental import (
        INC_MARGIN,
        incremental_assign_margin,
    )
    from changegen_spark.queries.er.resolve import (
        _reprobe_scored,
        reprobe_pool,
    )

    if base is None:
        base = spark.read.parquet(ER_AMBIG_PATH).filter("rec_id < 400")
        st = os.stat(ER_AMBIG_PATH)
        seed_key = f"{ER_AMBIG_PATH}|{st.st_size}|{st.st_mtime_ns}"
    elif seed_key is None:
        raise ValueError(
            "a custom base needs an explicit seed_key (the fixture "
            "default derives it from the file's size+mtime)"
        )
    records_dir = os.path.join(state_dir, "records")
    pool_dir = os.path.join(state_dir, "pool")
    drained_dir = os.path.join(state_dir, "drained")
    table_dir = os.path.join(state_dir, "golden")
    tombs_dir = os.path.join(state_dir, "tombstones")
    seed_dir = os.path.join(records_dir, "seed")

    marker = os.path.join(state_dir, "_SEEDED")
    os.makedirs(state_dir, exist_ok=True)
    stale = True
    if os.path.exists(marker):
        with open(marker) as fh:
            stale = fh.read() != seed_key
    if stale:
        seed = base.select(
            "rec_id",
            F.coalesce(F.lower("name"), F.lit("")).alias("nname"),
            F.coalesce("city", F.lit("")).alias("city"),
            F.col("rec_id").cast("long").alias("entity"),
        )
        seed.write.mode("overwrite").parquet(seed_dir)
        spark.catalog.refreshByPath(seed_dir)
        rows = spark.read.parquet(seed_dir)
        (
            _bucketed(
                _golden_rows(
                    rows.select("entity", "rec_id", "nname", "city")
                )
            )
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(table_dir)
        )
        with open(marker, "w") as fh:
            fh.write(seed_key)

    schema = spark.read.parquet(events_stage).schema
    events = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_stage)
    )
    pool_schema = (
        "rec_id long, aname string, acity string, park_lev long, "
        "parked_batch long"
    )

    def _records_before(batch_id: int) -> str:
        ids = [
            int(d.split("=", 1)[1])
            for d in os.listdir(records_dir)
            if d.startswith("batch=")
        ]
        ids = [i for i in ids if i < batch_id]
        return (
            os.path.join(records_dir, f"batch={max(ids)}")
            if ids
            else seed_dir
        )

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        snap = _records_before(batch_id)
        spark.catalog.refreshByPath(snap)
        prev = spark.read.parquet(snap).transform(fence, "lifecycle_stream prev")
        prev_id = _latest_pool_batch(pool_dir, batch_id)
        if prev_id is None:
            pool = spark.createDataFrame([], pool_schema)
        else:
            psnap = os.path.join(pool_dir, f"batch={prev_id}")
            spark.catalog.refreshByPath(psnap)
            pool = spark.read.parquet(psnap)
        dels = (
            batch_df.filter("kind = 'delete'").select("rec_id").distinct()
        ).transform(fence, "lifecycle_stream dels")
        # (1) retraction: drop deleted records AND deleted pool entries,
        # re-head entities whose surviving members lost their head
        old_touched = (
            prev.join(dels, "rec_id").select("entity").distinct()
        ).transform(fence, "lifecycle_stream old_touched")
        kept = prev.join(dels, "rec_id", "left_anti")
        reheaded = (
            kept.join(F.broadcast(old_touched), "entity")
            .groupBy("entity")
            .agg(F.min("rec_id").alias("new_entity"))
        )
        after_del = (
            kept.join(F.broadcast(reheaded), "entity", "left")
            .select(
                "rec_id",
                "nname",
                "city",
                F.coalesce("new_entity", F.col("entity")).alias("entity"),
            )
        ).transform(fence, "lifecycle_stream after_del")
        pool = pool.join(dels, "rec_id", "left_anti")
        if tombstone_window is not None:
            # retraction-shadow tombstones: golden names of entities
            # that DISAPPEARED this batch (no surviving member), kept
            # batch-keyed for the window
            tombstoned = old_touched.join(
                reheaded.select("entity"), "entity", "left_anti"
            )
            (
                _golden_rows(prev.select("entity", "rec_id", "nname", "city"))
                .join(F.broadcast(tombstoned), "entity")
                .select(
                    "entity",
                    F.col("name_mode").alias("name"),
                    F.col("city_latest").alias("city"),
                )
                .write.mode("overwrite")
                .parquet(os.path.join(tombs_dir, f"batch={batch_id}"))
            )
        # (2) assignment against the CURRENT (post-retraction) golden
        golden_now = _golden_rows(
            after_del.select("entity", "rec_id", "nname", "city")
        ).select(
            F.col("entity").alias("rec_id"),
            F.col("name_mode").alias("name"),
            F.col("city_latest").alias("city"),
        )
        arr = batch_df.filter("kind = 'arrive'").select(
            "rec_id", "name", "city"
        )
        assigned = incremental_assign_margin(arr, golden_now).select(
            "rec_id", "matched_entity", "lev"
        )
        if tombstone_window is not None:
            live = [
                os.path.join(tombs_dir, d)
                for d in os.listdir(tombs_dir)
                if d.startswith("batch=")
                and 0 <= batch_id - int(d.split("=", 1)[1]) < tombstone_window
            ]
            if live:
                for p in live:
                    spark.catalog.refreshByPath(p)
                tomb = spark.read.parquet(*live)
                t_best = _reprobe_scored(
                    arr.select(
                        "rec_id",
                        F.coalesce(F.lower("name"), F.lit("")).alias("aname"),
                        F.coalesce("city", F.lit("")).alias("acity"),
                        F.lit(0).cast("long").alias("park_lev"),
                    ),
                    tomb,
                ).select("rec_id", F.col("lev").alias("t_lev"))
                # a fresh tombstone that would have tied or beaten the
                # best live candidate makes the merge unsafe: park it
                # (the pool/TTL machinery routes it onward)
                shadowed = (
                    (F.col("matched_entity") >= 0)
                    & F.col("t_lev").isNotNull()
                    & (F.col("t_lev") - F.col("lev") < F.lit(INC_MARGIN))
                )
                assigned = assigned.join(t_best, "rec_id", "left").select(
                    "rec_id",
                    F.when(shadowed, F.lit(-2))
                    .otherwise(F.col("matched_entity"))
                    .cast("long")
                    .alias("matched_entity"),
                    "lev",
                )
        arr_n = arr.join(assigned, "rec_id").select(
            "rec_id",
            F.coalesce(F.lower("name"), F.lit("")).alias("nname"),
            F.coalesce("city", F.lit("")).alias("city"),
            "matched_entity",
            "lev",
        ).transform(fence, "lifecycle_stream arr_n")
        arr_members = arr_n.filter("matched_entity != -2").select(
            "rec_id",
            "nname",
            "city",
            F.when(F.col("matched_entity") >= 0, F.col("matched_entity"))
            .otherwise(F.col("rec_id"))
            .cast("long")
            .alias("entity"),
        )
        pool = pool.unionByName(
            arr_n.filter("matched_entity = -2").select(
                "rec_id",
                F.col("nname").alias("aname"),
                F.col("city").alias("acity"),
                F.col("lev").cast("long").alias("park_lev"),
                F.lit(batch_id).cast("long").alias("parked_batch"),
            )
        )
        with_arr = after_del.unionByName(arr_members)
        # (3) pool drain against the updated golden names
        golden_new = _golden_rows(
            with_arr.select("entity", "rec_id", "nname", "city")
        ).select(
            "entity",
            F.col("name_mode").alias("name"),
            F.col("city_latest").alias("city"),
        )
        decisions = reprobe_pool(pool, golden_new).transform(
            fence, "lifecycle_stream decisions"
        )
        drained = decisions.filter("matched_entity != -2")
        drained_members = drained.join(pool, "rec_id").select(
            "rec_id",
            F.col("aname").alias("nname"),
            F.col("acity").alias("city"),
            F.when(F.col("matched_entity") >= 0, F.col("matched_entity"))
            .otherwise(F.col("rec_id"))
            .cast("long")
            .alias("entity"),
        )
        new_records = with_arr.unionByName(drained_members).transform(
            fence, "lifecycle_stream new_records"
        )
        still = (
            decisions.filter("matched_entity = -2")
            .select("rec_id")
            .join(pool, "rec_id")
        )
        # pool TTL (r13): entries the drain could not place for
        # `pool_ttl_batches` consecutive batches get the terminal
        # `escalated` disposition (matched_entity −3: route to review —
        # never a merge, never a silent drop) and leave the pool, so
        # carried state is BOUNDED by ttl × arrival rate even when no
        # toward evidence ever appears.  Expiry runs AFTER the drain
        # attempt — the batch that would age an entry out still gets a
        # last chance to place it on evidence.
        if pool_ttl_batches is not None:
            aged = F.col("parked_batch") <= batch_id - pool_ttl_batches
            escalated = (
                still.filter(aged)
                .select("rec_id")
                .join(decisions, "rec_id")
                .select(
                    "rec_id",
                    F.lit(-3).cast("long").alias("matched_entity"),
                    "lev",
                    "margin",
                    "n_matches",
                    F.lit("escalated").alias("status"),
                )
            )
            drained = drained.unionByName(escalated)
            still = still.filter(~aged)
        # (4) batch-keyed snapshots + touched-bucket golden rewrite
        new_records.write.mode("overwrite").parquet(
            os.path.join(records_dir, f"batch={batch_id}")
        )
        still.write.mode("overwrite").parquet(
            os.path.join(pool_dir, f"batch={batch_id}")
        )
        drained.write.mode("overwrite").parquet(
            os.path.join(drained_dir, f"batch={batch_id}")
        )
        touched = (
            old_touched.select("entity")
            .unionByName(reheaded.select(F.col("new_entity").alias("entity")))
            .unionByName(arr_members.select("entity"))
            .unionByName(drained_members.select("entity"))
            .select(F.pmod("entity", F.lit(GOLDEN_BUCKETS)).alias("bucket"))
            .distinct()
            .transform(fence, "lifecycle_stream touched")
        )
        rows = (
            _bucketed(
                _golden_rows(
                    new_records.select("entity", "rec_id", "nname", "city")
                )
            )
            .join(F.broadcast(touched), "bucket", "left_semi")
            .transform(fence, "lifecycle_stream rows")
        )
        # explicit per-bucket overwrite: a delete batch can EMPTY a
        # bucket, which dynamic partition overwrite would leave stale
        for b in sorted(r.bucket for r in touched.collect()):
            (
                rows.filter(F.col("bucket") == b)
                .drop("bucket")
                .write.mode("overwrite")
                .parquet(os.path.join(table_dir, f"bucket={b}"))
            )

    writer = events.writeStream.foreachBatch(merge).trigger(
        availableNow=True
    )
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()
