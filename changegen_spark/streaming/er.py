"""Streaming incremental entity resolution (r10).

The batch-append regime of `queries/er.q_er_incremental`, expressed as
Structured Streaming's canonical STREAM-STATIC pattern: arrivals land as
files in a drop directory, each micro-batch joins the (static, broadcast-
sized-keys) base entity table through the two candidate keys, refines,
and emits one assignment row per arrival.  `foreachBatch` is the right
shape here — the per-batch work IS a batch join, and production upserts
its output into the golden table (a MERGE on a transactional table
format, which this sandbox does not ship) — so the sink below is a
pluggable callback and the tests collect to memory.

State: NONE.  Unlike the Elo/HLL/session twins this operator keeps no
streaming state at all — every arrival's assignment depends only on the
static base, so restarts are trivially exactly-once per the file-source
commit log.  At 100 TB the base side is a bucketed table whose keyed
projection is re-derived per batch (or cached); arrivals per trigger are
the small side.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession

from changegen_spark.operators.fence import fence


def stage_arrival_files(spark: SparkSession, n_files: int = 4) -> str:
    """Write the fixture's arrival records (rec_id ≥ 400) as ``n_files``
    parquet files under a staging drop directory (idempotent) so
    maxFilesPerTrigger=1 yields multiple micro-batches."""
    from changegen_spark.queries.er import ER_PATH, _people

    # the staging key folds in the fixture's size+mtime (r10 advice): a
    # regenerated er_people fixture must invalidate the cached staging
    # dir, or the stream silently replays stale arrivals across sessions
    st = os.stat(ER_PATH)
    stage = os.path.join(
        "/tmp",
        "changegen_spark_er_stream_"
        + hashlib.md5(
            f"{ER_PATH}|{n_files}|{st.st_size}|{st.st_mtime_ns}".encode()
        ).hexdigest()[:8],
    )
    done = os.path.join(stage, "_STAGED")
    if not os.path.exists(done):
        arrivals = _people(spark).filter("rec_id >= 400")
        # deterministic file split: route by rec_id, not round-robin
        (
            arrivals.repartition(n_files, "rec_id")
            .write.mode("overwrite")
            .parquet(stage)
        )
        with open(done, "w") as fh:
            fh.write("ok")
    return stage


def incremental_er_stream(
    spark: SparkSession,
    on_batch,
    n_files: int = 4,
    checkpoint: str | None = None,
    stage_dir: str | None = None,
):
    """Run the stream-static incremental-ER pipeline over the staged
    arrival drop directory; ``on_batch(assignments_df, batch_id)`` is
    invoked per micro-batch with the assignment frame (rec_id,
    matched_entity, lev, n_matches).  Returns the started query (caller
    drives processAllAvailable/stop).  ``stage_dir`` overrides the
    default fixture staging (used by the arrival-order permutation
    parity test: assignment is stateless per arrival, so file-drop
    ORDER must not change the final table)."""
    from changegen_spark.queries.er import _people, incremental_assign

    base = _people(spark).filter("rec_id < 400")
    stage = stage_dir or stage_arrival_files(spark, n_files=n_files)
    schema = spark.read.parquet(stage).schema
    arrivals = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )

    def emit(batch_df: DataFrame, batch_id: int) -> None:
        on_batch(incremental_assign(batch_df, base), batch_id)

    writer = arrivals.writeStream.foreachBatch(emit).trigger(availableNow=True)
    if checkpoint:
        # production restart semantics: the file-source commit log makes
        # re-runs exactly-once (tested); without it Spark uses a fresh
        # temporary checkpoint and reprocesses everything
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()


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


def stage_ambig_files(spark: SparkSession, n_files: int = 3) -> str:
    """Stage the er_ambig fixture's arrivals (rec_id ≥ 400) as a drop
    directory, mirroring stage_arrival_files (size+mtime-keyed cache)."""
    from changegen_spark.queries.er import ER_AMBIG_PATH

    st = os.stat(ER_AMBIG_PATH)
    stage = os.path.join(
        "/tmp",
        "changegen_spark_er_ambig_stream_"
        + hashlib.md5(
            f"{ER_AMBIG_PATH}|{n_files}|{st.st_size}|{st.st_mtime_ns}".encode()
        ).hexdigest()[:8],
    )
    done = os.path.join(stage, "_STAGED")
    if not os.path.exists(done):
        arrivals = spark.read.parquet(ER_AMBIG_PATH).filter("rec_id >= 400")
        (
            arrivals.repartition(n_files, "rec_id")
            .write.mode("overwrite")
            .parquet(stage)
        )
        with open(done, "w") as fh:
            fh.write("ok")
    return stage


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


def resolve_maintenance_stream(
    spark: SparkSession,
    state_dir: str,
    n_files: int = 3,
    checkpoint: str | None = None,
    stage_dir: str | None = None,
):
    """Golden maintenance WITH a carried ambiguous pool (r11 verdict #1)
    — the streaming twin of queries/er/resolve.q_er_ambiguous_resolve.
    Per micro-batch: (1) margin-assign the arrivals against the static
    base; (2) confident merges and −1 arrivals become member rows, −2
    arrivals join the POOL; (3) the whole pool (inherited snapshot ∪
    this batch's parkings) is re-probed via the SHARED
    ``reprobe_pool`` core against the updated golden names (base ∪ all
    members including this batch's) — resolved/new pooled arrivals
    become members with a terminal disposition, still-ambiguous ones
    are written as this batch's pool snapshot; (4) the touched golden
    buckets are dynamic-partition-overwritten as in
    golden_maintenance_stream.

    State layout under ``state_dir`` (all derived, all idempotent —
    batch-keyed overwrites + pure recomputes, so retries are safe and
    the file-source checkpoint gives exactly-once):
      members/batch=<id>/  member rows added by that batch
      pool/batch=<id>/     FULL pool snapshot after that batch
      drained/batch=<id>/  terminal dispositions decided in that batch
      golden/bucket=*/     the maintained golden table

    Ordering semantics, stated honestly: re-resolution is EAGER — a
    pooled arrival resolves with the information available at its
    batch, so a tie that a later batch's merge would have re-broken
    differently is decided early (the order-dependence test pins this).
    When every confident arrival lands no later than the batch that
    drains its dependent tie, the terminal dispositions equal the
    one-shot batch operator's exactly (the parity test).

    100 TB shape: the pool snapshot is small (the abstention rate of
    the margin dial) and the re-probe is the same two key-equality hash
    joins as the first pass; members/golden maintenance is touched-
    bucket work as in golden_maintenance_stream."""
    from pyspark.sql import functions as F

    from changegen_spark.queries.er import ER_AMBIG_PATH
    from changegen_spark.queries.er.incremental import (
        incremental_assign_margin,
    )
    from changegen_spark.queries.er.resolve import reprobe_pool

    base = spark.read.parquet(ER_AMBIG_PATH).filter("rec_id < 400")
    members_dir = os.path.join(state_dir, "members")
    pool_dir = os.path.join(state_dir, "pool")
    drained_dir = os.path.join(state_dir, "drained")
    table_dir = os.path.join(state_dir, "golden")

    # seed: every base entity a singleton golden row, marker keyed on the
    # fixture's size+mtime (same invalidation as golden_maintenance_stream)
    st = os.stat(ER_AMBIG_PATH)
    seed_key = f"{ER_AMBIG_PATH}|{st.st_size}|{st.st_mtime_ns}"
    marker = os.path.join(state_dir, "_SEEDED")
    os.makedirs(state_dir, exist_ok=True)
    stale = True
    if os.path.exists(marker):
        with open(marker) as fh:
            stale = fh.read() != seed_key
    if stale:
        (
            _bucketed(_golden_rows(_member_rows(base, F.col("rec_id"))))
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(table_dir)
        )
        with open(marker, "w") as fh:
            fh.write(seed_key)

    stage = stage_dir or stage_ambig_files(spark, n_files=n_files)
    schema = spark.read.parquet(stage).schema
    arrivals = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    # park_lev rides in the snapshot: an arrival re-probed in a LATER
    # batch still carries the lev it was parked at — the 'toward'
    # policy's evidence baseline (queries/er/resolve.py)
    pool_schema = "rec_id long, aname string, acity string, park_lev long"

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        assigned = incremental_assign_margin(batch_df, base).select(
            "rec_id", "matched_entity", "lev"
        )
        arr = batch_df.join(assigned, "rec_id").select(
            "rec_id",
            F.coalesce(F.lower("name"), F.lit("")).alias("nname"),
            F.coalesce("city", F.lit("")).alias("city"),
            "matched_entity",
            "lev",
        ).transform(fence, "resolve_maintenance_stream arr")
        batch_members = arr.filter(F.col("matched_entity") != -2).select(
            F.when(F.col("matched_entity") >= 0, F.col("matched_entity"))
            .otherwise(F.col("rec_id"))
            .cast("long")
            .alias("entity"),
            "rec_id",
            "nname",
            "city",
        )
        parked = arr.filter(F.col("matched_entity") == -2).select(
            "rec_id",
            F.col("nname").alias("aname"),
            F.col("city").alias("acity"),
            F.col("lev").cast("long").alias("park_lev"),
        )
        prev = _latest_pool_batch(pool_dir, batch_id)
        if prev is None:
            pool_in = spark.createDataFrame([], pool_schema)
        else:
            snap = os.path.join(pool_dir, f"batch={prev}")
            spark.catalog.refreshByPath(snap)
            pool_in = spark.read.parquet(snap)
        pool_in = pool_in.unionByName(parked)
        # golden names INCLUDING this batch's members (parity with the
        # batch operator, which re-probes after its merges)
        prior = spark.createDataFrame(
            [], "entity long, rec_id long, nname string, city string"
        )
        if os.path.isdir(members_dir) and any(
            d.startswith("batch=") for d in os.listdir(members_dir)
        ):
            spark.catalog.refreshByPath(members_dir)
            prior = (
                spark.read.option("basePath", members_dir)
                .parquet(members_dir)
                .filter(F.col("batch") < batch_id)
                .select("entity", "rec_id", "nname", "city")
            )
        all_members = (
            _member_rows(base, F.col("rec_id"))
            .unionByName(prior)
            .unionByName(batch_members)
        )
        golden = _golden_rows(all_members).select(
            "entity",
            F.col("name_mode").alias("name"),
            F.col("city_latest").alias("city"),
        )
        decisions = reprobe_pool(pool_in, golden).transform(
            fence, "resolve_maintenance_stream decisions"
        )
        drained = decisions.filter(F.col("matched_entity") != -2)
        drained_members = drained.join(pool_in, "rec_id").select(
            F.when(F.col("matched_entity") >= 0, F.col("matched_entity"))
            .otherwise(F.col("rec_id"))
            .cast("long")
            .alias("entity"),
            "rec_id",
            F.col("aname").alias("nname"),
            F.col("acity").alias("city"),
        )
        out_members = batch_members.unionByName(drained_members)
        out_members.write.mode("overwrite").parquet(
            os.path.join(members_dir, f"batch={batch_id}")
        )
        still = decisions.filter(F.col("matched_entity") == -2).select(
            "rec_id"
        ).join(pool_in, "rec_id")
        still.write.mode("overwrite").parquet(
            os.path.join(pool_dir, f"batch={batch_id}")
        )
        drained.write.mode("overwrite").parquet(
            os.path.join(drained_dir, f"batch={batch_id}")
        )
        # golden-table bucket maintenance (as golden_maintenance_stream)
        spark.catalog.refreshByPath(members_dir)
        final_members = _member_rows(base, F.col("rec_id")).unionByName(
            spark.read.option("basePath", members_dir)
            .parquet(members_dir)
            .filter(F.col("batch") <= batch_id)
            .select("entity", "rec_id", "nname", "city")
        )
        touched = (
            out_members.select(
                F.pmod("entity", F.lit(GOLDEN_BUCKETS)).alias("bucket")
            )
            .distinct()
        )
        rows = _bucketed(
            _golden_rows(
                _bucketed(final_members)
                .join(F.broadcast(touched), "bucket")
                .select("entity", "rec_id", "nname", "city")
            )
        )
        (
            rows.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(table_dir)
        )

    writer = (
        arrivals.writeStream.foreachBatch(merge).trigger(availableNow=True)
    )
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()


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
    ``retract`` cell times exactly it); everything else in
    retract_membership is untouched-row passthrough.

    ``pairs_fn`` (people_subset → (rec_a, rec_b) pairs) is the pair rule
    the membership was BUILT with — retraction must regenerate edges
    under the same rule or the rehomed subgraph belongs to a different
    pipeline than the one being maintained (r12 advice).  Defaults to
    plain ``er_pairs_for``, the rule ``retract_stream`` seeds with."""
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


def retract_membership(
    membership: DataFrame,
    deletes: DataFrame,
    people: DataFrame,
) -> DataFrame:
    """One retraction step over a (rec_id, entity) membership table:
    remove the deleted records, re-home the touched entities' remaining
    members (``rehome_touched``), pass untouched entities through
    byte-identical.  Returns the new full membership."""
    from pyspark.sql import functions as F

    dels = deletes.select("rec_id").distinct()
    touched = (
        membership.join(dels, "rec_id").select("entity").distinct()
    ).transform(fence, "retract_membership touched")
    untouched = membership.join(F.broadcast(touched), "entity", "left_anti")
    rehomed = rehome_touched(membership, deletes, people)
    return untouched.select("rec_id", "entity").unionByName(rehomed)


def retract_stream(
    spark: SparkSession,
    state_dir: str,
    deletes_stage: str,
    checkpoint: str | None = None,
):
    """Streaming golden-table RETRACTION (r11 verdict #4): delete
    batches arrive as files of (rec_id) rows; each micro-batch removes
    those members, re-runs CC on the touched entities' remaining
    subgraph, and maintains BOTH the membership table (full snapshot
    per batch — fixture-small here; at scale a bucket-partitioned
    upsert like the golden table's) and the bucket-partitioned golden
    table (touched buckets dynamic-partition-overwritten, so a split
    entity's new heads appear and a emptied entity's row vanishes with
    its bucket rewrite).

    Idempotent by construction: membership snapshots are batch-keyed
    overwrites, golden buckets are a pure function of the snapshot, and
    the file-source checkpoint prevents reprocessing — a retried batch
    reads its PREDECESSOR's snapshot (never its own failed write) and
    rewrites exactly its own outputs."""
    from pyspark.sql import functions as F

    from changegen_spark.functions.clustering import connected_components
    from changegen_spark.queries.er import ER_AMBIG_PATH
    from changegen_spark.queries.er.blocking import er_pairs_for

    people = spark.read.parquet(ER_AMBIG_PATH)
    members_dir = os.path.join(state_dir, "membership")
    table_dir = os.path.join(state_dir, "golden")

    # seed: the full CC assignment + golden table (fixture-keyed marker)
    st = os.stat(ER_AMBIG_PATH)
    seed_key = f"{ER_AMBIG_PATH}|{st.st_size}|{st.st_mtime_ns}"
    marker = os.path.join(state_dir, "_SEEDED")
    os.makedirs(state_dir, exist_ok=True)
    stale = True
    if os.path.exists(marker):
        with open(marker) as fh:
            stale = fh.read() != seed_key
    seed_dir = os.path.join(members_dir, "seed")
    if stale:
        comp = connected_components(
            er_pairs_for(people).select("rec_a", "rec_b"),
            src="rec_a",
            dst="rec_b",
        )
        assign = people.select("rec_id").join(
            comp, people.rec_id == comp.node, "left"
        ).select(
            "rec_id", F.coalesce("comp", F.col("rec_id")).alias("entity")
        )
        assign.write.mode("overwrite").parquet(seed_dir)
        spark.catalog.refreshByPath(seed_dir)
        seeded = spark.read.parquet(seed_dir)
        members = _member_rows(people.join(seeded, "rec_id"), F.col("entity"))
        (
            _bucketed(_golden_rows(members))
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(table_dir)
        )
        with open(marker, "w") as fh:
            fh.write(seed_key)

    schema = spark.read.parquet(deletes_stage).schema
    deletes = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(deletes_stage)
    )

    def _snapshot_before(batch_id: int) -> str:
        ids = [
            int(d.split("=", 1)[1])
            for d in os.listdir(members_dir)
            if d.startswith("batch=")
        ]
        ids = [i for i in ids if i < batch_id]
        if ids:
            return os.path.join(members_dir, f"batch={max(ids)}")
        return seed_dir

    def apply_deletes(batch_df: DataFrame, batch_id: int) -> None:
        snap = _snapshot_before(batch_id)
        spark.catalog.refreshByPath(snap)
        membership = spark.read.parquet(snap).select("rec_id", "entity")
        old_touched = (
            membership.join(batch_df.select("rec_id").distinct(), "rec_id")
            .select("entity")
            .distinct()
        ).transform(fence, "retract_stream old_touched")
        new_membership = retract_membership(
            membership, batch_df, people
        ).transform(fence, "retract_stream new_membership")
        new_membership.write.mode("overwrite").parquet(
            os.path.join(members_dir, f"batch={batch_id}")
        )
        # touched buckets: old entity ids (rows may vanish) + the new
        # entity ids of every record those entities used to own
        new_heads = (
            new_membership.join(
                membership.join(F.broadcast(old_touched), "entity").select(
                    "rec_id"
                ),
                "rec_id",
            )
            .select("entity")
            .distinct()
        )
        touched_buckets = (
            old_touched.select("entity")
            .unionByName(new_heads)
            .select(F.pmod("entity", F.lit(GOLDEN_BUCKETS)).alias("bucket"))
            .distinct()
        )
        members = _member_rows(
            people.join(new_membership, "rec_id"), F.col("entity")
        )
        rows = (
            _bucketed(_golden_rows(members))
            .join(F.broadcast(touched_buckets), "bucket", "left_semi")
            .select(
                "entity",
                "n_members",
                "name_mode",
                "name_longest",
                "city_latest",
                "bucket",
            )
            .transform(fence, "retract_stream rows")
        )
        # per-bucket explicit overwrite, NOT dynamic-partition-overwrite:
        # retraction can empty a bucket (its only entity tombstoned), and
        # dynamic mode never rewrites a partition it has no rows for — the
        # stale golden row would survive.  The bucket list is collect()ed
        # but bounded by GOLDEN_BUCKETS, not data.
        for b in sorted(
            r.bucket for r in touched_buckets.distinct().collect()
        ):
            (
                rows.filter(F.col("bucket") == b)
                .drop("bucket")
                .write.mode("overwrite")
                .parquet(os.path.join(table_dir, f"bucket={b}"))
            )

    writer = (
        deletes.writeStream.foreachBatch(apply_deletes).trigger(
            availableNow=True
        )
    )
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()


def golden_maintenance_stream(
    spark: SparkSession,
    golden_dir: str,
    n_files: int = 4,
    checkpoint: str | None = None,
    stage_dir: str | None = None,
):
    """Maintain a PERSISTENT golden table from the arrival drop stream —
    the full production loop the assignment stream only emits rows for:
    per micro-batch, (1) margin-assign the arrivals against the static
    base, (2) write the batch's member rows idempotently under
    ``members/batch=<id>/`` (a retried batch OVERWRITES its own
    directory — foreachBatch's standard exactly-once-write recipe on a
    non-transactional store), (3) recompute survivorship for every
    entity in the BUCKETS this batch touches and dynamic-partition-
    overwrite exactly those buckets of ``golden/``.

    This is the classic pre-Delta MERGE: the golden table is
    hash-partitioned on entity (``GOLDEN_BUCKETS``), so an upsert
    rewrites only the affected partitions, never the table — at 100 TB
    the rewrite cost per batch is (touched buckets / total buckets) of
    the golden table, and buckets scale with the table.  On a
    transactional format (Delta/Iceberg) steps 2-3 collapse into one
    MERGE; the bucket-overwrite shape is the same plan underneath.

    Restart safety: derived state only.  Member dirs are keyed by
    batch_id (idempotent overwrite), golden buckets are a pure function
    of base ∪ members (idempotent recompute), and the file-source
    commit log (``checkpoint``) prevents reprocessing on restart."""
    from pyspark.sql import functions as F

    from changegen_spark.queries.er import (
        _people,
        incremental_assign_margin,
    )

    from changegen_spark.queries.er import ER_PATH

    base = _people(spark).filter("rec_id < 400")
    members_dir = os.path.join(golden_dir, "members")
    table_dir = os.path.join(golden_dir, "golden")
    # seed: every base entity is a singleton golden row (idempotent).
    # The marker records the fixture's size+mtime (r11 advice — the same
    # invalidation stage_arrival_files uses): a regenerated er_people
    # fixture with a reused golden_dir must RESEED, not silently keep
    # stale base rows.
    st = os.stat(ER_PATH)
    seed_key = f"{ER_PATH}|{st.st_size}|{st.st_mtime_ns}"
    marker = os.path.join(golden_dir, "_SEEDED")
    stale = True
    if os.path.exists(marker):
        with open(marker) as fh:
            stale = fh.read() != seed_key
    if stale:
        seed_members = _member_rows(base, F.col("rec_id"))
        (
            _bucketed(_golden_rows(seed_members))
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(table_dir)
        )
        with open(marker, "w") as fh:
            fh.write(seed_key)

    stage = stage_dir or stage_arrival_files(spark, n_files=n_files)
    schema = spark.read.parquet(stage).schema
    arrivals = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        assigned = incremental_assign_margin(batch_df, base).select(
            "rec_id", "matched_entity"
        )
        batch_members = _member_rows(
            batch_df.join(assigned, "rec_id"),
            F.when(
                F.col("matched_entity") >= 0, F.col("matched_entity")
            ).otherwise(F.col("rec_id")),
        )
        # (2) idempotent member write: retrying batch N rewrites ONLY
        # members/batch=N — never appends duplicates
        batch_members.write.mode("overwrite").parquet(
            os.path.join(members_dir, f"batch={batch_id}")
        )
        # (3) recompute the touched buckets from base ∪ all members
        spark.catalog.refreshByPath(members_dir)
        all_members = _member_rows(base, F.col("rec_id")).unionByName(
            spark.read.option("basePath", members_dir)
            .parquet(members_dir)
            .select("entity", "rec_id", "nname", "city")
        )
        touched = (
            batch_members.select(
                F.pmod("entity", F.lit(GOLDEN_BUCKETS)).alias("bucket")
            )
            .distinct()
        )
        rows = _bucketed(
            _golden_rows(
                _bucketed(all_members).join(F.broadcast(touched), "bucket")
                .select("entity", "rec_id", "nname", "city")
            )
        )
        (
            rows.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(table_dir)
        )

    writer = (
        arrivals.writeStream.foreachBatch(merge).trigger(availableNow=True)
    )
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()


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


def stage_lifecycle_files(spark: SparkSession, out_dir: str, batches) -> str:
    """Stage a composed-lifecycle event sequence: each element of
    ``batches`` is a list of (kind, rec_id) pairs — kind 'arrive' pulls
    the fixture row, kind 'delete' stages a bare retraction key.  One
    file per batch, mtimes pinned in order."""
    from pyspark.sql import functions as F

    from changegen_spark.queries.er import ER_AMBIG_PATH

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
    bucketed upsert (same substitution as retract_stream); every probe
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
