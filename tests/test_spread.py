"""The cost-gated scan spread helper (functions/spread.py, r14).

Pins the three regimes: fine-grained spread for heavy per-byte work,
identity when the dial says a task needs more bytes than the whole scan,
and identity when the input size is unknowable (in-memory frames) — the
safe default at both ends of the scale."""

import math
import os

import pytest

from changegen_spark.functions.spread import (
    scan_input_bytes,
    spread_if_narrow,
)


@pytest.fixture(scope="module")
def docs_scan(spark, sf_dir):
    from changegen_spark.sources.tables import load_table

    return load_table(spark, sf_dir, "documents").select("doc_id", "text")


def test_scan_bytes_matches_file(docs_scan, sf_dir):
    expect = os.path.getsize(os.path.join(sf_dir, "documents.parquet"))
    assert scan_input_bytes(docs_scan) == expect


def test_spreads_to_cost_gated_target(spark, docs_scan, sf_dir):
    size = os.path.getsize(os.path.join(sf_dir, "documents.parquet"))
    bpt = max(1, size // 3)  # forces a ~3-4 way target below parallelism
    out = spread_if_narrow(docs_scan, "doc_id", bpt)
    target = min(
        spark.sparkContext.defaultParallelism, math.ceil(size / bpt)
    )
    assert out.rdd.getNumPartitions() == target
    # spread is a pure repartition: same rows
    assert out.count() == docs_scan.count()


def test_identity_when_task_bytes_exceed_scan(docs_scan):
    out = spread_if_narrow(docs_scan, "doc_id", 1 << 40)
    assert out is docs_scan


def test_identity_when_size_unknown(spark):
    df = spark.range(10)  # in-memory: no input files
    assert scan_input_bytes(df) == 0
    assert spread_if_narrow(df, "id", 1) is df


def test_byte_string_max_partition_bytes(spark, docs_scan):
    """``spark.sql.files.maxPartitionBytes`` given as "64m" sizes the split
    estimate at 64 MiB: a 100 MiB scan is then 2 splits, already as many as
    a 2-task target, so the helper is identity (a 128 MiB fallback would
    estimate 1 split and repartition)."""
    mib = 1024 * 1024
    key = "spark.sql.files.maxPartitionBytes"
    prev = spark.conf.get(key)
    spark.conf.set(key, "64m")
    try:
        out = spread_if_narrow(docs_scan, "doc_id", 60 * mib, scan_bytes=100 * mib)
    finally:
        spark.conf.set(key, prev)
    assert out is docs_scan
