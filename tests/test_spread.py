"""The cost-gated scan spread helper (functions/spread.py, r14).

Pins the three regimes: fine-grained spread for heavy per-byte work,
identity when the dial says a task needs more bytes than the whole scan,
and identity when the input size is unknowable (in-memory frames) — the
safe default at both ends of the scale — and pins the scan's split
estimate to Spark's own partition count."""

import math
import os

import pytest

from changegen_spark.functions.spread import (
    estimated_scan_partitions,
    scan_file_sizes,
    spread_if_narrow,
)


@pytest.fixture(scope="module")
def docs_scan(spark, sf_dir):
    from changegen_spark.sources.tables import load_table

    return load_table(spark, sf_dir, "documents").select("doc_id", "text")


def test_scan_bytes_matches_file(docs_scan, sf_dir):
    expect = os.path.getsize(os.path.join(sf_dir, "documents.parquet"))
    assert scan_file_sizes(docs_scan) == [expect]


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
    assert scan_file_sizes(df) == []
    assert spread_if_narrow(df, "id", 1) is df


def test_byte_string_max_partition_bytes(spark, docs_scan):
    """``spark.sql.files.maxPartitionBytes`` given as "64m" caps the split
    size at 64 MiB: a file big enough that its per-core share exceeds that
    cap splits into ceil(size / 64 MiB) partitions (a 128 MiB fallback
    would estimate half as many).  A 2-task target is then below the
    estimate, so the helper is identity."""
    mib = 1024 * 1024
    key = "spark.sql.files.maxPartitionBytes"
    prev = spark.conf.get(key)
    spark.conf.set(key, "64m")
    try:
        size = 128 * mib * spark.sparkContext.defaultParallelism
        assert estimated_scan_partitions(spark, [size]) == size // (64 * mib)
        out = spread_if_narrow(docs_scan, "doc_id", 60 * mib, scan_bytes=100 * mib)
    finally:
        spark.conf.set(key, prev)
    assert out is docs_scan


@pytest.fixture(scope="module")
def scan_layouts(tmp_path_factory):
    """Parquet inputs of incompressible bytes: one ~64 KB file, one ~8 MB
    file, and a directory of three ~3 MB files plus two ~64 KB ones."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(7)
    root = tmp_path_factory.mktemp("scan_layouts")

    def write(path, nbytes):
        rows = max(1, nbytes // 4096)
        blobs = [rng.bytes(4096) for _ in range(rows)]
        table = pa.table({"k": pa.array(range(rows)), "b": pa.array(blobs)})
        pq.write_table(table, path, compression="none")

    write(root / "small.parquet", 64 * 1024)
    write(root / "large.parquet", 8 * 1024 * 1024)
    (root / "dir").mkdir()
    for i, nbytes in enumerate([3 << 20, 3 << 20, 3 << 20, 64 << 10, 64 << 10]):
        write(root / "dir" / f"part-{i}.parquet", nbytes)
    return {name: str(root / name) for name in ("small.parquet", "large.parquet", "dir")}


@pytest.mark.parametrize("layout", ["small.parquet", "large.parquet", "dir"])
def test_partition_estimate_matches_spark(spark, scan_layouts, layout):
    """The split estimate is Spark's own file-scan partition count: the
    8 MB file splits at the 4 MB open-cost floor (ceil(size / 128 MB)
    would say 1), and the directory's small files pack together."""
    df = spark.read.parquet(scan_layouts[layout])
    actual = df.rdd.getNumPartitions()
    sizes = scan_file_sizes(df)
    assert estimated_scan_partitions(spark, sizes) == actual
    # a target no wider than the scan already is leaves the frame alone
    target = min(spark.sparkContext.defaultParallelism, actual)
    assert spread_if_narrow(df, "k", math.ceil(sum(sizes) / target)) is df
