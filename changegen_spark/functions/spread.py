"""Scale-adaptive spread of CPU-bound Python scan stages (guide §2).

A ``mapInArrow`` / pandas-UDF pass that lives inside the scan stage
inherits the scan's split count.  Locally (one small parquet file) that
serializes the whole Python pass on one core; on a 100 TB table splits
far exceed the core count and nothing should happen.

r13 spread such scans to ``defaultParallelism`` whenever the scan was
narrower than the session — an unbounded target.  The r13 driver's
8-core-vs-32-core runs showed that over-parallelizes small inputs: 32
Python workers' spin-up + per-task Arrow setup exceed the serialization
they remove (q_cdc_chunks 0.45x, q_dup_spans 0.83x, q_winnow_pairs with
the 8-core run FASTER than the 32-core run).  It won only where the
per-task Python work is heavy (MinHash signatures: q_dedup_clusters
1.31x, q_lsh_pairs 1.27x).

r14: one shared, cost-gated helper.  The target partition count is

    min(defaultParallelism, ceil(scan_bytes / bytes_per_task))

— "give each Python task enough input bytes that its compute dominates
task overhead" — applied only when it exceeds the scan's own estimated
split count.  ``bytes_per_task`` is the per-operator dial, set from the
operator's measured per-byte Python cost (an A/B at the call site): the
heavier the per-byte work, the fewer bytes a task needs to amortize its
fixed overhead.  At scale the clamp makes the helper a no-op: a table
big enough to matter already scans with splits >= cores, so no
repartition (and no extra exchange) ever happens on the 100 TB path.

Sizing uses the scan's input files (public ``DataFrame.inputFiles``), not
``df.rdd.getNumPartitions()`` — the r13 probe forced a full plan-to-RDD
conversion on every query BUILD (inside the bench's timed region) and is
incompatible with Spark Connect (ADVICE r13).  When the input bytes
cannot be determined (in-memory test frames, exotic filesystems) the
helper does nothing, which is the safe default on both ends of the scale.
"""

from __future__ import annotations

import math
import os
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame

# Per-operator bytes-per-task dials (see the call sites for the A/B that
# set each).  Grouped here so the cost model reads in one place: values
# express measured per-byte Python cost — heavier per-byte work => a task
# amortizes its overhead with fewer bytes.
#: MinHash md5 signatures: N_HASHES md5 digests per document — the
#: heaviest per-byte pass; fine-grained spread kept winning (r13 driver:
#: q_dedup_clusters 1.31x, q_lsh_pairs 1.27x at full parallelism).
MINHASH_BYTES_PER_TASK = 16 * 1024
#: The medium-cost per-gram passes, one md5 or Counter update per gram:
#: trigram tf counting (relatedness; r14 A/B on q_related_docs: the ~10-way
#: shape beat the r13 full-parallelism one 8/8, medians 3.29 vs 3.64 s),
#: winnowing selection (r13 driver: 8-way 0.98 s against 32-way 2.21 s at
#: sf0.1) and positioned-gram hashing (dup_spans; r13 driver had 8-way
#: beating 32-way).  The spread pays: unspread at sf0.1 on 4 vCPUs,
#: q_winnow_fingerprints took 3.04 s against 1.78 s, q_dup_spans 1.88 s
#: against 1.37 s and q_winnow_pairs 1.47 s against 1.17 s.
GRAM_BYTES_PER_TASK = 64 * 1024


def scan_file_sizes(df: DataFrame) -> list[int]:
    """On-disk bytes of each of the frame's input files, or ``[]`` when
    unknown (in-memory frames, non-local filesystems)."""
    try:
        files = df.inputFiles()
    except Exception:  # pragma: no cover - defensive (Connect, exotic plans)
        return []
    sizes = []
    for uri in files:
        p = urlparse(uri)
        if p.scheme not in ("", "file"):
            return []
        try:
            sizes.append(os.path.getsize(unquote(p.path)))
        except OSError:
            return []
    return sizes


def estimated_scan_partitions(spark, sizes: list[int]) -> int:
    """The partition count Spark gives a file scan over files of ``sizes``.

    Mirrors ``FilePartition.maxSplitBytes``: files split at
    ``min(maxPartitionBytes, max(openCostInBytes, total / parallelism))``,
    where each file counts its open cost in the total; the splits are then
    packed, largest first, into partitions of at most that many bytes
    (``FilePartition.getFilePartitions``)."""
    # SQLConf parses byte strings such as "64m"; int() on the raw conf
    # string would not.
    conf = spark._jsparkSession.sessionState().conf()
    open_cost = conf.filesOpenCostInBytes()
    total = sum(size + open_cost for size in sizes)
    per_core = total // spark.sparkContext.defaultParallelism
    max_split = min(conf.filesMaxPartitionBytes(), max(open_cost, per_core))
    splits = [
        min(max_split, size - offset)
        for size in sizes
        for offset in range(0, size, max_split)
    ]
    splits.sort(reverse=True)
    parts, current = 0, math.inf
    for split in splits:
        if current + split > max_split:
            parts, current = parts + 1, 0
        current += split + open_cost
    return parts


def spread_if_narrow(
    df: DataFrame, key, bytes_per_task: int, scan_bytes: int | None = None
) -> DataFrame:
    """Hash-repartition ``df`` by ``key`` to the cost-gated target when the
    scan is narrower than that target; identity otherwise (always identity
    at scale — see module docstring).

    ``scan_bytes`` lets call sites that know their (single) input file
    pass its size directly and skip the ``inputFiles`` plan walk.
    """
    spark = df.sparkSession
    sizes = scan_file_sizes(df) if scan_bytes is None else [scan_bytes]
    size = sum(sizes)
    if size <= 0:
        return df
    target = min(spark.sparkContext.defaultParallelism, math.ceil(size / bytes_per_task))
    if target <= estimated_scan_partitions(spark, sizes):
        return df
    return df.repartition(target, key)
