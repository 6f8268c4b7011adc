"""Data-layout (clustering) maintenance + row-group pruning audit.

At 100 TB the cheapest query optimization is one no query ever sees: lay
the table out so parquet row-group min/max statistics line up with the
predicates the workload actually filters on.  A range-clustered write
(``repartitionByRange(col).sortWithinPartitions(col)`` — the same job an
``OPTIMIZE ... ZORDER BY`` / ``CLUSTER BY`` table maintainer runs; the
2-D variant uses queries/scale.zorder_key) gives every row group a tight
[min, max] on the cluster column, so a selective predicate skips almost
every row group AT THE SCAN, before any execution happens.  A scattered
(hash-repartitioned) write of the SAME rows puts the full value range in
every row group — nothing skips, every byte is read and filtered.

``rowgroup_prune_stats`` measures that skipping deterministically from
the parquet footers themselves (the min/max stats readers prune with),
not from wall clocks: footers are KB-sized per file, which is exactly why
engines can afford pruning decisions before touching data.  The
tools/ladders.py layout ladder records both the footer-level stats and the measured warm
scan walls; tests/test_layout.py pins result equality across layouts
(layout is invisible to correctness) and near-total pruning on the
clustered copy.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame


def write_clustered(df: DataFrame, path: str, by: str, partitions: int) -> None:
    """Range-clustered layout job: each output file covers a narrow,
    near-disjoint range of ``by``, and rows inside each file are sorted so
    every row GROUP's min/max span is tight too."""
    (
        df.repartitionByRange(partitions, by)
        .sortWithinPartitions(by)
        .write.mode("overwrite")
        .parquet(path)
    )


def write_scattered(df: DataFrame, path: str, partitions: int) -> None:
    """Anti-layout control: round-robin repartition leaves every row group
    spanning the full value range of every column."""
    df.repartition(partitions).write.mode("overwrite").parquet(path)


def rowgroup_prune_stats(path: str, column: str, lo, hi) -> dict:
    """Footer-only pruning audit: of all row groups under ``path``, how
    many could a min/max-pruning reader skip for ``lo <= column <= hi``?

    Reads ONLY parquet footers (KB per file).  Returns total/overlapping
    row-group counts and the row totals on each side — ``rows_pruned`` is
    data a clustered scan never reads."""
    import pyarrow.parquet as pq

    total = overlap = rows_total = rows_overlap = 0
    for f in sorted(glob.glob(os.path.join(path, "*.parquet"))):
        meta = pq.ParquetFile(f).metadata
        for rg in range(meta.num_row_groups):
            g = meta.row_group(rg)
            total += 1
            rows_total += g.num_rows
            stats = None
            for ci in range(g.num_columns):
                col = g.column(ci)
                if col.path_in_schema == column:
                    stats = col.statistics
                    break
            # a reader without stats must read the group (no pruning)
            if stats is None or not stats.has_min_max or (
                stats.min <= hi and stats.max >= lo
            ):
                overlap += 1
                rows_overlap += g.num_rows
    return {
        "row_groups": total,
        "row_groups_read": overlap,
        "rows_total": rows_total,
        "rows_read": rows_overlap,
        "rows_pruned": rows_total - rows_overlap,
        "prune_pct": round(100.0 * (total - overlap) / total, 1) if total else 0.0,
    }
