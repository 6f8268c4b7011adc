"""Ordered way/linestring operators (SURVEY §2.5 W2/W3, §2.8 M2/M4).

Parity targets:
  * W3 way splitting with shared joiner node (``changegen/generator.py:258-304``):
    ways longer than ``node_limit`` split into chunks of ≤ ``chunk_size`` where
    each chunk after the first is prepended with the previous chunk's boundary
    node, so consecutive ways share a node.
  * W2 point insertion index (``changegen/generator.py:208-255``): where to
    insert a junction point into a linestring — fractional position of the
    point along the line vs per-vertex cumulative fractional distance.

Correctness hazard handled here (SURVEY §7 risk 3): vertex order is always
carried explicitly as a ``pos`` column / array index — never implicit row
order, which shuffles do not preserve.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

NODE_LIMIT_DEFAULT = 2000   # --max_nodes_per_way, changegen/__main__.py:148
CHUNK_SIZE_DEFAULT = 500    # max_new_len, changegen/generator.py:274


def split_ways(
    df: DataFrame,
    nds_col: str = "nds",
    node_limit: int = NODE_LIMIT_DEFAULT,
    chunk_size: int = CHUNK_SIZE_DEFAULT,
    chunk_col: str = "chunk",
    joiner: str = "shared",
) -> DataFrame:
    """W3: split over-long node lists into chunks.

    Ways with ≤ ``node_limit`` nodes pass through as chunk 0.  Longer ways
    become ``ceil(n/chunk_size)`` rows.  Two joiner modes:

    * ``joiner="shared"`` (default): chunk *i*>0 is prepended with the LAST
      node of chunk *i-1*, so consecutive ways are topologically connected —
      the behavior the reference's own tests assert
      (``test/test_generator.py:79-92``: every node appears, boundaries
      appear in two chunks, within-chunk order preserved).
    * ``joiner="duplicate_first"``: byte parity with the reference's actual
      ``_make_ways`` loop (``changegen/generator.py:283-302``), whose
      ``joiner_node = nds[nd_idx + max_new_len]`` is the NEXT chunk's own
      first node — so chunk *i*>0 starts with its first node DUPLICATED and
      consecutive ways share no node.  Kept for output-compatible
      migrations; "shared" remains the default because it satisfies the
      connectivity the reference documents and tests.

    Pure array expressions — no explode/shuffle; scales linearly with rows.
    """
    if joiner not in ("shared", "duplicate_first"):
        raise ValueError(f"unknown joiner mode: {joiner}")
    n = F.size(F.col(nds_col))
    nchunks = F.when(n <= F.lit(node_limit), F.lit(1)).otherwise(
        F.ceil(n / F.lit(chunk_size)).cast("int")
    )
    chunks = F.transform(
        F.sequence(F.lit(0), nchunks - 1),
        lambda i: F.struct(
            i.alias(chunk_col),
            F.when(
                i == 0,
                F.slice(F.col(nds_col), 1, F.lit(chunk_size)),
            )
            .otherwise(
                # prepended element: 1-based index i*chunk_size is the last
                # node of the previous chunk ("shared"); i*chunk_size + 1 is
                # this chunk's own first node ("duplicate_first")
                F.concat(
                    F.slice(
                        F.col(nds_col),
                        i * F.lit(chunk_size)
                        + F.lit(1 if joiner == "duplicate_first" else 0),
                        1,
                    ),
                    F.slice(F.col(nds_col), i * F.lit(chunk_size) + 1, F.lit(chunk_size)),
                )
            )
            .alias(nds_col),
        ),
    )
    # Single-chunk ways keep the full list (slice above already handles it:
    # slice(nds, 1, chunk_size) with n<=node_limit only when n<=chunk_size).
    chunks = F.when(n <= F.lit(node_limit), F.array(F.struct(F.lit(0).alias(chunk_col), F.col(nds_col).alias(nds_col)))).otherwise(chunks)
    other = [c for c in df.columns if c != nds_col]
    return (
        df.withColumn("__chunks", chunks)
        .select(*other, F.explode("__chunks").alias("__c"))
        .select(*other, F.col(f"__c.{chunk_col}").alias(chunk_col), F.col(f"__c.{nds_col}").alias(nds_col))
    )


def cumulative_fraction(
    vertices: DataFrame,
    part_cols: list[str],
    pos_col: str = "pos",
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """Per-vertex cumulative fractional distance along each polyline.

    Adds ``ax``/``ay`` (the previous vertex, null at the first), ``seg_len``
    (distance from it), ``cum_len``, ``total_len`` and ``frac`` =
    cum_len/total_len.  Windowed prefix-sum — the Spark-native form of the
    reference's ``cumsum/total`` (``generator.py:236-244``) — and the only
    vertex window of the way operators: ``line_locate_fraction`` reads its
    rows.
    """
    w = Window.partitionBy(*part_cols).orderBy(pos_col)
    wall = Window.partitionBy(*part_cols)
    out = vertices.withColumn("ax", F.lag(x_col).over(w)).withColumn(
        "ay", F.lag(y_col).over(w)
    )
    seg = F.when(F.col("ax").isNull(), F.lit(0.0)).otherwise(
        F.sqrt(F.pow(F.col(x_col) - F.col("ax"), 2) + F.pow(F.col(y_col) - F.col("ay"), 2))
    )
    out = out.withColumn("seg_len", seg)
    out = out.withColumn(
        "cum_len", F.sum("seg_len").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    out = out.withColumn("total_len", F.sum("seg_len").over(wall))
    return out.withColumn(
        "frac",
        F.when(F.col("total_len") > 0, F.col("cum_len") / F.col("total_len")).otherwise(F.lit(0.0)),
    )


def _located(
    fractions: DataFrame, px_col: str, py_col: str, x_col: str, y_col: str
) -> DataFrame:
    """The segment rows of ``cumulative_fraction`` output (every vertex but
    the first) plus ``__frac_here``, the fraction at the probe's clamped
    projection onto the segment, and ``__d2``, the squared distance to it."""
    seg = fractions.filter(F.col("ax").isNotNull())
    dx, dy = F.col(x_col) - F.col("ax"), F.col(y_col) - F.col("ay")
    seg_len2 = dx * dx + dy * dy
    t_raw = F.when(
        seg_len2 > 0,
        ((F.col(px_col) - F.col("ax")) * dx + (F.col(py_col) - F.col("ay")) * dy) / seg_len2,
    ).otherwise(F.lit(0.0))
    t = F.least(F.greatest(t_raw, F.lit(0.0)), F.lit(1.0))
    qx = F.col("ax") + t * dx
    qy = F.col("ay") + t * dy
    d2 = F.pow(F.col(px_col) - qx, 2) + F.pow(F.col(py_col) - qy, 2)
    seg = seg.withColumn("__t", t).withColumn("__d2", d2)
    # fraction at the projected point = frac at segment start + t * seg share
    return seg.withColumn(
        "__frac_here",
        F.when(
            F.col("total_len") > 0,
            (F.col("cum_len") - F.col("seg_len") + F.col("__t") * F.col("seg_len"))
            / F.col("total_len"),
        ).otherwise(F.lit(0.0)),
    )


def _point_frac(pos_col: str) -> Column:
    """The fraction at the closest projection; ties go to the lower ``pos``."""
    return F.min_by(F.col("__frac_here"), F.struct(F.col("__d2"), F.col(pos_col))).alias(
        "point_frac"
    )


def line_locate_fraction(
    fractions: DataFrame,
    part_cols: list[str],
    px_col: str,
    py_col: str,
    pos_col: str = "pos",
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """Normalized fractional position of a point projected onto a polyline
    (``shapely project(normalized=True)`` / ST_LineLocatePoint, F7).

    Input: ``cumulative_fraction`` rows (one per vertex, with ``ax``/``ay``,
    ``seg_len``, ``cum_len`` and ``total_len``) with the probe point's
    coordinates carried on every row (``px_col``, ``py_col``); ``part_cols``
    may extend the fraction's own partition, one group per probe.  Output:
    one row per ``part_cols`` group with ``point_frac``.  Implemented as
    segment-wise clamped projection + ``min_by`` over squared distance — one
    aggregate, no window, all built-ins.
    """
    located = _located(fractions, px_col, py_col, x_col, y_col)
    return located.groupBy(*part_cols).agg(_point_frac(pos_col))


def insertion_index(
    vertices: DataFrame,
    part_cols: list[str],
    px_col: str,
    py_col: str,
    pos_col: str = "pos",
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """W2: index at which to insert the probe point into each polyline.

    The reference (``generator.py:208-255``) returns the first vertex index
    whose cumulative fractional distance exceeds the point's projected
    fraction.  Output: ``part_cols`` + ``insert_idx``.  One window pass
    (``cumulative_fraction``) and one aggregate: the projected fraction and
    the (frac, pos) list come from the same group.  The first vertex has no
    segment row, and its frac 0 never exceeds a projected fraction.
    """
    cf = cumulative_fraction(vertices, part_cols, pos_col, x_col, y_col)
    located = _located(cf, px_col, py_col, x_col, y_col).groupBy(*part_cols).agg(
        _point_frac(pos_col),
        F.collect_list(F.struct("frac", pos_col)).alias("__fp"),
    )
    past = F.filter("__fp", lambda e: e["frac"] > F.col("point_frac"))
    idx = F.array_min(F.transform(past, lambda e: e[pos_col])).cast("long")
    return located.select(*part_cols, idx.alias("insert_idx")).filter(
        F.col("insert_idx").isNotNull()
    )
