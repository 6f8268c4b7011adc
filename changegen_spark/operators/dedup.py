"""Dedup operators (SURVEY §2.4 A3/A7 + the large-scale dedup family).

Changegen parity:
  * A3 grid dedup of nodes, last-wins at 6-decimal precision
    (``changegen/generator.py:137-142``, precision ``generator.py:31``).
  * A7 set-dedup of deletion elements (``generator.py:911-923``).

Scale-first design: every dedup here is a hash-partitioned ``groupBy`` with
map-side partial aggregation — no driver-side sets.  Near-dup variants
(MinHash/SimHash/Jaccard/embedding) live in ``changegen_spark.functions``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

COORDINATE_PRECISION = 6  # changegen/generator.py:31


def grid_dedup_points(
    df: DataFrame,
    x_col: str = "lon",
    y_col: str = "lat",
    order_col: str | None = None,
    precision: int = COORDINATE_PRECISION,
) -> DataFrame:
    """A3: collapse points equal at ``precision`` decimals; last-wins.

    The reference's dict insert makes the *last* inserted point win; dict
    order there is scan order, which we reproduce deterministically with
    ``max_by`` over an explicit ``order_col`` (SURVEY §2.4 note: prefer an
    explicit ordering over nondeterministic ``last()``).
    """
    gx = F.round(F.col(x_col), precision).alias("__gx")
    gy = F.round(F.col(y_col), precision).alias("__gy")
    if order_col is None:
        order_col = df.columns[0]
    payload = F.struct(*[F.col(c) for c in df.columns])
    out = (
        df.select(gx, gy, F.col(order_col).alias("__ord"), payload.alias("__row"))
        .groupBy("__gx", "__gy")
        .agg(F.max_by("__row", F.col("__ord")).alias("__row"))
        .select("__row.*")
    )
    return out
