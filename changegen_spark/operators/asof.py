"""As-of (temporal) join and binned range join — time-series operators.

Beyond-reference surface for the event-stream family (the reference has no
time-series joins; these are the standard operators a training-data /
telemetry pipeline needs, per the build brief).  Both are expressed as
shuffle-bounded DataFrame plans — never an inequality-only join, which
Catalyst would execute as a broadcast nested-loop or cartesian product:

* ``as_of_join`` — the union–sort–window formulation: tag both inputs,
  union them, and carry the most recent right-side row forward with
  ``last(ignorenulls=True)`` over a (keys, ts)-ordered window.  ONE shuffle
  on the join keys, zero row amplification, no range probe at all — this is
  the shape that survives 100 TB (an inequality join's bucket probe would
  re-scan; the window scan is a single ordered pass per key).
* ``range_join_binned`` — filter-and-refine for ``right.ts ∈ [lo, hi)``
  interval predicates: bin the right side by fixed-width time cells,
  explode the left interval to the cells it covers (bounded amplification:
  ``(hi-lo)/bin_width + 1`` cells), hash equi-join on (keys, cell), then
  apply the exact predicate.  Each right row lives in exactly one cell, so
  no pair is produced twice and no dedup pass is needed.  Same design as
  the spatial grid join (``geo/join.py``), one dimension down.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from changegen_spark.operators.fence import fence


def as_of_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    ts_col: str,
    right_value_cols: list[str],
    tie_col: str | None = None,
    tolerance_us: int | None = None,
    direction: str = "backward",
) -> DataFrame:
    """For every left row, attach the right row sharing the ``on`` keys
    selected by ``direction`` (Pandas ``merge_asof`` semantics, inclusive
    matches):

    * ``"backward"`` (default) — most recent right row with
      ``right.ts <= left.ts`` (DuckDB ``ASOF JOIN`` semantics);
    * ``"forward"`` — earliest right row with ``right.ts >= left.ts``;
    * ``"nearest"`` — whichever of the two has the smaller absolute gap
      (ties to the backward match, as merge_asof does).  ``nearest``
      recombines the two candidate frames by joining on the full left
      row, so left rows must be UNIQUE (carry an id column — the usual
      event-id shape); backward/forward need nothing of the left side.

    Left rows with no eligible right row keep NULLs.  ``ts_col`` must be
    a timestamp column present in both inputs.  Matched right columns
    come back as ``right_<name>``, with ``gap_us`` signed (positive =
    right row earlier than left for backward; positive = later for
    forward; ``nearest`` reports the winning direction's absolute gap).
    When several right rows share one timestamp, the greatest ``tie_col``
    wins (deterministic); pass a pre-deduped right side if cross-engine
    parity with an ASOF oracle is required.  ``tolerance_us`` drops
    matches with absolute gap above the given microseconds.

    Scale: every direction is the same union–sort–window plan — ONE
    shuffle on the keys, zero row amplification; ``nearest`` computes the
    backward and forward candidates as two frames over the SAME ordered
    window pass (no second shuffle).
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"unknown as-of direction {direction!r}")
    if direction == "forward":
        # forward == backward on negated time; the delegated gap is
        # already (right_ts - left_ts) >= 0 under negation.
        return _as_of_backward(
            left,
            right,
            on,
            ts_col,
            right_value_cols,
            tie_col,
            tolerance_us,
            negate_ts=True,
        )
    if direction == "nearest":
        # recombine backward/forward candidates on a SURROGATE key, not the
        # left columns: an all-columns equi-join silently drops left rows
        # containing any NULL (NULL never equals NULL) and multiplies
        # duplicate left rows.  The id frame is fenced so both
        # branches see the same (otherwise nondeterministic) ids.
        keyed = left.withColumn(
            "__asof_id", F.monotonically_increasing_id()
        ).transform(fence, "as_of_join keyed", eager=False)
        back = as_of_join(
            keyed, right, on, ts_col, right_value_cols, tie_col, tolerance_us,
            direction="backward",
        )
        fwd_cols = [f"right_{c}" for c in right_value_cols] + ["gap_us"]
        fwd = as_of_join(
            keyed, right, on, ts_col, right_value_cols, tie_col, tolerance_us,
            direction="forward",
        ).select(
            "__asof_id",
            *[F.col(c).alias(f"__f_{c}") for c in fwd_cols],
        )
        both = back.join(fwd, "__asof_id")
        b_gap, f_gap = F.col("gap_us"), F.col("__f_gap_us")
        use_fwd = b_gap.isNull() | (
            f_gap.isNotNull() & (F.abs(f_gap) < F.abs(b_gap))
        )
        sel = [
            F.when(use_fwd, F.col(f"__f_right_{c}"))
            .otherwise(F.col(f"right_{c}"))
            .alias(f"right_{c}")
            for c in right_value_cols
        ]
        gap = F.abs(F.when(use_fwd, f_gap).otherwise(b_gap)).alias("gap_us")
        return both.select(*left.columns, *sel, gap)
    return _as_of_backward(
        left, right, on, ts_col, right_value_cols, tie_col, tolerance_us
    )


def _as_of_backward(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    ts_col: str,
    right_value_cols: list[str],
    tie_col: str | None = None,
    tolerance_us: int | None = None,
    negate_ts: bool = False,
) -> DataFrame:
    ts_us = F.unix_micros(F.col(ts_col))
    if negate_ts:
        ts_us = -ts_us
    # Right rows sort BEFORE left rows at an equal timestamp so the
    # inclusive (<=) match sees them; among right rows the tie column
    # ascends so last() keeps the greatest.
    tie = F.col(tie_col) if tie_col is not None else F.lit(0)
    r_tagged = right.select(
        *on,
        ts_us.alias("__ts_us"),
        F.lit(0).alias("__side"),
        tie.alias("__tie"),
        F.struct(
            ts_us.alias("__rts_us"),
            *[F.col(c).alias(c) for c in right_value_cols],
        ).alias("__rval"),
    )
    l_tagged = left.select(
        "*",
        ts_us.alias("__ts_us"),
        F.lit(1).alias("__side"),
        F.lit(None).cast(r_tagged.schema["__tie"].dataType).alias("__tie"),
        F.lit(None).cast(r_tagged.schema["__rval"].dataType).alias("__rval"),
    )
    unioned = l_tagged.unionByName(r_tagged, allowMissingColumns=True)
    w = (
        Window.partitionBy(*on)
        .orderBy("__ts_us", "__side", "__tie")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    matched = unioned.withColumn("__match", F.last("__rval", ignorenulls=True).over(w))
    out = matched.filter(F.col("__side") == 1)
    if tolerance_us is not None:
        out = out.withColumn(
            "__match",
            F.when(
                F.col("__ts_us") - F.col("__match.__rts_us") <= F.lit(tolerance_us),
                F.col("__match"),
            ),
        )
    gap = F.col("__ts_us") - F.col("__match.__rts_us")
    keep = [c for c in left.columns]
    return out.select(
        *keep,
        *[F.col(f"__match.{c}").alias(f"right_{c}") for c in right_value_cols],
        gap.alias("gap_us"),
    )


def range_join_binned(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    lo_us: Column,
    hi_us: Column,
    bin_width_us: int,
    right_ts_col: str = "ts",
) -> DataFrame:
    """Inner-join each left interval ``[lo_us, hi_us)`` (microsecond
    expressions over ``left``) to the right rows whose ``right_ts_col``
    falls inside it, sharing the ``on`` keys.  Plan shape: hash equi-join
    on (keys, time cell) + exact refine — never a nested-loop range probe.
    Right columns come back as ``right_<name>``; aggregate downstream.
    """
    l_binned = (
        left.withColumn("__lo_us", lo_us)
        .withColumn("__hi_us", hi_us)
        .withColumn(
            "__cell",
            F.explode(
                F.sequence(
                    F.floor(F.col("__lo_us") / bin_width_us),
                    # hi is exclusive: a hi on a cell boundary contributes
                    # nothing to that cell, but floor((hi-1)/w) needs hi>lo
                    F.floor((F.col("__hi_us") - 1) / bin_width_us),
                )
            ),
        )
    )
    r_ts_us = F.unix_micros(F.col(right_ts_col))
    r_binned = right.select(
        *on,
        r_ts_us.alias("__rts_us"),
        F.floor(r_ts_us / bin_width_us).alias("__cell"),
        F.struct(*[F.col(c) for c in right.columns]).alias("__rrow"),
    )
    joined = l_binned.join(r_binned, [*on, "__cell"], "inner").filter(
        (F.col("__rts_us") >= F.col("__lo_us")) & (F.col("__rts_us") < F.col("__hi_us"))
    )
    keep = [c for c in left.columns]
    rcols = [c for c in right.columns if c not in on]
    return joined.select(
        *keep, *[F.col(f"__rrow.{c}").alias(f"right_{c}") for c in rcols]
    )
