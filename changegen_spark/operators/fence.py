"""One fence: the only place in the package that materializes a frame.

A fence cuts a plan at a frame so that every consumer reads one
materialization of it instead of re-running its lineage.  That is a cost
decision (a subtree read twice, an iterative loop whose plan would grow
every round) and sometimes a correctness one: a frame whose partitioning
is drawn at execution time (``repartitionByRange`` samples its boundaries
afresh per execution) must be fenced before two consumers read it, or they
see two different partitionings (see ``operators/ids.py``).

Chain it like any other transform::

    edges = edges.transform(fence, "pagerank edges", eager=False)

**Eager or lazy.**  An eager fence (the default) runs the frame's jobs at
the call and returns a frame over the stored rows.  A lazy fence
(``eager=False``) defers the last stage: the first job that reads the
frame stores the rows, and later reads reuse them.  The call itself still
plans the frame, and under adaptive execution planning runs every shuffle
stage below the last, so a lazy fence over an exchange starts those jobs
at the call; over a narrow plan it starts none.  Use lazy only when the
frame has exactly one plan-phase consumer, the job that will read it
first (SCALE.md, r2/r3): with two, each may compute the last stage, and
nothing is saved.  Use eager when the driver needs the frame's rows or
counts before it builds the next plan (an iterative round), or when
several jobs read the frame.

**Labels and counts.**  Every job the call starts carries ``name`` as its
``spark.job.description``, set on the calling thread (pool threads
included); the caller's value is restored afterwards.  The job that
completes a lazy fence belongs to its reader and keeps the reader's label.
``fence_observed`` returns aggregates over the fenced rows, computed by the
fence's own job, so a caller never runs a second ``count()`` over a frame
it just fenced.

**Caveat.**  The rows are stored executor-local (``localCheckpoint``) and
the lineage is dropped: if an executor holding fenced blocks is lost, a
later read fails instead of recomputing them.  A reliable ``checkpoint()``
would survive that but needs a checkpoint directory; no such policy is
applied here.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame, Observation

_DESCRIPTION = "spark.job.description"


def fence(df: DataFrame, name: str, eager: bool = True) -> DataFrame:
    """``df`` materialized behind a fence; see the module docstring."""
    sc = df.sparkSession.sparkContext
    prev = sc.getLocalProperty(_DESCRIPTION)
    sc.setLocalProperty(_DESCRIPTION, name)
    try:
        return df.localCheckpoint(eager=eager)
    finally:
        sc.setLocalProperty(_DESCRIPTION, prev)


def fence_observed(
    df: DataFrame, name: str, **aggs: Column
) -> tuple[DataFrame, dict[str, Any]]:
    """An eager ``fence`` plus ``{key: value}`` of each aggregate in ``aggs``
    over the fenced rows, read from the fence's own job::

        labels, seen = fence_observed(labels, "cc round", moved=F.count_if("moved"))
    """
    obs = Observation()
    out = fence(df.observe(obs, *[c.alias(k) for k, c in aggs.items()]), name)
    return out, obs.get
