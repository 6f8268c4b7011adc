"""Connected components over candidate-pair graphs — the last stage of a
real dedup pipeline (LSH pairs → duplicate CLUSTERS → one kept doc each).

Iterative min-label propagation on DataFrames: each node adopts the
smallest label among itself and its neighbors until fixpoint.  This is the
alternating-large/small-star algorithm's simple cousin — O(diameter)
rounds, each round one shuffle keyed by node id; duplicate clusters in
practice have tiny diameter, so 2-4 rounds.  An eager fence per round
keeps lineage flat (the classic iterative-Spark requirement) and counts
the labels that moved in the same job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from changegen_spark.operators.fence import fence, fence_observed

HALVE_AFTER = 6  # one-hop rounds before path-halving engages (≥ the
# deepest measured production graph, so the common case never pays the
# extra labels self-join)


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 20,
    stats: dict | None = None,
) -> DataFrame:
    """(node, component) for every node in the edge list; component = min
    node id of the connected component.  ``stats``, if given, receives
    {"rounds": n} — the rounds executed (including, when the budget ran
    out exactly at fixpoint, the verification round that proved it).

    r11: rounds 1..{HALVE_AFTER} are plain one-hop min propagation (the
    r5-r10 shape — optimal for the measured ER/dedup graphs, diameter
    ≤ {HALVE_AFTER}, which converge before the switch and pay zero extra
    cost by construction: the per-round plan is identical below the gate,
    and an idle A/B probe reads parity — 3.3 s adaptive vs 3.9 s old on
    q_dedup_clusters one-off sessions); from round {HALVE_AFTER}+1
    each round ADDS path-halving (comp ← comp's comp, one labels-sized
    self-join), so label reach roughly doubles per round and
    convergence is O(log diameter) — a 5,000-node path graph converges
    in 16 rounds where the one-hop version needed 5,000 and, worse,
    SILENTLY returned split clusters when max_iter ran out (deep
    components are realistic at crawl scale: a versioned-page near-dup
    chain is exactly a path graph).  Non-convergence RAISES instead of
    corrupting downstream survivorship; with halving, max_iter=20
    covers diameter ~2^(20-{HALVE_AFTER}).

    r12 (advice): a fixpoint is only OBSERVABLE one round after it is
    reached (the round that moves the last label cannot know it was the
    last), so when round max_iter itself still moved labels one extra
    VERIFICATION-ONLY round runs before raising — a graph whose
    convergence lands exactly on the budget returns correct labels
    instead of a spurious RuntimeError; only a genuinely still-moving
    graph raises.
    """

    def _step(labels: DataFrame, halve: bool) -> tuple[DataFrame, int]:
        """One propagation round: returns (fenced new labels as
        (node, comp), labels moved this round)."""
        # sym carries a self-loop per node, so one join and one aggregate
        # give the min over the node and its neighbours (scomp) and the
        # node's own label (ocomp) — no second join back onto labels
        stepped = (
            sym.join(labels, sym.b == labels.node)
            .groupBy("a")
            .agg(
                F.min("comp").alias("scomp"),
                F.min(F.when(F.col("a") == F.col("b"), F.col("comp"))).alias("ocomp"),
            )
            .select(
                F.col("a").alias("node"),
                "scomp",
                (F.col("scomp") < F.col("ocomp")).alias("smoved"),
            )
        )
        if halve:
            # path-halving: comp ← comp's own label.  Every comp value
            # IS a node (it's a min over node ids), so the self-join
            # always hits; the coalesce is for the final fixpoint where
            # comp maps to itself.  Engaged only once the round count
            # says the graph is deep — shallow graphs converge above
            # and never pay this join.  Fence BEFORE the self-join
            # (r12 advice): joining the un-materialized plan with itself
            # executed the one-hop join twice per halving round.
            stepped = stepped.transform(fence, "connected_components halving")
            ptr = stepped.select(
                F.col("node").alias("pnode"), F.col("scomp").alias("pcomp")
            )
            stepped = stepped.join(
                ptr, stepped.scomp == ptr.pnode, "left"
            ).select(
                "node",
                F.coalesce(F.col("pcomp"), F.col("scomp")).alias("scomp2"),
                (
                    F.col("smoved")
                    | (
                        F.coalesce(F.col("pcomp"), F.col("scomp"))
                        < F.col("scomp")
                    )
                ).alias("smoved2"),
            ).select(
                "node",
                F.col("scomp2").alias("scomp"),
                F.col("smoved2").alias("smoved"),
            )
        # the round's fence job counts the moved labels itself: no new×old
        # join and no second count job per round
        new_labels, seen = fence_observed(
            stepped, "connected_components round", moved=F.count_if("smoved")
        )
        return new_labels.select("node", F.col("scomp").alias("comp")), seen["moved"]

    # materialize the symmetric edge list, with a self-loop per node, ONCE,
    # then derive nodes from the fenced rows — the r5 shape; deriving nodes
    # from `edges` re-ran the full upstream candidate plan (LSH signatures +
    # band join) a second time before the loop even started
    ab = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    sym = (
        ab.unionByName(ab.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .unionByName(ab.select("a", F.col("a").alias("b")))
        .unionByName(ab.select(F.col("b").alias("a"), "b"))
        .distinct()
        .transform(fence, "connected_components edges")
    )
    # sym holds both directions, so column `a` alone covers every node
    labels = sym.select(F.col("a").alias("node")).distinct().withColumn(
        "comp", F.col("node")
    )
    rounds = 0
    changed = 0
    for _ in range(max_iter):
        rounds += 1
        labels, changed = _step(labels, halve=rounds > HALVE_AFTER)
        if changed == 0:
            break
    if changed != 0:
        # the budgeted rounds ended mid-motion — but the LAST allowed
        # round may have been the one that completed convergence (a
        # fixpoint is only verifiable one round later).  One extra
        # verification round settles it; its labels equal the input's
        # when it confirms convergence, so returning them is exact.
        rounds += 1
        labels, changed = _step(labels, halve=rounds > HALVE_AFTER)
        if changed != 0:
            raise RuntimeError(
                f"connected_components did not converge in {max_iter} rounds "
                f"(component diameter > ~2^{max_iter}); {changed} labels "
                "still moving — refusing to return silently split clusters"
            )
    if stats is not None:
        stats["rounds"] = rounds
    return labels.select("node", "comp")


# render the {HALVE_AFTER} placeholders (an f-string literal would not be
# stored as __doc__, so substitute post-hoc; guard for python -OO, where
# docstrings are stripped and __doc__ is None)
if connected_components.__doc__:
    connected_components.__doc__ = connected_components.__doc__.replace(
        "{HALVE_AFTER}", str(HALVE_AFTER)
    )


def dedup_keep_list(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Full dedup decision: cluster candidate pairs, keep the min-id doc of
    each cluster, pass through unpaired docs.  Output: (doc_id, cluster,
    keep)."""
    comp = connected_components(pairs)
    out = docs.select(F.col(id_col).alias("doc_id")).join(
        comp, F.col("doc_id") == comp.node, "left"
    )
    cluster = F.coalesce(F.col("comp"), F.col("doc_id"))
    return out.select(
        "doc_id",
        cluster.alias("cluster"),
        (F.col("doc_id") == cluster).alias("keep"),
    )
