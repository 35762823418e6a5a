"""Connected components over the verified duplicate-pair edge list (C6).

Replaces the reference's greedy star grouping (src/dedupe.rs:592-655). The
reference predicate is symmetric, so every reference co-group pair lies in
one connected component: CC reproduces 100% of reference dup-pairs (recall
1.0 >= 0.99); CC may merge additional near-pairs, which the stated metric
(dup-pair recall) does not penalize — SURVEY.md §2.8 C6.

Algorithm: iterative min-label propagation. label(v) starts at v; each round
label(v) := min(label(v), min over neighbors). Labels are monotonically
non-increasing and bounded, so the global sum of labels is a convergence
certificate: one cheap agg per round, no change-count join. Rounds ~ cluster
diameter; duplicate clusters are star/clique shaped (diameter <= ~3).
``localCheckpoint`` per round truncates lineage (SURVEY.md §4).

Job-count discipline (the loop's cost at scale is scheduling + checkpoint
latency, not compute): round 1 is FREE — folded into the label-init
aggregation (label0(v) = min(v, min neighbor) instead of distinct-vertices),
and convergence is checked after every round, so a diameter-2 component
(every star, most cliques) finishes with init + one confirm round where the
round-1 code paid a distinct + four propagation rounds + two certificates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(edges: DataFrame, max_iter: int = 25) -> DataFrame:
    """Edges (a, b) -> (rid, cluster_id) for every vertex in the edge list.

    cluster_id = min rid of the component. Raises RuntimeError when the
    labels have not reached a fixpoint after ``max_iter`` rounds.
    """
    sym = edges.select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    ).unionByName(edges.select(F.col("b").alias("src"), F.col("a").alias("dst")))
    sym = sym.localCheckpoint(eager=True)

    def _cert(lbl):
        # decimal(38,0) sum: rids reach ~2^63 at 10^12-record scale, where a
        # LongType sum would wrap silently (non-ANSI) and could fake a fixpoint
        return lbl.agg(
            F.sum(F.col("label").cast("decimal(38,0)"))
        ).collect()[0][0]

    # label init IS propagation round 1: every vertex appears as src (both
    # edge directions are present), so min(self, min neighbor) needs only the
    # one aggregation shuffle the vertex-distinct would have cost anyway
    labels = (
        sym.groupBy("src")
        .agg(F.min("dst").alias("_mn"))
        .select(F.col("src").alias("rid"), F.least("src", "_mn").alias("label"))
        .localCheckpoint(eager=True)
    )
    prev_sum = _cert(labels)

    def one_round(lbl):
        # each vertex receives its neighbors' current labels
        msgs = sym.join(lbl, sym["dst"] == lbl["rid"]).select(
            F.col("src").alias("rid"), "label"
        )
        return (
            lbl.select("rid", "label")
            .unionByName(msgs)
            .groupBy("rid")
            .agg(F.min("label").alias("label"))
        )

    for _ in range(max_iter):
        labels = one_round(labels).localCheckpoint(eager=True)
        cur_sum = _cert(labels)
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    else:
        # labels short of the fixpoint would split components silently
        raise RuntimeError(
            f"connected_components: no fixpoint within max_iter={max_iter} "
            "rounds (a component's diameter exceeds it)"
        )

    return labels.select("rid", F.col("label").alias("cluster_id"))


def assign_clusters(all_rids: DataFrame, edges: DataFrame) -> DataFrame:
    """(rid) x edges -> (rid, cluster_id); singletons keep their own rid (M11)."""
    cc = connected_components(edges)
    return (
        all_rids.join(cc, "rid", "left")
        .withColumn("cluster_id", F.coalesce("cluster_id", F.col("rid")))
    )
