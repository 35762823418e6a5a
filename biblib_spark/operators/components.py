"""Connected components over the verified duplicate-pair edge list (C6).

Replaces the reference's greedy star grouping (src/dedupe.rs:592-655). The
reference predicate is symmetric, so every reference co-group pair lies in
one connected component: CC reproduces 100% of reference dup-pairs (recall
1.0 >= 0.99); CC may merge additional near-pairs, which the stated metric
(dup-pair recall) does not penalize — SURVEY.md §2.8 C6.

Algorithm: level-wise partition-local union-find (BTS, ICDE 2024). One
*level* is one pass over an edge list:

1. every edge partition runs a numpy union-find over its own edges and emits
   ``(rid, root)`` for each vertex it holds, ``root`` being the min rid of
   the vertex's component *within that partition*;
2. one ``groupBy("rid")`` gives ``label = min(root)`` and the set of roots,
   materialized by one eager ``localCheckpoint``. The same action fills an
   ``Observation`` with ``cross = sum(size(roots) - 1)``.

``cross == 0`` is the fixpoint proof: no vertex joins two partitions'
components with different roots, so every edge's endpoints share one root,
the root is constant over each global component and, since the component's
min rid is its own root everywhere, equals that min rid. Otherwise the
contracted graph ``(label, root)``, ``root != label``, links exactly the
local components that share a vertex; the next level solves it, and each
vertex takes ``coalesce(next level's cluster_id of its label, label)``.
Only ``cross == 0`` versus ``> 0`` is read, so a speculative or retried
task counted twice cannot change the decision. ``max_iter`` bounds levels.

A level costs one Python pass, one shuffle and one checkpoint — no
``collect()`` and no per-round join. Partition-local union-find finishes a
component held by one partition in one level; later levels only see the
contracted cross-partition graph, which after the first aggregation is
small enough for AQE to coalesce into few partitions.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

_FOREST_SCHEMA = pa.schema([("rid", pa.int64()), ("root", pa.int64())])


def _local_forest(batches):
    """mapInArrow body: union-find over one partition's (a, b) edges ->
    (rid, root) per vertex, root = min rid of its local component."""
    batches = list(batches)
    if not batches:
        return
    edges = pa.Table.from_batches(batches)
    a, b = edges.column(0).to_numpy(), edges.column(1).to_numpy()
    # vertices sorted ascending, so the min index of a set is its min rid
    verts, idx = np.unique(np.concatenate([a, b]), return_inverse=True)
    ia, ib = idx[: len(a)], idx[len(a) :]
    parent = np.arange(len(verts))
    while True:
        ra, rb = parent[ia], parent[ib]
        if np.array_equal(ra, rb):
            break
        # hook every larger root under the smallest root it shares an edge with
        np.minimum.at(parent, np.maximum(ra, rb), np.minimum(ra, rb))
        # pointer jumping until every vertex points at its root
        while True:
            up = parent[parent]
            if np.array_equal(up, parent):
                break
            parent = up
    yield pa.RecordBatch.from_arrays(
        [pa.array(verts), pa.array(verts[parent])], schema=_FOREST_SCHEMA
    )


def connected_components(edges: DataFrame, max_iter: int = 25) -> DataFrame:
    """Edges (a, b) -> (rid, cluster_id) for every vertex in the edge list.

    cluster_id = min rid of the component. Raises RuntimeError when the
    contracted graph is still non-empty after ``max_iter`` levels.
    """
    cur = edges.select(F.col("a").cast("long"), F.col("b").cast("long"))
    levels = []
    for _ in range(max_iter):
        obs = Observation()
        lvl = (
            cur.mapInArrow(_local_forest, "rid long, root long")
            .groupBy("rid")
            .agg(F.min("root").alias("label"), F.collect_set("root").alias("roots"))
            .observe(obs, F.sum(F.size("roots") - 1).alias("cross"))
            .localCheckpoint(eager=True)
        )
        levels.append(lvl.select("rid", "label"))
        if not obs.get["cross"]:
            break
        cur = lvl.select(
            F.col("label").alias("a"), F.explode("roots").alias("b")
        ).filter("a != b")
    else:
        # labels of an unfinished level would split components silently
        raise RuntimeError(
            f"connected_components: no fixpoint within max_iter={max_iter} "
            "levels (the contracted cross-partition graph is still non-empty)"
        )

    out = levels.pop().select("rid", F.col("label").alias("cluster_id"))
    for lvl in reversed(levels):
        out = lvl.join(
            out.withColumnRenamed("rid", "label"), "label", "left"
        ).select("rid", F.coalesce("cluster_id", "label").alias("cluster_id"))
    return out


def assign_clusters(all_rids: DataFrame, edges: DataFrame) -> DataFrame:
    """(rid, ...) x edges -> (rid, ..., cluster_id): every column of
    ``all_rids`` is kept; singletons keep their own rid (M11)."""
    cc = connected_components(edges)
    return (
        all_rids.join(cc, "rid", "left")
        .withColumn("cluster_id", F.coalesce("cluster_id", F.col("rid")))
    )
