"""Connected components over the verified duplicate-pair edge list (C6).

Replaces the reference's greedy star grouping (src/dedupe.rs:592-655). The
reference predicate is symmetric, so every reference co-group pair lies in
one connected component: CC reproduces 100% of reference dup-pairs (recall
1.0 >= 0.99); CC may merge additional near-pairs, which the stated metric
(dup-pair recall) does not penalize — SURVEY.md §2.8 C6.

Algorithm: contraction levels of partition-local union-find (after *BTS:
Load-Balanced Distributed Union-Find*, ICDE 2024). Each level hash-partitions
its edges by ``a``, runs one vectorized union-find per partition
(``_union_find``: label = min rid of the vertex's local component), and
groups by ``rid``. A vertex whose edges landed in several partitions carries
several labels; those boundary vertices link their labels, and the label
graph is the next level's edge list. Each level's labels are composed back
onto the vertices with a left join. One ``localCheckpoint`` per level is its
only action; a ``DataFrame.observe`` counts the boundary inside it.

Level 0 lets AQE coalesce the partitions by bytes, so a small edge list is
one partition and exact in one level. (AQE favours parallelism: 150k
flagship-like edges still spread over several partitions on 4 cores.) Level
``k >= 1`` uses at most ``shuffle.partitions >> k`` partitions, so the last
level is one partition and exact: the loop ends in at most ``bit_length``
levels. The boundary count sizes the next level, and a boundary below
``_BOUNDARY_PER_TASK`` vertices is one partition, which makes two levels the
bound for such inputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

_LABELS = "rid long, label long"
# boundary vertices one union-find task takes at levels >= 1: a boundary
# below this is one partition, so its level is exact and the last
_BOUNDARY_PER_TASK = 1 << 20


def _union_find(batches):
    """mapInArrow kernel: one partition's (a, b) edges -> (rid, label) for
    every vertex in them, label = min rid of its component in this partition.

    Hook-and-jump over dense vertex indices: each round every edge hooks the
    larger of its two roots onto the smaller, then pointer jumping flattens
    every tree onto its root. Parents only decrease, so each root is the min
    index — the min rid, since ``np.unique`` sorts — of its tree.
    """
    import numpy as np
    import pyarrow as pa

    batches = list(batches)
    if not batches:
        return
    a = np.concatenate([batch.column(0).to_numpy() for batch in batches])
    b = np.concatenate([batch.column(1).to_numpy() for batch in batches])
    rids, ends = np.unique(np.concatenate([a, b]), return_inverse=True)
    ia, ib = ends[: a.size], ends[a.size :]
    parent = np.arange(rids.size)
    while True:
        ra, rb = parent[ia], parent[ib]
        open_ = ra != rb
        if not open_.any():
            break
        # an edge inside one tree stays inside it: drop it for good
        ia, ib, ra, rb = ia[open_], ib[open_], ra[open_], rb[open_]
        np.minimum.at(parent, np.maximum(ra, rb), np.minimum(ra, rb))
        while True:
            grand = parent[parent]
            if np.array_equal(grand, parent):
                break
            parent = grand
    yield pa.RecordBatch.from_arrays(
        [pa.array(rids), pa.array(rids[parent])], names=["rid", "label"]
    )


def connected_components(edges: DataFrame) -> DataFrame:
    """Edges (a, b) -> (rid, cluster_id) for every vertex in the edge list.

    cluster_id = min rid of the component.
    """
    parts = int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    level_edges = edges.select(F.col("a").cast("long"), F.col("b").cast("long"))
    labels, n_boundary = None, 0
    for level in range(parts.bit_length()):
        spread = (
            level_edges.repartition("a")
            if level == 0
            else level_edges.repartition(
                max(1, min(parts >> level, n_boundary // _BOUNDARY_PER_TASK)), "a"
            )
        )
        boundary = Observation()
        per_vertex = (
            spread.mapInArrow(_union_find, _LABELS)
            .groupBy("rid")
            .agg(F.min("label").alias("label"), F.collect_set("label").alias("labels"))
            .observe(boundary, F.count(F.when(F.size("labels") > 1, 1)).alias("n"))
            .localCheckpoint(eager=True)
        )
        if labels is None:
            labels = per_vertex.select("rid", "label")
        else:
            up = per_vertex.select(F.col("rid").alias("label"), F.col("label").alias("_up"))
            labels = labels.join(up, "label", "left").select(
                "rid", F.coalesce("_up", "label").alias("label")
            )
        n_boundary = boundary.get["n"]
        if n_boundary == 0:
            return labels.select("rid", F.col("label").alias("cluster_id"))
        level_edges = per_vertex.filter(F.size("labels") > 1).select(
            F.col("label").alias("a"), F.explode("labels").alias("b")
        )
    raise RuntimeError(
        f"connected_components: boundary left after the one-partition level "
        f"{parts.bit_length() - 1}"
    )


def assign_clusters(all_rids: DataFrame, edges: DataFrame) -> DataFrame:
    """(rid) x edges -> (rid, cluster_id); singletons keep their own rid (M11)."""
    cc = connected_components(edges)
    return (
        all_rids.join(cc, "rid", "left")
        .withColumn("cluster_id", F.coalesce("cluster_id", F.col("rid")))
    )
