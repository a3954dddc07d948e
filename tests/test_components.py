"""Connected components (operators/components.py) against a pure-Python
union-find.

The operator's contract is cluster_id = min rid of the component, for every
vertex of the edge list; ``assign_clusters`` adds the singletons with their
own rid. Most cases fit one partition under the test session's AQE and are
exact in level 0; the ``coalescePartitions`` case keeps the edges spread
over every shuffle partition so that the boundary levels run.
"""

from __future__ import annotations

import random

import pyarrow as pa
import pytest

from biblib_spark.operators import components
from biblib_spark.operators.components import (
    _union_find,
    assign_clusters,
    connected_components,
)


def _ref_components(edges) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in list(parent)}


def _cc(spark, edges) -> dict[int, int]:
    df = spark.createDataFrame(edges, schema="a long, b long")
    rows = connected_components(df).collect()
    assert len(rows) == len({v for e in edges for v in e}), "one row per vertex"
    return {r.rid: r.cluster_id for r in rows}


def _random_edges(seed: int, n_edges: int = 2000, n_vertices: int = 3000):
    rng = random.Random(seed)
    ids = rng.sample(range(1 << 40), n_vertices)
    return [(rng.choice(ids), rng.choice(ids)) for _ in range(n_edges)]


def test_kernel_matches_reference():
    edges = _random_edges(3, n_edges=500, n_vertices=600)
    half = len(edges) // 2
    batches = [
        pa.RecordBatch.from_pydict(
            {"a": [a for a, _ in part], "b": [b for _, b in part]}
        )
        for part in (edges[:half], edges[half:])
    ]
    (out,) = list(_union_find(iter(batches)))
    got = dict(zip(out.column(0).to_pylist(), out.column(1).to_pylist()))
    assert got == _ref_components(edges)
    assert list(_union_find(iter([]))) == []


@pytest.mark.parametrize("reverse", [False, True], ids=["forward", "backward"])
def test_long_path(spark, reverse):
    edges = [(i + 1, i) if reverse else (i, i + 1) for i in range(200)]
    assert _cc(spark, edges) == {v: 0 for v in range(201)}


def test_random_graph(spark):
    edges = _random_edges(11)
    assert _cc(spark, edges) == _ref_components(edges)


@pytest.mark.parametrize("per_task", [None, 1], ids=["one-task-boundary", "halving"])
def test_random_graph_boundary_levels(spark, monkeypatch, per_task):
    """AQE coalescing off: level 0 keeps all shuffle partitions, so the
    random graph's components cross partitions and levels >= 1 run. A
    boundary this small is one partition at level 1 unless the per-task
    size is forced down, which runs the halving levels instead."""
    if per_task is not None:
        monkeypatch.setattr(components, "_BOUNDARY_PER_TASK", per_task)
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        for seed in (12, 13):
            edges = _random_edges(seed)
            assert _cc(spark, edges) == _ref_components(edges)
    finally:
        spark.conf.set(key, before)


def test_self_loops_and_duplicate_edges(spark):
    edges = [(5, 5), (7, 3), (3, 7), (7, 3), (9, 9), (9, 4), (4, 9), (8, 8)]
    got = _cc(spark, edges)
    assert got == _ref_components(edges)
    assert got == {3: 3, 4: 4, 5: 5, 7: 3, 8: 8, 9: 4}


def test_empty_edge_list(spark):
    assert _cc(spark, []) == {}


def test_rids_above_2_62(spark):
    base = 1 << 62
    edges = [(base + 9, base + 2), (base + 2, base + 5), ((1 << 63) - 1, base + 9), (base, base + 1)]
    got = _cc(spark, edges)
    assert got == _ref_components(edges)
    assert got[(1 << 63) - 1] == base + 2


def test_assign_clusters_keeps_singletons(spark):
    rids = spark.createDataFrame([(r,) for r in range(10)], schema="rid long")
    edges = spark.createDataFrame([(6, 2), (2, 8), (9, 4)], schema="a long, b long")
    got = {r.rid: r.cluster_id for r in assign_clusters(rids, edges).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 3, 4: 4, 5: 5, 6: 2, 7: 7, 8: 2, 9: 4}
