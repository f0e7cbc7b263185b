"""The co-activity graph primitive (operators/graph.py) on a hand-built
graph: a path 0-1-2, a triangle 3-4-5 and an isolated vertex 6, with the
state frame spread over several partitions in shuffled order."""

from __future__ import annotations

import random
from collections import deque

import pytest

NBRS = {0: [1], 1: [0, 2], 2: [1], 3: [4, 5], 4: [3, 5], 5: [3, 4], 6: []}


@pytest.fixture(scope="module")
def adj(spark):
    rows = [(i, 100 + i, ns, len(ns)) for i, ns in NBRS.items()]
    return spark.createDataFrame(
        rows, "i int, user_id long, nbrs array<int>, deg int"
    )


def _shuffled(spark, rows, schema):
    rows = list(rows)
    random.Random(7).shuffle(rows)
    return spark.createDataFrame(rows, schema).repartition(3)


def _python_bfs(src):
    dist = {src: 0}
    todo = deque([src])
    while todo:
        u = todo.popleft()
        for v in NBRS[u]:
            if v not in dist:
                dist[v] = dist[u] + 1
                todo.append(v)
    return {i: dist.get(i, -1) for i in NBRS}


def test_vertex_array_puts_vertex_i_at_i_plus_1(spark):
    from move_forecast_ind_spark.operators.graph import vertex_array

    state = _shuffled(spark, [(i, 10 * i) for i in NBRS], "i int, x long")
    assert state.rdd.getNumPartitions() == 3
    arr = state.agg(vertex_array("x * 2", "arr")).first().arr
    assert arr == [20 * i for i in sorted(NBRS)]


@pytest.mark.parametrize("src", sorted(NBRS))
def test_iterate_bfs_step_matches_python_bfs(spark, adj, src):
    """Source 6 is the isolated vertex: it keeps distance 0 and reaches
    nothing; from any other source it keeps -1."""
    from move_forecast_ind_spark.operators.graph import iterate, vertex_array
    from move_forecast_ind_spark.queries.analytics import _bfs_step

    state = _shuffled(
        spark,
        [(i, 100 + i, 0 if i == src else -1) for i in NBRS],
        "i int, user_id long, dist int",
    )
    out = iterate(adj, state, [vertex_array("dist", "darr")], _bfs_step, 3)
    got = {r.i: r.dist for r in out.collect()}
    assert got == _python_bfs(src)
