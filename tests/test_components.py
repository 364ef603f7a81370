"""Connected components (operators/components.py): min-label propagation
must match a driver-side union-find on adversarial shapes — long paths
(worst-case diameter), cliques, singleton-free edge lists — and the
cluster-assignment wrapper must produce canonical min-id labels."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from seo_audit_etl_actor_spark.operators.components import (
    connected_components,
    near_dup_cluster_assignments,
)


def _uf_components(edges):
    parent = {}

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
    return {v: find(v) for v in parent}


@pytest.mark.parametrize(
    "edges",
    [
        # long path: diameter 19 forces multiple propagation rounds
        [(i, i + 1) for i in range(20)],
        # two cliques + a bridge + an isolated pair
        [(a, b) for a in range(5) for b in range(a + 1, 5)]
        + [(a, b) for a in range(10, 14) for b in range(a + 1, 14)]
        + [(4, 10), (100, 101)],
        # star with high-degree hub
        [(0, i) for i in range(1, 30)],
        # reversed-id path (canonical label must still be the min)
        [(i + 1, i) for i in range(30, 50)],
    ],
)
def test_matches_union_find(spark, edges):
    df = spark.createDataFrame(edges, "id_a: long, id_b: long")
    got = {r["vertex"]: r["component"] for r in connected_components(df).collect()}
    assert got == _uf_components(edges)


def test_cluster_assignments_shape(spark):
    edges = [(1, 2), (2, 3), (10, 11)]
    out = near_dup_cluster_assignments(spark.createDataFrame(edges, "id_a: long, id_b: long"))
    rows = [(r["doc_id"], r["cluster_id"], r["cluster_size"]) for r in out.collect()]
    assert rows == [(1, 1, 3), (2, 1, 3), (3, 1, 3), (10, 10, 2), (11, 10, 2)]


def test_empty_edge_set_converges_immediately(spark):
    """r13: convergence is a label-sum comparison (monotone non-increasing
    labels), and the fused first round detects the empty graph via a NULL
    sum — the loop must return an empty labeling in ONE round instead of
    raising or spinning."""
    df = spark.createDataFrame([], "id_a: long, id_b: long")
    assert connected_components(df, max_iter=1).collect() == []


def test_single_edge_converges_with_two_rounds_budget(spark):
    """A 1-edge graph is a fixpoint after round 1; the sum check detects
    it in round 2 — max_iter=2 IS the round-count assertion (the function
    raises at max_iter)."""
    df = spark.createDataFrame([(7, 3)], "id_a: long, id_b: long")
    got = {r["vertex"]: r["component"] for r in connected_components(df, max_iter=2).collect()}
    assert got == {3: 3, 7: 3}


def test_non_integral_ids_raise_with_ansi_off(spark):
    """With ANSI off, a string id casts to a NULL DECIMAL label sum, which
    the round-1 empty-graph check would read as "converged" and return a
    one-round labeling. Non-integral ids must be refused up front."""
    df = spark.createDataFrame([("b", "a"), ("c", "b")], "id_a: string, id_b: string")
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        with pytest.raises(TypeError, match="id_a"):
            connected_components(df)
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
