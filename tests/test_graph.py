"""Connected-components operator (operators/graph.py): property tests on
adversarial topologies — long chains force multiple large/small-star
rounds; the union-find ground truth is computed driver-side."""

from __future__ import annotations

import os
import random
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from traderjoe_etl_spark.operators.graph import (
    connected_components,
    dedup_cluster_assignments,
)


def _ground_truth(edges: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        if a == b:
            continue  # operator contract: pure self-loops are isolated nodes
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def _check(spark, edges: list[tuple[int, int]]) -> None:
    df = spark.createDataFrame(edges, ["a", "b"])
    got = {
        (r["node"], r["component"])
        for r in connected_components(df, "a", "b").collect()
    }
    assert got == set(_ground_truth(edges).items())


def test_chain_multi_round(spark):
    # a 64-node path: naive propagation needs 64 rounds; star-contraction
    # must converge inside the operator's MAX_ROUNDS = 20
    _check(spark, [(i, i + 1) for i in range(64)])


def test_reversed_chain_and_star(spark):
    edges = [(i + 1, i) for i in range(20)] + [(100, v) for v in (101, 102, 103)]
    _check(spark, edges)


def test_random_graph_vs_union_find(spark):
    rng = random.Random(7)
    edges = [(rng.randrange(200), rng.randrange(200)) for _ in range(150)]
    edges = [(a, b) for a, b in edges if a != b]
    _check(spark, edges)


def test_self_loops_and_duplicates_ignored(spark):
    _check(spark, [(1, 1), (1, 2), (2, 1), (1, 2), (3, 3)])


def test_cluster_assignments_sizes(spark):
    df = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], ["id_a", "id_b"])
    rows = {
        (r["doc_id"], r["canonical_id"], r["cluster_size"])
        for r in dedup_cluster_assignments(df).collect()
    }
    assert rows == {(1, 1, 3), (2, 1, 3), (3, 1, 3), (10, 10, 2), (11, 10, 2)}


def test_empty_pairs(spark):
    df = spark.createDataFrame([], "a long, b long")
    assert connected_components(df, "a", "b").count() == 0
