"""Distributed connected components (large-star / small-star).

The missing piece between near-duplicate PAIR detection (operators/dedup.py)
and actual corpus deduplication: candidate pairs form a graph whose connected
components are the duplicate clusters — each cluster keeps one canonical
document. The reference has nothing like this (its pipeline is single-table);
this is §2B north-star surface for the training-data-curation use case.

Algorithm: alternating large-star / small-star (Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC'14). Each round is two
groupBy+join passes over the edge list; the edge set converges to a star
forest (every node pointing at its component's minimum id) in O(log² n)
rounds — in practice 2-4 rounds for near-dup graphs, whose components are
tiny and shallow. Contrast with naive label propagation (O(diameter) rounds)
and with driver-side union-find (collects every edge — dead at 100 TB).

Scale notes:
- Every step is `groupBy(node).agg(min)` + an equi-join back on the same
  key — partial aggregation map-side, shuffle carries |V| rows of two longs.
- Each iteration `localCheckpoint`s the new edge set: cuts the self-join
  lineage (same discipline as the LSH band table) so round k does not
  re-execute rounds 1..k-1.
- Convergence is detected by an aggregate signature (count + xxhash64 sum),
  one tiny action per round — no `collect()` of edges ever.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Rounds before giving up; near-dup graphs converge in 2-4.
MAX_ROUNDS = 20


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to min(Γ(u) ∪ {u})."""
    sym = edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    mins = sym.groupBy("src").agg(F.least(F.col("src"), F.min("dst")).alias("m"))
    return (
        sym.join(mins, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient edges large→small; connect u and its ≤-neighbors to their min."""
    directed = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    ).filter(F.col("src") != F.col("dst"))
    mins = directed.groupBy("src").agg(F.least(F.col("src"), F.min("dst")).alias("m"))
    return (
        directed.join(mins, "src")
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .union(mins.select(F.col("src"), F.col("m").alias("dst")))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _signature(edges: DataFrame) -> tuple:
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        # bit_xor: order-independent set digest with no overflow under ANSI
        F.coalesce(F.expr("bit_xor(xxhash64(src, dst))"), F.lit(0)).alias("h"),
    ).collect()[0]
    return (row["n"], row["h"])


def connected_components(pairs: DataFrame, src: str, dst: str) -> DataFrame:
    """Components of the undirected graph given by ``pairs`` → one row per
    non-isolated node: (node, component) with component = min node id of
    the component. Isolated nodes (no pairs) are their own trivial cluster
    and are not emitted — join back against the corpus if needed.
    """
    edges = (
        pairs.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    sig = _signature(edges)
    for _ in range(MAX_ROUNDS):
        new_edges = _small_star(_large_star(edges)).localCheckpoint(eager=True)
        new_sig = _signature(new_edges)
        edges.unpersist()
        edges = new_edges
        if new_sig == sig:
            break
        sig = new_sig
    else:
        raise RuntimeError(f"connected_components did not converge in {MAX_ROUNDS} rounds")
    # Converged star forest: every edge is (node → component root). Roots
    # appear only on the dst side; emit them mapped to themselves.
    nodes = edges.select(F.col("src").alias("node"), F.col("dst").alias("component"))
    roots = edges.select(F.col("dst").alias("node")).distinct().withColumn(
        "component", F.col("node")
    )
    return nodes.union(roots).distinct()


def dedup_cluster_assignments(pairs: DataFrame) -> DataFrame:
    """Near-dup clusters from candidate ``(id_a, id_b)`` pairs: (doc, canonical, cluster_size).

    canonical = the minimum doc id of the cluster (the survivor a curation
    pipeline keeps); cluster_size counts members, so `doc != canonical`
    filters to the rows to DELETE and `cluster_size` feeds dedup stats."""
    comp = connected_components(pairs, "id_a", "id_b")
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        comp.join(F.broadcast(sizes), "component")
        .select(
            F.col("node").alias("doc_id"),
            F.col("component").alias("canonical_id"),
            "cluster_size",
        )
    )
