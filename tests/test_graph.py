"""ops/graph: the rank ops' shared contract, frontier-pruned personalized
PageRank and BFS hop distances. The sf0.01 DuckDB differential is the
correctness gate; these pin the properties the oracles can't express."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# Rank ops: pagerank and personalized_pagerank
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("op", ["pagerank", "personalized_pagerank"])
def test_rank_ops_drop_null_endpoint_and_null_weight_edges(spark, op):
    """A NULL endpoint is not a node, and an edge with a NULL weight is not
    an edge: neither may add a node or take a share of its source's
    out-weight, so the ranks equal those of the graph without them."""
    from fxspark.ops import graph

    good = [(1, 2, 1.0), (2, 1, 2.0), (2, 3, 1.0), (3, 1, 1.0)]
    bad = [(2, None, 1.0), (3, 4, None)]
    schema = "src long, dst long, w double"
    sources = spark.createDataFrame([(1,)], "node long")

    def ranks(rows):
        e = spark.createDataFrame(rows, schema)
        args = (e,) if op == "pagerank" else (e, sources)
        out = getattr(graph, op)(*args, weight="w", n_iter=5)
        return {r["node"]: r["rank"] for r in out.collect()}

    got = ranks(good + bad)
    assert None not in got
    assert got == ranks(good)


def test_personalized_pagerank_mass_stays_near_sources(spark):
    """On a two-component graph, PPR seeded in one component must leave
    the other component at exactly rank 0, and ranks must be positive on
    every node reachable from the seed."""
    from fxspark.ops.graph import personalized_pagerank

    # component A: 1-2-3 path (symmetric); component B: 4-5
    edges = [(1, 2), (2, 1), (2, 3), (3, 2), (4, 5), (5, 4)]
    e = spark.createDataFrame(edges, "src int, dst int")
    s = spark.createDataFrame([(1,)], "node int")
    got = {
        r["node"]: r["rank"]
        for r in personalized_pagerank(e, s, n_iter=5).collect()
    }
    assert got[4] == 0.0 and got[5] == 0.0
    assert got[1] > got[3] > 0.0  # seed outranks the far end
    assert got[2] > 0.0


# ---------------------------------------------------------------------------
# Frontier-pruned personalized PageRank
# ---------------------------------------------------------------------------


def _ppr_fixture(spark):
    # path graph 0-1-2-3-4 plus a hub 0-5, symmetrized
    und = [(0, 1), (1, 2), (2, 3), (3, 4), (0, 5)]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src long, dst long"
    )
    sources = spark.createDataFrame([(0,)], "node long")
    return edges, sources


def test_ppr_prune_eps_is_lower_bound_and_tiny_eps_exact(spark):
    from fxspark.ops.graph import personalized_pagerank

    edges, sources = _ppr_fixture(spark)
    exact = {
        r.node: r.rank
        for r in personalized_pagerank(edges, sources, n_iter=4).collect()
    }
    # eps below any reachable rank ⇒ only exact-zero ranks pruned ⇒ equal
    tiny = {
        r.node: r.rank
        for r in personalized_pagerank(
            edges, sources, n_iter=4, prune_eps=1e-300
        ).collect()
    }
    assert tiny == exact
    # aggressive eps ⇒ every rank is a LOWER bound (pruning removes only
    # non-negative contribution mass)
    pruned = {
        r.node: r.rank
        for r in personalized_pagerank(
            edges, sources, n_iter=4, prune_eps=0.05
        ).collect()
    }
    assert set(pruned) == set(exact)
    for node, rank in pruned.items():
        assert rank <= exact[node] + 1e-12, node
    # and the aggressive prune actually bit somewhere on this graph
    assert any(pruned[n] < exact[n] - 1e-12 for n in exact)


# ---------------------------------------------------------------------------
# BFS hop distances
# ---------------------------------------------------------------------------


def test_bfs_hops_distances_and_unreachable(spark):
    from fxspark.ops.graph import bfs_hops

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("x", "y")],
        "src string, dst string",
    )
    seeds = spark.createDataFrame([("a",)], "node string")
    out = {r["node"]: r["hops"] for r in bfs_hops(edges, seeds, max_hops=5).collect()}
    assert out == {"a": 0, "b": 1, "c": 2, "d": 3}  # x,y unreachable -> absent


def test_bfs_hops_respects_max_hops(spark):
    from fxspark.ops.graph import bfs_hops

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], "src string, dst string"
    )
    seeds = spark.createDataFrame([("a",)], "node string")
    out = {r["node"]: r["hops"] for r in bfs_hops(edges, seeds, max_hops=2).collect()}
    assert out == {"a": 0, "b": 1, "c": 2}


def test_bfs_assume_distinct_equivalent(spark):
    from fxspark.ops.graph import bfs_hops

    e0 = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (2, 5), (1, 2), (5, 6)], "src long, dst long"
    )
    mirrored = e0.unionByName(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    canonical = e0.distinct()
    canonical_mirrored = canonical.unionByName(
        canonical.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    seeds = spark.createDataFrame([(1,)], "node long")
    base = sorted(
        (r["node"], r["hops"])
        for r in bfs_hops(mirrored, seeds, max_hops=3).collect()
    )
    fast = sorted(
        (r["node"], r["hops"])
        for r in bfs_hops(
            canonical_mirrored, seeds, max_hops=3, assume_distinct=True
        ).collect()
    )
    assert base == fast and base[0] == (1, 0)
