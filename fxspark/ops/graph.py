"""Iterative graph algorithms as DataFrame loops.

Connected components (dedup clustering) lives in ``ops/dedup.py``; this
module holds the rank-propagation family. ``pagerank`` and
``personalized_pagerank`` differ only in their teleport vector: both
prepare edges with ``_share_edges`` and run the one rank loop,
``_propagate``. The driver unrolls a FIXED number of iterations — each is
one join + one aggregation, and the frame is ``localCheckpoint``-ed
between iterations so the lineage (and the plan Catalyst must optimize)
stays O(1) instead of growing per iteration, the standard Spark
iterative-algorithm discipline (same pattern as the label-propagation
tier of ``ops/dedup.dup_clusters``).

Determinism: the per-node contribution sum is decimal-exact (cast to
DECIMAL(38,18), summed, cast back), so the result is bit-identical across
partitionings and engines — an unrolled SQL oracle replays it exactly.

Shuffle width: no op here reads or writes the session conf or
repartitions for parallelism. Every stage runs at the session's
``spark.sql.shuffle.partitions`` (set once by ``session.get_spark``), and
AQE sizes the shuffles at run time where it is on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _share_edges(
    edges: DataFrame, src: str, dst: str, weight: str | None
) -> DataFrame:
    """(_src, _dst, _share) under :func:`pagerank`'s NULL contract,
    checkpointed once because every iteration joins it."""
    w_col = F.col(weight).cast("double") if weight else F.lit(1.0)
    e = edges.select(
        F.col(src).alias("_src"), F.col(dst).alias("_dst"), w_col.alias("_w")
    ).filter(
        F.col("_src").isNotNull() & F.col("_dst").isNotNull()
        & F.col("_w").isNotNull()
    )
    out = e.groupBy("_src").agg(F.sum("_w").alias("_out"))
    e = e.join(out, "_src").withColumn("_share", F.col("_w") / F.col("_out"))
    return e.select("_src", "_dst", "_share").localCheckpoint()


def _propagate(
    e: DataFrame,
    nodes: DataFrame,
    n_iter: int,
    damping: float,
    prune_eps: float | None = None,
) -> DataFrame:
    """The rank loop of both rank ops: ``n_iter`` synchronous steps of
    ``rank(v) = _base(v) + d·in(v)``, ``in(v) = Σ rank(u)·share(u,v)`` over
    ``e`` (from :func:`_share_edges`). ``nodes`` carries
    ``(node, _base, rank)``, ``rank`` holding the starting ranks. With
    ``prune_eps`` set, only nodes ranked at least ``prune_eps`` contribute.
    Returns (node, rank)."""
    ranks = nodes.select("node", "rank")
    for _ in range(n_iter):
        frontier = (
            ranks.filter(F.col("rank") >= prune_eps)
            if prune_eps is not None
            else ranks
        )
        contrib = (
            e.join(F.broadcast(frontier), e["_src"] == frontier["node"])
            .select(
                F.col("_dst").alias("node"),
                (F.col("rank") * F.col("_share")).alias("_c"),
            )
            .groupBy("node")
            .agg(
                F.sum(F.col("_c").cast("decimal(38,18)"))
                .cast("double")
                .alias("_in"),
            )
        )
        ranks = (
            nodes.join(F.broadcast(contrib), "node", "left")
            .select(
                "node",
                (
                    F.col("_base")
                    + F.lit(damping) * F.coalesce(F.col("_in"), F.lit(0.0))
                ).alias("rank"),
            )
            .localCheckpoint()
        )
    return ranks


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    n_iter: int = 5,
    damping: float = 0.85,
) -> DataFrame:
    """Weighted PageRank, ``n_iter`` synchronous iterations.

    Both rank ops of this module run one recurrence from ``rank_0 = p``:

    ``rank_{i+1}(v) = (1-d)·p(v) + d·Σ_{(u,v)∈E} rank_i(u)·w(u,v)/out(u)``

    Here the teleport vector is uniform, ``p(v) = 1/N``;
    :func:`personalized_pagerank` puts it on a source set. The contract
    both keep:

    - Nodes are the union of sources and destinations. A NULL endpoint is
      not a node: edges with a NULL src, dst or weight are dropped
      explicitly, not left to fall out at the out-weight equi-join.
    - Dangling nodes (no out-edges) contribute nothing: their mass leaks
      (the simple variant, stated so the oracle can replay it).
    - Every iteration is one shuffle on ``dst`` plus a broadcast-sized rank
      join; at scale the edge list is the big side and stays partitioned
      by ``src`` across iterations, so only the (N-row) rank frame moves.

    Returns (node, rank) with rank a raw double — round at the query edge.
    """
    e = _share_edges(edges, src, dst, weight)
    nodes = (
        e.select(F.col("_src").alias("node"))
        .union(e.select(F.col("_dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    n_nodes = nodes.count()
    if n_nodes == 0:
        # EMPTY edge list ⇒ empty node set ⇒ empty rank frame — the SQL
        # oracles' iteration over zero nodes yields zero rows too
        # (round-14 sf_empty registry sweep; 1/N below would divide by 0).
        return nodes.withColumn("rank", F.lit(0.0))
    nodes = nodes.select(
        "node",
        F.lit((1.0 - damping) / n_nodes).alias("_base"),
        F.lit(1.0 / n_nodes).alias("rank"),
    )
    return _propagate(e, nodes, n_iter, damping)


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_hops: int = 4,
    assume_distinct: bool = False,
) -> DataFrame:
    """Multi-source BFS hop distance, ``max_hops`` synchronous frontier
    expansions — the reachability twin of :func:`pagerank`'s iterative
    shape (the reference has no graph operators; its closest analogue is
    the repeated full-store re-join at ``/root/reference/Fx_1min.py:147``,
    which this replaces with frontier-proportional work).

    ``seeds`` is a one-column frame of start nodes (column name = ``src``'s
    name is NOT required; the first column is taken). Iteration ``i`` joins
    the CURRENT frontier (nodes first reached at distance ``i``) against
    the edge list and anti-joins the visited set — so per-iteration cost is
    |frontier| × avg-degree, never |V|². The edge list is localCheckpointed
    once and stays partitioned on ``src`` across iterations (exchange
    reuse); only the frontier/visited frames (≤ |V| rows) move. Distances
    are exact integers — hash-safe against an unrolled or recursive-CTE SQL
    replay.

    Returns (node, hops) for every node reachable within ``max_hops``
    (seeds at 0). Unreached nodes are absent.
    """
    # ``assume_distinct``: the caller certifies the edge list is already
    # deduplicated (e.g. it mirrored a canonical ``u < v`` distinct —
    # dedup on the 1.2M canonical pairs instead of the 2.4M directed rows,
    # and the mirror union then reads a checkpoint instead of re-running
    # the edge build per branch; round 17, q_part_copurchase_bfs).
    e = edges.select(F.col(src).alias("_src"), F.col(dst).alias("_dst"))
    if not assume_distinct:
        e = e.distinct()
    e = e.localCheckpoint()
    visited = (
        seeds.select(F.col(seeds.columns[0]).alias("node"))
        .distinct()
        .withColumn("hops", F.lit(0))
        .localCheckpoint()
    )
    frontier = visited
    for i in range(1, max_hops + 1):
        nxt = (
            e.join(frontier, e["_src"] == frontier["node"])
            .select(F.col("_dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("hops", F.lit(i))
            .localCheckpoint()
        )
        if nxt.isEmpty():
            break
        # visited stays a plain union of already-checkpointed frontiers:
        # its lineage is a k-way union of materialized frames (k = hops so
        # far), so re-checkpointing it each iteration would only add a
        # materialization job without shortening any recompute path.
        visited = visited.unionByName(nxt)
        frontier = nxt
    return visited


def triangles_per_node(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Per-node triangle counts + local clustering coefficient over an
    undirected edge list (rows may arrive in either direction and
    duplicated; they are canonicalized to ``u < v`` and deduped first).

    The scalable shape is DEGREE ORIENTATION (the standard distributed
    triangle algorithm): orient every edge from its (degree, id)-smaller
    endpoint to the larger, enumerate wedges only from ORIENTED
    out-neighbors — every node's out-degree is O(√E) regardless of skew,
    so the wedge join is bounded where a naive neighbor-pair explosion
    on a hub node is quadratic — and close each wedge against the
    oriented edge set with one more join. Each triangle is found exactly
    once and credited to all three corners via a 3-way explode.

    Returns ``(node, degree, triangles, clustering)`` for nodes with
    degree ≥ 2, where ``clustering = 2·T / (deg·(deg−1))`` — plain double
    on exact integers. Plan: three hash joins + two hash-aggs, all keyed;
    nothing global, nothing quadratic in any node's degree.

    Counts are exact integers, so the result is partitioning-invariant.
    """
    u, v = F.col(src), F.col(dst)
    e = (
        edges.select(
            F.least(u, v).alias("u"), F.greatest(u, v).alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        # Materialize the canonical edge frame: the engine consumes it
        # from several branches (degree rollup, orientation join, final
        # join), each of which would otherwise re-run the caller's whole
        # edge build — 34 base-table scans in
        # part_copurchase_clustering's executed plan without this.
        # localCheckpoint, NOT persist: persist registers in the session
        # CacheManager by canonicalized plan, so a REBUILT identical
        # query silently serves cached results (A/B: 0.8 s cache-read vs
        # 4.1 s compute) — corrupting benchmark semantics and
        # accumulating session-lifetime cache entries. The trade is that
        # checkpoint blocks don't survive executor loss; a cluster
        # deployment with executor churn swaps this for
        # persist-with-managed-lifecycle or reliable checkpointing
        # (SCALE.md §1).
        .localCheckpoint(eager=False)
    )
    deg = (
        e.select(F.col("u").alias("n"))
        .unionAll(e.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    ed = (
        e.join(deg.withColumnRenamed("n", "u").withColumnRenamed("deg", "du"), "u")
        .join(deg.withColumnRenamed("n", "v").withColumnRenamed("deg", "dv"), "v")
    )
    fwd = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    # Materialized for the same reason as e: three consumers below (lo,
    # hi, and the closing semi-join) would each re-run the degree joins.
    oe = ed.select(
        F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("b"),
        F.when(fwd, F.col("du")).otherwise(F.col("dv")).alias("da"),
        F.when(fwd, F.col("dv")).otherwise(F.col("du")).alias("db"),
    ).localCheckpoint(eager=False)
    # wedges from shared oriented source, ordered by (deg, id) so each
    # unordered out-neighbor pair appears once
    lo = oe.select("a", F.col("b").alias("x"), F.col("db").alias("dx"))
    hi = oe.select("a", F.col("b").alias("y"), F.col("db").alias("dy"))
    wedge = lo.join(hi, "a").filter(
        (F.col("dx") < F.col("dy"))
        | ((F.col("dx") == F.col("dy")) & (F.col("x") < F.col("y")))
    )
    # The wedge close is the algorithm's largest join: Σ out-deg² wedge
    # rows (83M on the dense sf0.1 fixture) semi-probed against the
    # oriented edge set. The build side carries a SHUFFLE_HASH hint so
    # the wedge frame is HASH-probed, never sorted, under EVERY planner
    # regime. History: round 11 rejected the hint because with AQE's
    # full join ladder (session.py) the runtime pick was already
    # broadcast/SHJ and the hint only pinned AQE (SMJ-initial 3.34 s /
    # SHJ 3.05 s / broadcast 3.01 s, overlapping reps). Round 17
    # re-measured under the bench regime — AQE OFF, 8 shuffle
    # partitions — where the checkpointed edge frame carries no
    # planning-time stats, the static planner never upgrades the join,
    # and the fallback SMJ SORTS the 83M-row wedge frame in 8 tasks:
    # 14.3 s vs 6.2 s hinted (guide §3.1 — pick the strategy
    # deliberately when statistics can't). At cluster scale the edge
    # set outgrows broadcast anyway, so SHJ is the correct pinned
    # strategy, with per-partition build slices bounded by the shuffle
    # partitioning. Pinned by tests/test_plans.py on the runtime-final
    # plan.
    tri = wedge.join(
        oe.select(F.col("a").alias("x"), F.col("b").alias("y")).hint(
            "shuffle_hash"
        ),
        ["x", "y"],
        "left_semi",
    )
    per_node = (
        tri.select(
            F.explode(F.array("a", "x", "y")).alias("n")
        )
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    d = F.col("deg").cast("double")
    return (
        deg.filter(F.col("deg") >= 2)
        .join(per_node, "n", "left")
        .fillna(0, subset=["triangles"])
        .select(
            F.col("n").alias("node"),
            "deg",
            "triangles",
            (2.0 * F.col("triangles").cast("double") / (d * (d - 1.0))).alias(
                "clustering"
            ),
        )
    )


def sample_edges_md5(
    edges: DataFrame,
    pct: int,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """DOULION edge sparsification with DECLARED randomness: keep an edge
    iff ``md5_60(src || '|' || dst) % 100 < pct`` — the same md5-derived
    determinism discipline as the KMV/HLL sketches, so the sparsified
    graph (and every estimate computed on it) is bit-reproducible in any
    engine and hash-verifiable against a SQL oracle, which a
    ``rand()``-based sample never is.

    DOULION (Tsourakakis et al., KDD'09): counting triangles on the
    p-sparsified graph and scaling by ``1/p³`` gives an UNBIASED
    estimate of the true count (each triangle survives with probability
    p³); the wedge-join work — the Ω(Σ out-deg²) information floor of
    exact counting — shrinks by ~p², which is the entire point of the
    scale form. The hash is computed over the CANONICAL orientation
    ``(least, greatest)``, so both directed rows of an undirected edge
    share the same keep/drop fate — required when the caller feeds a
    symmetrized edge list (e.g. for PageRank on the sampled graph).

    NULL endpoints: ``concat`` of a NULL src/dst yields a NULL hash, so
    the keep predicate is NULL and the edge is DROPPED. A NULL endpoint
    is not an edge (there is nothing to connect), so dropping is the
    correct semantics for sampling — but it would also silently mask an
    upstream data problem, so the drop is made explicit and loud here:
    the filter excludes NULLs by construction, and callers who need to
    surface bad rows should anti-join against ``isnull(src) |
    isnull(dst)`` BEFORE sampling (the co-purchase edge builders derive
    endpoints from inner joins on non-null keys, so no NULLs reach this
    in the registered queries).
    """
    u, v = F.col(src), F.col(dst)
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.least(u, v).cast("string"),
                    F.lit("|"),
                    F.greatest(u, v).cast("string"),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("bigint")
    # Explicit, not incidental: NULL endpoints are excluded by a named
    # predicate rather than relying on NULL-hash three-valued logic.
    return edges.filter(u.isNotNull() & v.isNotNull()).filter((h % 100) < pct)


def personalized_pagerank(
    edges: DataFrame,
    sources: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    n_iter: int = 5,
    damping: float = 0.85,
    prune_eps: float | None = None,
    nodes: DataFrame | None = None,
) -> DataFrame:
    """Personalized PageRank: :func:`pagerank`'s recurrence and contract
    with the teleport vector on a SOURCE SET — ``p(v) = 1/|S|`` on the
    personalization set S (``sources``, one column named ``node``,
    broadcast-sized) and 0 elsewhere. The "related items" primitive: mass
    diffuses outward from S through the co-occurrence graph, so high-rank
    nodes are S's graph neighborhood weighted by connectivity, not global
    popularity. Nodes unreachable from S keep rank exactly 0.0.

    ``prune_eps`` enables the FRONTIER-PRUNED scale form (the
    synchronous cousin of Forward Push / Andersen-Chung-Lang local
    PPR): only nodes with ``rank ≥ prune_eps`` contribute in the next
    iteration. Because ``rank_0 = p`` is non-zero ONLY on S, the
    contribution frontier grows outward from the seed set hop by hop —
    on a power-law graph the join touches the seed neighborhood, not
    all E edges. Error is one-sided and bounded by declaration: pruning
    only REMOVES non-negative contribution mass, so every pruned rank
    is a LOWER bound on the exact rank, short by at most
    ``Σ_{t=1..n_iter} d^t · (pruned mass at iteration t)``
    ≤ ``prune_eps · n_nodes · d/(1−d)`` in the worst case — pick
    ``prune_eps`` several orders below 1/n so the deficit vanishes at
    the output rounding scale. Exact-zero ranks (unreached nodes) are
    always pruned, which is pure savings with zero error.

    ``nodes``: optional one-column frame that must equal EXACTLY the
    union of edge endpoints under the NULL contract (a superset would add
    spurious rank-0 rows; a subset silently drops reachable nodes).
    Callers that already hold that set (e.g. off the same checkpointed
    edge aggregate) pass it in to skip this op's full-edge-list distinct;
    when in doubt, leave it None and let the op derive it.
    """
    e = _share_edges(edges, src, dst, weight)
    if nodes is None:
        nodes = (
            e.select(F.col("_src").alias("node"))
            .union(e.select(F.col("_dst").alias("node")))
            .distinct()
        )
    else:
        nodes = nodes.select(F.col(nodes.columns[0]).alias("node"))
    s = sources.select("node").distinct()
    n_src = s.count()
    if n_src == 0:
        # No teleport sources (empty input or empty seed set): every
        # node's personalized rank is 0 mass — return the empty frame the
        # SQL oracle produces (round-14 sf_empty registry sweep; 1/n_src
        # below would divide by 0).
        return nodes.withColumn("rank", F.lit(0.0)).limit(0)
    p = 1.0 / n_src
    tele = F.coalesce(F.col("_tele"), F.lit(0.0))
    nodes = (
        nodes.join(
            F.broadcast(s.withColumn("_tele", F.lit(p))), "node", "left"
        )
        .select(
            "node",
            (F.lit(1.0 - damping) * tele).alias("_base"),
            tele.alias("rank"),
        )
        .localCheckpoint()
    )
    return _propagate(e, nodes, n_iter, damping, prune_eps)
