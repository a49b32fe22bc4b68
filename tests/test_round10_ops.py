"""Round-10 operator properties: DOULION edge sampling and pins for the
round-9 ADVICE fixes (topk_retraction emission order + alive_at
convention, theil degenerate-scale guard). The sf0.01 DuckDB
differential is the correctness gate; these pin the properties the
oracles can't express."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# DOULION edge sampling
# ---------------------------------------------------------------------------


def test_sample_edges_md5_deterministic_and_orientation_blind(spark):
    from fxspark.ops.graph import sample_edges_md5

    edges = spark.createDataFrame(
        [(i, j) for i in range(50) for j in range(i + 1, 50)],
        "src long, dst long",
    )
    kept1 = {(r.src, r.dst) for r in sample_edges_md5(edges, 25).collect()}
    kept2 = {(r.src, r.dst) for r in sample_edges_md5(edges, 25).collect()}
    assert kept1 == kept2  # declared randomness: same set every run
    # both directed orientations of an undirected edge share fate
    rev = edges.select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    kept_rev = {
        (r.dst, r.src) for r in sample_edges_md5(rev, 25).collect()
    }
    assert kept1 == kept_rev
    # keep rate lands near pct (md5 is uniform; 1225 edges, ±6σ bound)
    n, p = edges.count(), 0.25
    sigma = (n * p * (1 - p)) ** 0.5
    assert abs(len(kept1) - n * p) < 6 * sigma
    # pct=100 keeps everything, pct=0 keeps nothing
    assert sample_edges_md5(edges, 100).count() == n
    assert sample_edges_md5(edges, 0).count() == 0


def test_doulion_pct100_equals_exact_triangles(spark):
    """At pct=100 the 'sampled' pipeline IS the exact pipeline — the
    estimator's scaling must be the only difference."""
    from fxspark.ops.graph import sample_edges_md5, triangles_per_node

    k = 8  # K8: every node in C(7,2)=21 triangles, 56 total
    edges = spark.createDataFrame(
        [(i, j) for i in range(k) for j in range(i + 1, k)],
        "src long, dst long",
    )
    out = triangles_per_node(sample_edges_md5(edges, 100)).collect()
    assert len(out) == k
    for r in out:
        assert r.triangles == 21 and r.deg == k - 1


# ---------------------------------------------------------------------------
# Round-9 ADVICE-fix pins
# ---------------------------------------------------------------------------


def test_topk_retraction_alive_at_convention_agnostic(spark):
    """The rebuild path must produce the same view whether alive_at
    returns post-tick or start-of-tick state (the defensive delta
    composition)."""
    from fxspark.ops.ivm import topk_retraction

    def mk(rows):
        return spark.createDataFrame(rows, "k long, v double")

    t0_ins = mk([(i, float(i)) for i in range(1, 9)])  # 1..8
    # tick 1: delete the top 3 (8,7,6) — 3 buffer hits > B-k = 2 with
    # k=2, buffer_mult=2 ⇒ forces the rebuild path
    t1_dels = mk([(8, 0.0), (7, 0.0), (6, 0.0)]).select("k")
    t1_ins = mk([(9, 9.0)])

    alive_post = {1: mk([(i, float(i)) for i in range(1, 6)] + [(9, 9.0)])}
    alive_start = {1: mk([(i, float(i)) for i in range(1, 9)])}

    def run(alive):
        return sorted(
            (r.tick, r.rk, r.k, r.v)
            for r in topk_retraction(
                [(t0_ins, None), (t1_ins, t1_dels)],
                "k",
                "v",
                k=2,
                buffer_mult=2,
                alive_at=lambda i: alive[i],
            ).collect()
        )

    out_post = run(alive_post)
    out_start = run(alive_start)
    assert out_post == out_start
    # tick-1 top-2 after deletes: 9 then 5
    assert [(t, rk, k) for t, rk, k, _ in out_post if t == 1] == [
        (1, 1, 9),
        (1, 2, 5),
    ]


def test_theil_index_degenerate_scale_emits_null(spark):
    from fxspark.ops.stats import theil_index

    df = spark.createDataFrame(
        [("tiny", 1e-9), ("tiny", 2e-9), ("ok", 1.0), ("ok", 3.0)],
        "grp string, x double",
    )
    out = {
        r.grp: r.theil_t
        for r in theil_index(df, "grp", F.col("x")).collect()
    }
    assert out["tiny"] is None  # rounded mean 0.0 ⇒ NULL, not NaN/Inf
    assert out["ok"] is not None and out["ok"] == out["ok"]  # not NaN
