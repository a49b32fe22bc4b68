"""Round-4 curation-depth operators: two-pass Misra-Gries heavy hitters
and SemDeDup. (Duplicated-span detection and cross-corpus MinHash live in
``test_dedup.py``.)

Hand-written frames pin the semantics; plan assertions pin the scale shape
(the Misra-Gries candidate superset guarantee is the load-bearing property —
the exact second pass is only exact because pass 1 can never drop a true
heavy hitter above the pigeonhole bound).
"""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from fxspark.ops.sketch import heavy_hitters_exact, misra_gries_candidates
from fxspark.ops.similarity import semantic_dedup


def test_misra_gries_candidates_superset_guarantee(spark):
    # 1 partition, capacity 2, N=12: any key with count > N/cap = 6 MUST
    # survive. 'hot' has 7 — guaranteed; total survivors ≤ capacity.
    rows = [Row(key="hot")] * 7 + [
        Row(key=k) for k in ["a", "b", "c", "d", "e"]
    ]
    df = spark.createDataFrame(rows).coalesce(1)
    cands = misra_gries_candidates(df, "key", capacity=2).collect()
    assert "hot" in {r["key"] for r in cands}
    assert len(cands) <= 2
    # lower_bound is a valid lower bound on the true count
    for r in cands:
        true = sum(1 for x in rows if x.key == r["key"])
        assert 0 < r["lower_bound"] <= true


def test_heavy_hitters_exact_matches_groupby(spark):
    rows = (
        [Row(w="x")] * 50 + [Row(w="y")] * 30 + [Row(w="z")] * 20
        + [Row(w=f"rare{i}") for i in range(40)]
    )
    df = spark.createDataFrame(rows).repartition(4)
    got = [
        (r["key"], r["cnt"])
        for r in heavy_hitters_exact(df, "w", k=3, capacity=64).collect()
    ]
    assert got == [("x", 50), ("y", 30), ("z", 20)]


def test_heavy_hitters_deterministic_tiebreak(spark):
    # equal counts break ties by key ascending
    rows = [Row(w="b")] * 5 + [Row(w="a")] * 5 + [Row(w="c")] * 4
    df = spark.createDataFrame(rows).repartition(3)
    got = [
        (r["key"], r["cnt"])
        for r in heavy_hitters_exact(df, "w", k=2, capacity=16).collect()
    ]
    assert got == [("a", 5), ("b", 5)]


def test_semantic_dedup_within_cell_only(spark):
    # two tight clusters on orthogonal axes; near-identical pairs inside
    # each cluster dedup, the cross-cluster (orthogonal) pair never compares
    emb = spark.createDataFrame(
        [
            Row(vec_id=0, embedding=[1.0, 0.0]),
            Row(vec_id=1, embedding=[0.999, 0.01]),
            Row(vec_id=2, embedding=[0.0, 1.0]),
            Row(vec_id=3, embedding=[0.01, 0.999]),
            Row(vec_id=4, embedding=[-1.0, 0.0]),  # anti-aligned: kept
        ]
    )
    cents = spark.createDataFrame(
        [Row(cid=0, embedding=[1.0, 0.0]), Row(cid=1, embedding=[0.0, 1.0])]
    )
    out = {r["vec_id"]: r for r in semantic_dedup(emb, cents, 0.95).collect()}
    assert set(out) == {1, 3}
    assert out[1]["kept_by"] == 0 and out[1]["cid"] == 0
    assert out[3]["kept_by"] == 2 and out[3]["cid"] == 1


def test_semantic_dedup_keeps_lowest_id_of_group(spark):
    # three mutual near-dups in one cell: 1 and 2 drop, both kept by 0
    emb = spark.createDataFrame(
        [
            Row(vec_id=0, embedding=[1.0, 0.0]),
            Row(vec_id=1, embedding=[1.0, 0.001]),
            Row(vec_id=2, embedding=[1.0, 0.002]),
        ]
    )
    cents = spark.createDataFrame([Row(cid=0, embedding=[1.0, 0.0])])
    out = semantic_dedup(emb, cents, 0.9).collect()
    assert {r["vec_id"] for r in out} == {1, 2}
    # keeper is the MOST SIMILAR lower-id neighbor (2's is 1, not 0)
    by_id = {r["vec_id"]: r["kept_by"] for r in out}
    assert by_id[1] == 0 and by_id[2] == 1


def test_heavy_hitters_corpus_never_shuffles_on_raw_key(spark, sf_dir):
    """Scale shape: the only wide exchange in pass 2 is on the bounded
    candidate set (post semi-join); the candidate join itself broadcasts."""
    from fxspark.queries import QUERIES

    df = QUERIES["token_heavy_hitters"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan[:3000]
    assert "SortMergeJoin" not in plan, plan[:3000]


def test_heavy_hitters_numeric_key_column(spark):
    # open key domains include numeric ids: the output key must keep the
    # input type (a hardcoded string schema made Arrow conversion fail)
    rows = [Row(uid=7)] * 6 + [Row(uid=i) for i in range(5)]
    df = spark.createDataFrame(rows).repartition(2)
    cands = misra_gries_candidates(df, "uid", capacity=4)
    assert cands.schema["key"].dataType.simpleString() == "bigint"
    got = [
        (r["key"], r["cnt"])
        for r in heavy_hitters_exact(df, "uid", k=1, capacity=8).collect()
    ]
    assert got == [(7, 6)]


def test_semantic_dedup_zero_vector_excluded(spark):
    # zero-norm vectors have no direction: never dropped, never a keeper,
    # and no NaN cosine leaks into the scored pairs
    emb = spark.createDataFrame(
        [
            Row(vec_id=0, embedding=[0.0, 0.0]),
            Row(vec_id=1, embedding=[1.0, 0.0]),
            Row(vec_id=2, embedding=[0.999, 0.01]),
        ]
    )
    cents = spark.createDataFrame([Row(cid=0, embedding=[1.0, 0.0])])
    out = semantic_dedup(emb, cents, 0.95).collect()
    assert {r["vec_id"] for r in out} == {2}
    assert out[0]["kept_by"] == 1
