"""Exact quantile binning (ops/quantile): the four binners against
brute-force declared semantics, and against each other."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fxspark.ops.quantile import quantile_bins, quantile_bins_multi


def _expected_bins(values, n, descending=False):
    """Brute-force declared semantics: boundary b_i = value at ascending
    rank ceil(c*i/n); bucket = 1 + #{b_i < x}; descending relabels."""
    xs = sorted(v for v in values if v is not None)
    c = len(xs)
    bounds = [xs[-(-c * i // n) - 1] for i in range(1, n)] if c else []
    out = {}
    for v in values:
        if v is None:
            continue
        b = 1 + sum(1 for bd in bounds if bd < v)
        out.setdefault(v, n + 1 - b if descending else b)
    return out


def _spark_bins(spark, values, n, descending=False, coarse=8):
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(values)], "id int, v int"
    )
    got = quantile_bins(
        df, "v", n, "b", descending=descending, coarse_buckets=coarse
    ).collect()
    return {r["v"]: r["b"] for r in got if r["v"] is not None}, got


@pytest.mark.parametrize("descending", [False, True])
def test_quantile_bins_matches_declared_semantics(spark, descending):
    # ties straddling boundaries, duplicates, negative values
    values = [5, 1, 3, 3, 3, 8, 8, 2, -4, 7, 7, 0, 9, 9, 9, 9, 6]
    got, _ = _spark_bins(spark, values, 4, descending=descending)
    assert got == _expected_bins(values, 4, descending=descending)


def test_quantile_bins_small_coarse_and_tiny_frames(spark):
    # coarse_buckets smaller than n forces several targets per bucket
    values = [10, 20, 30, 40, 50, 60, 70, 80, 90, 100]
    got, _ = _spark_bins(spark, values, 5, coarse=2)
    assert got == _expected_bins(values, 5)
    # fewer rows than buckets: duplicate boundary ranks collapse buckets
    values = [1, 2]
    got, _ = _spark_bins(spark, values, 5)
    assert got == _expected_bins(values, 5)


def test_quantile_bins_nulls_and_constant_column(spark):
    # NULL value -> NULL bucket, excluded from boundary ranks
    values = [1, None, 2, 3, None, 4]
    binmap, rows = _spark_bins(spark, values, 2)
    assert binmap == _expected_bins(values, 2)
    assert all(r["b"] is None for r in rows if r["v"] is None)
    # all-equal column: every row shares bucket 1 (declared tie semantics)
    got, _ = _spark_bins(spark, [7, 7, 7, 7], 4)
    assert got == {7: 1}


def test_quantile_bins_multi_agrees_with_single(spark):
    rows = [
        (i, i % 13, (i * 7) % 29, float(i * i % 97))
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "id int, a int, b int, m double")
    df = df.withColumn("m", F.col("m").cast("decimal(38,6)"))
    multi = quantile_bins_multi(
        df,
        [("a", 5, "qa", True), ("b", 4, "qb", False), ("m", 3, "qm", False)],
        coarse_buckets=16,
    )
    single = quantile_bins(
        df, "a", 5, "qa", descending=True, coarse_buckets=16
    )
    single = quantile_bins(single, "b", 4, "qb", coarse_buckets=16)
    single = quantile_bins(single, "m", 3, "qm", coarse_buckets=16)
    m = {r["id"]: (r["qa"], r["qb"], r["qm"]) for r in multi.collect()}
    s = {r["id"]: (r["qa"], r["qb"], r["qm"]) for r in single.collect()}
    assert m == s


def test_quantile_bins_bucket_populations_near_even(spark):
    # no ties: populations must match ntile's exact split
    values = list(range(103))
    got, rows = _spark_bins(spark, values, 5, coarse=16)
    sizes = {}
    for r in rows:
        sizes[r["b"]] = sizes.get(r["b"], 0) + 1
    # ceil/floor split: 103 = 21+21+21+20+20
    assert sorted(sizes.values(), reverse=True) == [21, 21, 21, 20, 20]
    assert set(sizes) == {1, 2, 3, 4, 5}


def test_quantile_bins_grouped_matches_declared_semantics(spark):
    from fxspark.ops.quantile import quantile_bins_grouped

    rows = []
    vals = {
        "a": [5, 1, 3, 3, 8, 8, 2, 7, 7, 0, 9],
        "b": [10, 20, 20, 20, 30],
        "c": [4],  # single-row group
    }
    i = 0
    for g, vs in vals.items():
        for v in vs:
            rows.append((i, g, v))
            i += 1
    rows.append((i, "d", None))  # all-NULL group -> NULL bucket
    df = spark.createDataFrame(rows, "id int, g string, v int")
    got = quantile_bins_grouped(
        df, ["g"], "v", 4, "b", coarse_buckets=4
    ).collect()
    for g, vs in vals.items():
        want = _expected_bins(vs, 4)
        got_g = {r["v"]: r["b"] for r in got if r["g"] == g}
        assert got_g == want, (g, got_g, want)
    assert [r["b"] for r in got if r["g"] == "d"] == [None]


def test_quantile_bins_weighted_matches_brute_force(spark):
    from fxspark.ops.quantile import quantile_bins_weighted

    # value -> weight pairs with ties and a heavy cheap value
    pairs = [(1, 50), (2, 5), (2, 5), (3, 10), (7, 10), (9, 20)]
    df = spark.createDataFrame(
        [(i, v, w) for i, (v, w) in enumerate(pairs)],
        "id int, v int, w int",
    )
    n = 4
    tw = sum(w for _, w in pairs)
    # brute force: boundary_i = min v with cumweight(<= v) >= ceil(tw*i/n)
    from collections import defaultdict

    wv = defaultdict(int)
    for v, w in pairs:
        wv[v] += w
    bounds = []
    for i in range(1, n):
        k = -(-tw * i // n)
        cum = 0
        for v in sorted(wv):
            cum += wv[v]
            if cum >= k:
                bounds.append(v)
                break
    want = {}
    for v, _ in pairs:
        want[v] = 1 + sum(1 for b in bounds if b < v)
    got = {
        r["v"]: r["b"]
        for r in quantile_bins_weighted(
            df, "v", "w", n, "b", coarse_buckets=4
        ).collect()
    }
    assert got == want, (got, want, bounds)
    # heavy value 1 owns 50/100 of the mass: it must hold buckets 1-2 alone
    assert got[1] == 1 and got[2] >= 2


# --- hypothesis property: boundary binning == brute-force declared
# semantics for ANY value multiset (ties, duplicates, negatives, tiny) ---

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

values_strategy = st.lists(
    st.integers(min_value=-50, max_value=50), min_size=1, max_size=30
)


@given(values=values_strategy, n=st.sampled_from([2, 3, 5]))
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
def test_quantile_bins_property(spark, values, n):
    got, _ = _spark_bins(spark, values, n, coarse=4)
    assert got == _expected_bins(values, n)


@given(values=values_strategy)
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
def test_quantile_bins_population_conservation(spark, values):
    """Every non-null row lands in exactly one bucket in [1, n], and
    bucket populations are monotone-compatible with the rank targets:
    the first j buckets together hold >= ceil(c*j/n) rows (ties can only
    push mass DOWN into earlier buckets, never up)."""
    n = 4
    _, rows = _spark_bins(spark, values, n, coarse=4)
    c = len(values)
    assert all(1 <= r["b"] <= n for r in rows)
    for j in range(1, n):
        k_j = -(-c * j // n)
        held = sum(1 for r in rows if r["b"] <= j)
        assert held >= k_j, (values, j, held, k_j)


nullable_values = st.lists(
    st.one_of(st.none(), st.integers(min_value=-20, max_value=20)),
    min_size=1,
    max_size=30,
)


@pytest.mark.parametrize("descending", [False, True])
@given(values=nullable_values, n=st.sampled_from([2, 3, 5]))
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
def test_quantile_binners_agree_on_their_shared_case(
    spark, descending, values, n
):
    """The three specialised binners reduce to quantile_bins on its own
    domain: unit weights, one constant group, one dimension. Ties and
    NULLs included (NULL values label NULL in every form)."""
    from fxspark.ops.quantile import (
        quantile_bins_grouped,
        quantile_bins_weighted,
    )

    df = spark.createDataFrame(
        [(i, v, 1, "g") for i, v in enumerate(values)],
        "id int, v int, w int, g string",
    )

    def labels(out):
        return {r["id"]: r["b"] for r in out.collect()}

    kw = {"descending": descending, "coarse_buckets": 4}
    want = labels(quantile_bins(df, "v", n, "b", **kw))
    assert labels(quantile_bins_weighted(df, "v", "w", n, "b", **kw)) == want
    assert labels(quantile_bins_grouped(df, ["g"], "v", n, "b", **kw)) == want
    assert (
        labels(
            quantile_bins_multi(
                df, [("v", n, "b", descending)], coarse_buckets=4
            )
        )
        == want
    )
