"""Round-7 operator tests: exact quantile binning (the ntile scale form)."""

from __future__ import annotations

import math

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
    single = quantile_bins(
        single, "b", 4, "qb", coarse_buckets=16, boundary_frame=df
    )
    single = quantile_bins(
        single, "m", 3, "qm", coarse_buckets=16, boundary_frame=df
    )
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


# ---------------------------------------------------------------------------
# Survival / inequality / A/B stats (ops/stats.py round-7 additions)
# ---------------------------------------------------------------------------


def test_gini_extremes(spark):
    from fxspark.ops.stats import gini_by_group

    rows = [("a", i, 10.0) for i in range(4)]           # perfect equality
    rows += [("b", 0, 0.0), ("b", 1, 0.0), ("b", 2, 0.0), ("b", 3, 10.0)]
    df = spark.createDataFrame(rows, "k string, id int, v double")
    got = {
        r["k"]: (r["n_entities"], r["gini"])
        for r in gini_by_group(df, "k", "v", "id").collect()
    }
    assert got["a"] == (4, 0.0)
    # one entity holds everything: G = (2*4*10 - 5*10) / (4*10) = 0.75
    assert got["b"] == (4, 0.75)


def test_gini_zero_total_is_null(spark):
    from fxspark.ops.stats import gini_by_group

    df = spark.createDataFrame(
        [("a", 0, 0.0), ("a", 1, 0.0)], "k string, id int, v double"
    )
    (row,) = gini_by_group(df, "k", "v", "id").collect()
    assert row["gini"] is None


def test_cumulative_hazard_hand_example(spark):
    from fxspark.ops.stats import cumulative_hazard

    # deaths at t=1 (x2) and t=3; censor at t=2
    df = spark.createDataFrame(
        [(1, True), (1, True), (2, False), (3, True)],
        "t_days int, ev boolean",
    )
    rows = {
        r["t_days"]: r for r in cumulative_hazard(df, "t_days", "ev").collect()
    }
    assert set(rows) == {1, 3}  # censor-only times emit no row
    assert rows[1]["deaths"] == 2 and rows[1]["at_risk"] == 4
    assert rows[1]["hazard_ppm"] == 500_000
    assert rows[3]["deaths"] == 1 and rows[3]["at_risk"] == 1
    assert rows[3]["cum_hazard_ppm"] == 1_500_000


def test_welch_ttest_matches_numpy(spark):
    import numpy as np

    from fxspark.ops.stats import welch_ttest
    from pyspark.sql import functions as F

    a = [10.5, 12.0, 11.25, 13.5, 10.0]
    b = [9.0, 9.5, 8.75, 10.25]
    df = spark.createDataFrame(
        [("g", v, True) for v in a] + [("g", v, False) for v in b],
        "k string, v double, treat boolean",
    )
    (row,) = welch_ttest(df, "k", F.col("v"), F.col("treat")).collect()
    va, vb = np.var(a, ddof=1), np.var(b, ddof=1)
    se = va / len(a) + vb / len(b)
    t = (np.mean(a) - np.mean(b)) / np.sqrt(se)
    dfree = se * se / (
        (va / len(a)) ** 2 / (len(a) - 1) + (vb / len(b)) ** 2 / (len(b) - 1)
    )
    assert row["n_treat"] == 5 and row["n_ctrl"] == 4
    assert abs(row["t_stat"] - t) < 1e-9
    assert abs(row["welch_df"] - dfree) < 1e-9


def test_welch_ttest_degenerate_side_is_null(spark):
    from fxspark.ops.stats import welch_ttest
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("g", 1.0, True), ("g", 2.0, False), ("g", 3.0, False)],
        "k string, v double, treat boolean",
    )
    (row,) = welch_ttest(df, "k", F.col("v"), F.col("treat")).collect()
    assert row["t_stat"] is None and row["welch_df"] is None


def test_scd2_asof_enrich_before_first_version(spark):
    """A fact earlier than every dimension version keeps NULL payload —
    the left-join semantics purchase_regime_enrich declares."""
    from fxspark.ops.asof import asof_join

    dim = spark.createDataFrame(
        [(1, "view", 100)], "user_id int, regime_type string, p_ts long"
    ).select(
        "user_id", "regime_type", F.col("p_ts").alias("regime_since"), "p_ts"
    )
    facts = spark.createDataFrame(
        [(1, 50), (1, 150)], "user_id int, p_ts long"
    )
    got = {
        r["p_ts"]: r["regime_type"]
        for r in asof_join(
            facts, dim, keys="user_id", on="p_ts",
            right_payload=["regime_type", "regime_since"],
            right_tiebreak=["regime_type"],
        ).collect()
    }
    assert got == {50: None, 150: "view"}


# ---------------------------------------------------------------------------
# Apriori itemsets + offline changepoint (round-7 wave 2)
# ---------------------------------------------------------------------------


def test_frequent_triples_matches_bruteforce(spark):
    from itertools import combinations

    from fxspark.ops.itemsets import frequent_pairs, frequent_triples

    baskets = [
        (1, ["a", "b", "c"]),
        (2, ["a", "b", "c", "d"]),
        (3, ["a", "b", "d"]),
        (4, ["b", "c", "d"]),
        (5, ["a", "c"]),
        (6, ["a", "b", "c"]),
    ]
    rows = [(bid, it) for bid, its in baskets for it in its]
    df = spark.createDataFrame(rows, "bid int, item string")
    # 500000 ppm of 6 baskets -> minsup = 3
    got3 = {
        (r["i1"], r["i2"], r["i3"]): r["support"]
        for r in frequent_triples(df, "bid", "item", 500_000).collect()
    }
    want3 = {}
    for t in combinations("abcd", 3):
        s = sum(1 for _, its in baskets if set(t) <= set(its))
        if s >= 3:
            want3[t] = s
    assert got3 == want3
    got2 = {
        (r["i1"], r["i2"]): r["support"]
        for r in frequent_pairs(df, "bid", "item", 500_000).collect()
    }
    want2 = {}
    for t in combinations("abcd", 2):
        s = sum(1 for _, its in baskets if set(t) <= set(its))
        if s >= 3:
            want2[t] = s
    assert got2 == want2


def test_frequent_triples_duplicate_lines_count_once(spark):
    """Support is per-basket: repeated (basket, item) lines must not
    inflate counts (the distinct() inside the op)."""
    from fxspark.ops.itemsets import frequent_triples

    rows = [(1, "a"), (1, "a"), (1, "b"), (1, "c"), (2, "a"), (2, "b"),
            (2, "c"), (2, "c")]
    df = spark.createDataFrame(rows, "bid int, item string")
    got = {
        (r["i1"], r["i2"], r["i3"]): r["support"]
        for r in frequent_triples(df, "bid", "item", 1_000_000).collect()
    }
    assert got == {("a", "b", "c"): 2}


def test_changepoint_single_finds_level_shift(spark):
    from fxspark.ops.stats import changepoint_single

    # clean shift: 5 points at 10, then 5 points at 50
    rows = [("u", i, 10.0 if i < 5 else 50.0) for i in range(10)]
    df = spark.createDataFrame(rows, "k string, t int, v double")
    (r,) = changepoint_single(df, "k", ["t"], "v").collect()
    assert r["cp_t"] == 4  # last point of the left segment
    assert r["n_obs"] == 10
    assert abs(r["mean_before"] - 10.0) < 1e-12
    assert abs(r["mean_after"] - 50.0) < 1e-12


def test_changepoint_single_constant_series_ties_to_earliest(spark):
    from fxspark.ops.stats import changepoint_single

    rows = [("u", i, 7.0) for i in range(6)]
    df = spark.createDataFrame(rows, "k string, t int, v double")
    (r,) = changepoint_single(df, "k", ["t"], "v").collect()
    # all gains are exactly 0 -> earliest split wins
    assert r["cp_t"] == 0 and abs(r["gain"]) < 1e-9


def test_changepoint_single_skips_singletons(spark):
    from fxspark.ops.stats import changepoint_single

    df = spark.createDataFrame(
        [("solo", 1, 5.0), ("pair", 1, 1.0), ("pair", 2, 9.0)],
        "k string, t int, v double",
    )
    got = {r["k"]: r for r in changepoint_single(df, "k", ["t"], "v").collect()}
    assert set(got) == {"pair"}
    assert got["pair"]["cp_t"] == 1


# ---------------------------------------------------------------------------
# Property tests: wave 4-6 ops vs brute-force reference implementations
# ---------------------------------------------------------------------------

ints = st.lists(st.integers(min_value=0, max_value=50), min_size=2, max_size=12)


@given(values=ints)
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
def test_gini_matches_bruteforce(spark, values):
    from fxspark.ops.stats import gini_by_group

    df = spark.createDataFrame(
        [("k", i, float(v)) for i, v in enumerate(values)],
        "k string, id int, v double",
    )
    (row,) = gini_by_group(df, "k", "v", "id").collect()
    xs = sorted(values)
    n, sx = len(xs), sum(xs)
    if sx == 0:
        assert row["gini"] is None
        return
    six = sum((i + 1) * x for i, x in enumerate(xs))
    want = (2.0 * six - (n + 1.0) * sx) / (n * float(sx))
    assert abs(row["gini"] - want) < 1e-12


@given(data=st.lists(
    st.tuples(st.integers(min_value=0, max_value=8), st.booleans()),
    min_size=1, max_size=15))
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
def test_cumulative_hazard_matches_bruteforce(spark, data):
    from fxspark.ops.stats import cumulative_hazard

    df = spark.createDataFrame(data, "t int, ev boolean")
    got = {r["t"]: r for r in cumulative_hazard(df, "t", "ev").collect()}
    times = sorted({t for t, _ in data})
    cum = 0
    want = {}
    for t in times:
        d = sum(1 for tt, ev in data if tt == t and ev)
        n = sum(1 for tt, _ in data if tt >= t)
        h = d * 1_000_000 // n
        cum += h
        if d > 0:
            want[t] = (d, n, h, cum)
    assert set(got) == set(want)
    for t, (d, n, h, cumv) in want.items():
        r = got[t]
        assert (r["deaths"], r["at_risk"], r["hazard_ppm"],
                r["cum_hazard_ppm"]) == (d, n, h, cumv)


@given(values=st.lists(
    st.floats(min_value=-100, max_value=100, allow_nan=False,
              allow_infinity=False, width=32),
    min_size=2, max_size=10))
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
def test_changepoint_matches_bruteforce(spark, values):
    from fxspark.ops.stats import changepoint_single

    df = spark.createDataFrame(
        [("k", i, float(v)) for i, v in enumerate(values)],
        "k string, t int, v double",
    )
    (row,) = changepoint_single(df, "k", ["t"], "v").collect()
    # brute force replicating the op's exactness contract: per-row
    # decimal(38,6) casts (HALF_UP, same as Spark's decimal cast of a
    # double), decimal-exact prefix sums, double gains on those sums,
    # strict argmax with earliest-position ties.
    from decimal import ROUND_HALF_UP, Decimal

    q = Decimal("0.000001")
    dec = [Decimal(v).quantize(q, ROUND_HALF_UP) for v in values]
    n = len(dec)
    s = sum(dec)
    best = None
    sl = Decimal(0)
    for i in range(1, n):
        sl += dec[i - 1]
        slf, sf = float(sl), float(s)
        g = slf * slf / i + (sf - slf) * (sf - slf) / (n - i) - sf * sf / n
        if best is None or g > best[1]:
            best = (i - 1, g)
    cp, gain = best
    assert row["cp_t"] == cp
    assert row["gain"] == gain


def test_triangles_per_node_matches_bruteforce(spark):
    from itertools import combinations

    from fxspark.ops.graph import triangles_per_node

    # K4 on {1,2,3,4} plus a pendant 5 and a hub 6 wired to 1,2 (one
    # extra triangle 1-2-6); edges fed duplicated and in both directions
    base = list(combinations([1, 2, 3, 4], 2)) + [(4, 5), (1, 6), (2, 6)]
    edges = base + [(b, a) for a, b in base] + base[:3]
    df = spark.createDataFrame(edges, "src int, dst int")
    got = {r["node"]: r for r in triangles_per_node(df).collect()}

    adj = {}
    for a, b in base:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    for n, nb in adj.items():
        t = sum(1 for x, y in combinations(sorted(nb), 2) if y in adj[x])
        d = len(nb)
        if d < 2:
            assert n not in got
            continue
        r = got[n]
        assert (r["deg"], r["triangles"]) == (d, t), (n, r)
        assert abs(r["clustering"] - 2.0 * t / (d * (d - 1))) < 1e-12


# ---------------------------------------------------------------------------
# ADVICE r6 NULL-handling pins (nearest_join / k_smallest / k_largest)
# ---------------------------------------------------------------------------


def test_nearest_join_drops_null_on_right_rows(spark):
    """A right row with NULL `on` must be dropped entirely — not leak its
    payload through the backward frame with a desynced matched-time
    (ADVICE r6 finding 1)."""
    from fxspark.ops.asof import nearest_join

    left = spark.createDataFrame(
        [(1, "2024-01-01 00:01:40")], "k int, t string"
    ).select("k", F.col("t").cast("timestamp").alias("t"))
    right = spark.createDataFrame(
        [(1, None, "null-time"), (1, "2024-01-01 00:01:30", "real")],
        "k int, t string, pay string",
    ).select("k", F.col("t").cast("timestamp").alias("t"), "pay")
    (row,) = nearest_join(
        left, right, keys="k", on="t", right_payload=["pay"]
    ).collect()
    assert row["pay"] == "real"
    assert row["t_near"] is not None and row["t_near"].second == 30


def test_k_smallest_and_largest_ignore_null_order_values(spark):
    """NULLs sort first in Spark ascending order and -NULL stays NULL, so
    without the filter a NULL row would win BOTH directions
    (ADVICE r6 finding 2)."""
    from fxspark.ops.latest import k_largest_global, k_smallest_per_key

    df = spark.createDataFrame(
        [("a", None, 0), ("a", 5, 1), ("a", 1, 2), ("a", 9, 3)],
        "k string, v int, id int",
    )
    small = k_smallest_per_key(df, "k", ["v", "id"], 2).collect()
    assert sorted(r["v"] for r in small) == [1, 5]
    big = k_largest_global(df, "v", 2, tiebreak="id")
    assert sorted(r["v"] for r in big.collect()) == [5, 9]
