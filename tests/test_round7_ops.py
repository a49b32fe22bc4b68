"""Round-7 operator tests: survival, inequality and A/B stats, plus the
wave 4-6 ops against brute-force references. The exact quantile binners
are tested in ``tests/test_quantile.py``."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F


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
