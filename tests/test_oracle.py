"""Differential test: every declared query vs its DuckDB oracle.

This mirrors the driver's t2 correctness gate (sf0.01); the default test run
uses sf0.001 for speed — set FXSPARK_TEST_SF_DIR=/root/testdata/sf0.01 to run
at the gate's scale.
"""

from __future__ import annotations

import pytest

from fxspark.queries import ORACLE, QUERIES
from tests.oracle_diff import (
    compare, diff_report, duck_connect, run_oracle, vhash,
)

ORACLED = sorted(ORACLE.keys())


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duck_connect(sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", ORACLED)
def test_query_matches_oracle(name, spark, sf_dir, duck):
    sdf = QUERIES[name](spark, sf_dir).toPandas()
    odf = run_oracle(duck, ORACLE[name])
    res = compare(sdf, odf)
    assert res["ok"], diff_report(name, res)


# The iterative queries the benchmark's iterative_mix workload runs: each
# launches Spark jobs while it is still building.
ITERATIVE = (
    "part_copurchase_ppr",
    "nation_trade_pagerank",
    "part_copurchase_bfs",
    "orders_topk_retraction",
    "part_copurchase_clustering",
)


@pytest.mark.parametrize("name", ITERATIVE)
def test_build_and_run_leave_session_conf_unchanged(name, spark, sf_dir):
    """Shuffle width and every other setting are the session's alone:
    building a query and forcing it must not leave the conf changed."""
    before = spark.conf.getAll
    QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
    assert spark.conf.getAll == before


def test_second_pass_reuses_generated_code(spark, sf_dir):
    """The five queries' generated classes (~240 per pass here) fit the
    session's codegen cache, so a second pass compiles (almost) nothing. At
    Spark's default of 100 entries every pass evicted and recompiled them
    all; AQE may still plan a few fresh classes, hence a limit above 0."""
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def run_pass():
        before = codegen.METRIC_COMPILATION_TIME().getCount()
        for name in ITERATIVE:
            QUERIES[name](spark, sf_dir).write.format("noop").mode(
                "overwrite").save()
        return codegen.METRIC_COMPILATION_TIME().getCount() - before

    run_pass()
    assert run_pass() < 25


@pytest.mark.parametrize("name", ITERATIVE + ("events_hilbert_stats",))
def test_result_same_with_warm_and_cold_table_cache(name, spark, sf_dir):
    """A build with load_table's cache cleared and a rebuild whose loads
    all hit the cache give the same result."""
    from fxspark import session

    session._TABLE_CACHE.clear()
    cold = vhash(QUERIES[name](spark, sf_dir).toPandas())
    assert vhash(QUERIES[name](spark, sf_dir).toPandas()) == cold


def test_all_queries_run(spark, sf_dir):
    """Queries without an oracle still must run and have a stable schema."""
    for name, fn in QUERIES.items():
        df = fn(spark, sf_dir)
        assert df.columns, name
        df.limit(5).collect()


def test_gate_rotation_cycles_least_recently_verified():
    """The registry front (the driver's 50-entry check window) must hold
    the never-green queries first, then the greens whose LATEST green row
    is oldest — so all queries cycle through the driver window and their
    recorded evidence is periodically refreshed rather than left stale
    after a single green row."""
    from fxspark.queries import _driver_latest_green

    latest = _driver_latest_green()
    names = list(QUERIES)
    # the realized registry order is non-decreasing in latest-green round
    # (never-green sorts as -1, i.e. first)
    rounds = [latest.get(n, -1) for n in names]
    assert rounds == sorted(rounds)
    # sanity: the records exist and some queries ARE green (r01-r03 landed)
    assert set(latest) & set(names), "no green rows found — records missing?"
    # every query in the driver's 50-entry check window has an oracle, so
    # the window can convert fully green (no no_oracle rows) — future
    # registrations must not push an oracle-less query into the window
    from fxspark.queries import ORACLE

    window = names[:50]
    missing = [n for n in window if n not in ORACLE]
    assert not missing, f"gate-window queries without an oracle: {missing}"


def test_rotation_order_pure_function():
    """_rotation_order: never-green first (registration order preserved),
    then greens ascending by latest-green round, ties stable."""
    from fxspark.queries import _rotation_order

    names = ["a", "b", "c", "d", "e"]
    latest = {"a": 7, "b": 2, "d": 2, "e": 9}  # c never green
    assert _rotation_order(names, latest) == ["c", "b", "d", "a", "e"]
    # empty record ⇒ registration order unchanged
    assert _rotation_order(names, {}) == names
