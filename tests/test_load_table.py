"""load_table's plan cache: a cache hit must behave exactly like a miss,
conf pins and AQE-off analysis included."""

from __future__ import annotations

import os
from contextlib import contextmanager

import pyarrow as pa
import pyarrow.parquet as pq
import pytest


@contextmanager
def _aqe_off(spark):
    """bench.py's regime: AQE off at runtime, restored afterwards."""
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)


def test_load_table_cache_hit_self_joins_like_a_miss(spark, sf_dir):
    from fxspark import session

    def self_join_rows(a, b):
        return a.join(b, a["n_regionkey"] == b["n_nationkey"]).count()

    session._TABLE_CACHE.clear()
    a = session.load_table(spark, sf_dir, "nation")
    session._TABLE_CACHE.clear()
    want = self_join_rows(a, session.load_table(spark, sf_dir, "nation"))

    # a miss, then a hit of the same table
    session._TABLE_CACHE.clear()
    a = session.load_table(spark, sf_dir, "nation")
    b = session.load_table(spark, sf_dir, "nation")
    assert self_join_rows(a, b) == want > 0


def test_load_table_rereads_nanos_columns_of_a_rewritten_file(
    spark, tmp_path
):
    from fxspark.session import load_table

    path = tmp_path / "t.parquet"
    micros = 1_700_000_000_000_000
    pq.write_table(
        pa.table({"ts": pa.array([micros], type=pa.timestamp("us"))}), path
    )
    first = load_table(spark, str(tmp_path), "t")
    assert dict(first.dtypes)["ts"] == "timestamp"
    want = first.collect()[0]["ts"]

    # same path, now TIMESTAMP(NANOS), with a later mtime
    mtime_ns = os.stat(path).st_mtime_ns
    pq.write_table(
        pa.table(
            {"ts": pa.array([micros * 1000], type=pa.timestamp("ns"))}
        ),
        path,
        version="2.6",
    )
    os.utime(path, ns=(mtime_ns + 10**9, mtime_ns + 10**9))
    second = load_table(spark, str(tmp_path), "t")
    assert dict(second.dtypes)["ts"] == "timestamp"
    assert second.collect()[0]["ts"] == want


def test_load_table_repins_confs_on_cache_hit(spark, sf_dir):
    from fxspark.session import load_table

    load_table(spark, sf_dir, "events")  # populate cache
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        load_table(spark, sf_dir, "events")  # HIT must still re-pin
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
        assert (
            spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
        )
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def test_load_table_cache_hit_joins_its_checkpointed_aggregate(
    spark, sf_dir
):
    """With AQE off, an aggregate of a cache hit, checkpointed and joined
    back to that hit, must analyze like a miss (a hit that re-aliased the
    cached frame failed with INTERNAL_ERROR: conflicting references)."""
    from pyspark.sql import functions as F

    from fxspark import session

    with _aqe_off(spark):
        session._TABLE_CACHE.clear()
        session.load_table(spark, sf_dir, "nation")
        hit = session.load_table(spark, sf_dir, "nation")
        for eager in (True, False):
            agg = (
                hit.groupBy("n_regionkey")
                .agg(F.count("*").alias("c"))
                .localCheckpoint(eager=eager)
            )
            assert hit.join(agg, "n_regionkey").count() == hit.count() > 0


@pytest.mark.parametrize(
    "name",
    ["events_value_psi", "funnel_latency_stats", "event_funnel_stages"],
)
def test_warm_build_matches_cold_with_aqe_off(name, spark, sf_dir):
    """Queries that join a checkpointed aggregate back to a loaded table:
    the second build, whose loads all hit the cache, gives the first
    build's result with AQE off."""
    from fxspark import session
    from fxspark.queries import QUERIES
    from tests.oracle_diff import vhash

    with _aqe_off(spark):
        session._TABLE_CACHE.clear()
        cold = vhash(QUERIES[name](spark, sf_dir).toPandas())
        assert vhash(QUERIES[name](spark, sf_dir).toPandas()) == cold
