"""Round-18 optimization pins.

- The Hilbert plan-template cache returns the SAME analyzed plan for a
  same-session, same-input rebuild (driver-overhead removal), misses on a
  different input frame, and never changes values.
- load_table re-pins its session confs on cache HITS too (round-18 ADVICE).
"""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_hilbert_plan_cache_hits_and_misses(spark):
    from fxspark.ops.layout import _HILBERT_PLAN_CACHE, hilbert_layout_index

    _HILBERT_PLAN_CACHE.clear()
    base = spark.range(100).select(
        (F.col("id") % 16).alias("x"), (F.col("id") % 7).alias("y")
    )
    h1 = hilbert_layout_index(base, F.col("x"), F.col("y"), "hd", bits=4)
    # Same-session, same-result input: the rebuilt frame IS the cached plan.
    rebuilt = spark.range(100).select(
        (F.col("id") % 16).alias("x"), (F.col("id") % 7).alias("y")
    )
    h2 = hilbert_layout_index(rebuilt, F.col("x"), F.col("y"), "hd", bits=4)
    assert h2 is h1
    # Different input data: MISS (sameResult is false), fresh plan.
    other = spark.range(50).select(
        (F.col("id") % 16).alias("x"), (F.col("id") % 5).alias("y")
    )
    h3 = hilbert_layout_index(other, F.col("x"), F.col("y"), "hd", bits=4)
    assert h3 is not h1
    # Different bits: different key, fresh plan.
    h4 = hilbert_layout_index(base, F.col("x"), F.col("y"), "hd", bits=5)
    assert h4 is not h1
    # Values off the cached plan equal a fresh uncached walk.
    _HILBERT_PLAN_CACHE.clear()
    fresh = hilbert_layout_index(base, F.col("x"), F.col("y"), "hd", bits=4)
    got_cached = sorted((r["x"], r["y"], r["hd"]) for r in h1.collect())
    got_fresh = sorted((r["x"], r["y"], r["hd"]) for r in fresh.collect())
    assert got_cached == got_fresh


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
