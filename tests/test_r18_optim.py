"""Round-18 optimization pin: load_table re-pins its session confs on
cache HITS too (round-18 ADVICE).
"""
from __future__ import annotations


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
