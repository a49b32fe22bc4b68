"""Round-6 third-wave operators: nearest-in-time join, gaps-and-islands
streaks, bounded k-smallest-per-key, Z-set aggregate maintenance.
(Containment scoring lives in ``test_dedup.py``.)"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Window
from pyspark.sql import functions as F


def _ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


def test_nearest_join_picks_closer_side(spark):
    from fxspark.ops.asof import nearest_join

    left = spark.createDataFrame(
        [
            (1, _ts("2024-01-01 10:00:00"), "a"),  # closer backward (09:59)
            (1, _ts("2024-01-01 12:00:00"), "b"),  # closer forward (12:00:30)
            (2, _ts("2024-01-01 10:00:00"), "c"),  # no right rows for key 2
        ],
        "k int, ts timestamp, tag string",
    )
    right = spark.createDataFrame(
        [
            (1, _ts("2024-01-01 09:59:00"), 10),
            (1, _ts("2024-01-01 11:58:00"), 20),
            (1, _ts("2024-01-01 12:00:30"), 30),
        ],
        "k int, ts timestamp, v int",
    )
    out = {
        r["tag"]: r
        for r in nearest_join(left, right, "k", "ts").collect()
    }
    assert out["a"]["v"] == 10
    assert out["b"]["v"] == 30
    assert out["c"]["v"] is None and out["c"]["ts_near"] is None


def test_nearest_join_tie_prefers_backward_and_tolerance(spark):
    from fxspark.ops.asof import nearest_join

    left = spark.createDataFrame(
        [(1, _ts("2024-01-01 10:00:00"))], "k int, ts timestamp"
    )
    right = spark.createDataFrame(
        [
            (1, _ts("2024-01-01 09:59:00"), "back"),
            (1, _ts("2024-01-01 10:01:00"), "fwd"),
        ],
        "k int, ts timestamp, v string",
    )
    (row,) = nearest_join(left, right, "k", "ts").collect()
    assert row["v"] == "back"  # exact distance tie -> backward

    # tolerance below 60s excludes both
    (row,) = nearest_join(
        left, right, "k", "ts", tolerance=F.expr("INTERVAL 30 SECONDS")
    ).collect()
    assert row["v"] is None


def test_nearest_join_equal_time_and_tiebreak(spark):
    from fxspark.ops.asof import nearest_join

    left = spark.createDataFrame(
        [(1, _ts("2024-01-01 10:00:00"))], "k int, ts timestamp"
    )
    right = spark.createDataFrame(
        [
            (1, _ts("2024-01-01 10:00:00"), 7),
            (1, _ts("2024-01-01 10:00:00"), 9),
        ],
        "k int, ts timestamp, tid int",
    )
    (row,) = nearest_join(
        left, right, "k", "ts", right_tiebreak=["tid"]
    ).collect()
    # equal-time rows surface via the backward frame, tiebreak-largest wins
    assert row["tid"] == 9 and row["ts_near"] == _ts("2024-01-01 10:00:00")


def test_activity_streaks_islands_and_tie(spark):
    from fxspark.ops.windows import activity_streaks

    rows = []
    # user 1: streaks Jan 1-3 (len 3) and Jan 10-11 (len 2); dup events/day
    for d in (1, 1, 2, 3, 10, 11):
        rows.append((1, _ts(f"2024-01-{d:02d} 09:00:00")))
    # user 2: two equal-length streaks (Jan 5-6, Jan 20-21) -> earliest start
    for d in (5, 6, 20, 21):
        rows.append((2, _ts(f"2024-01-{d:02d} 23:00:00")))
    df = spark.createDataFrame(rows, "user_id int, ts timestamp")
    out = {r["user_id"]: r for r in activity_streaks(df, "user_id", "ts").collect()}
    assert out[1]["n_active_days"] == 5
    assert out[1]["n_streaks"] == 2
    assert out[1]["longest_streak"] == 3
    assert out[1]["longest_streak_start"] == dt.date(2024, 1, 1)
    assert out[2]["longest_streak"] == 2
    assert out[2]["longest_streak_start"] == dt.date(2024, 1, 5)


def test_k_smallest_per_key_equals_naive_rank(spark):
    from fxspark.ops.latest import k_smallest_per_key

    df = (
        spark.range(0, 500)
        .select(
            (F.col("id") % 3).alias("k"),
            F.md5(F.col("id").cast("string")).alias("h"),
            F.col("id"),
        )
        .repartition(7)  # force multiple scan partitions for phase 1
    )
    got = {
        (r["k"], r["id"])
        for r in k_smallest_per_key(df, "k", ["h", "id"], 10).collect()
    }
    w = Window.partitionBy("k").orderBy("h", "id")
    want = {
        (r["k"], r["id"])
        for r in df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .collect()
    }
    assert got == want and len(got) == 30


def test_delta_agg_matches_recompute_and_drops_retracted_key(spark):
    from fxspark.ops.ivm import delta_agg

    base = spark.createDataFrame(
        [("a", 10.0), ("a", 20.0), ("b", 5.0), ("c", 1.0)],
        "k string, v double",
    )
    state = base.groupBy("k").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("v").cast("decimal(38,6)"))
        .cast("decimal(38,6)")
        .alias("v"),
    )
    # insert a new 'a' row and one 'd'; retract BOTH 'c' rows worth -> drop
    delta = spark.createDataFrame(
        [("a", 30.0, 1), ("d", 7.0, 1), ("c", 1.0, -1)],
        "k string, v double, sign int",
    )
    out = {
        r["k"]: r
        for r in delta_agg(
            state, delta, ["k"], ["v"], sign_col="sign"
        ).collect()
    }
    assert "c" not in out  # count reached 0 => Z-set drop
    assert out["a"]["n_rows"] == 3 and float(out["a"]["v"]) == 60.0
    assert out["b"]["n_rows"] == 1 and float(out["b"]["v"]) == 5.0
    assert out["d"]["n_rows"] == 1 and float(out["d"]["v"]) == 7.0
