"""The stateful stream operators of ``fxspark.streaming.stateful``: state
carried across micro-batches and query restarts, parity with each
operator's batch twin, and output schemas that follow the caller's
column names and key type."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import Row, Window


def test_stateful_pair_stats_across_batches(spark, tmp_path):
    """applyInPandasWithState: per-key state (count, EWMA, last) must carry
    ACROSS micro-batches — two files forced into two batches via
    maxFilesPerTrigger=1; the final EUR/USD row reflects all four events."""
    from fxspark.streaming.stateful import stateful_pair_stats

    drops = tmp_path / "sdrops"
    drops.mkdir()
    rows1 = [
        {"ccy_couple": "EUR/USD", "event_time": 1, "rate": 1.0},
        {"ccy_couple": "EUR/USD", "event_time": 2, "rate": 2.0},
        {"ccy_couple": "GBP/USD", "event_time": 1, "rate": 1.25},
    ]
    rows2 = [
        {"ccy_couple": "EUR/USD", "event_time": 3, "rate": 3.0},
        {"ccy_couple": "EUR/USD", "event_time": 4, "rate": 4.0},
    ]
    for name, rows in (("a.json", rows1), ("b.json", rows2)):
        with open(drops / name, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")

    schema = "ccy_couple string, event_time long, rate double"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(drops))
    )
    q = (
        stateful_pair_stats(stream)
        .writeStream.format("memory")
        .queryName("pair_stats")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql(
        "SELECT * FROM pair_stats WHERE ccy_couple = 'EUR/USD' "
        "ORDER BY n_total DESC LIMIT 1"
    ).collect()[0]
    # EWMA with alpha=0.5 over 1,2,3,4: 1 → 1.5 → 2.25 → 3.125
    assert out["n_total"] == 4
    assert out["ewma"] == pytest.approx(3.125)
    assert out["last_rate"] == 4.0

    # parity: the batch declared-fold twin (ops/windows.keyed_ewma) computes
    # the SAME recurrence on the union of both batches — the streaming
    # operator's semantics are thereby pinned by the oracle-checked batch op
    from fxspark.ops.windows import keyed_ewma

    batch = spark.createDataFrame(
        [Row(**r) for r in rows1 + rows2]
    )
    twin = {
        r["ccy_couple"]: r
        for r in keyed_ewma(
            batch, "ccy_couple", ["event_time"], "rate", alpha=0.5
        ).collect()
    }
    assert twin["EUR/USD"]["n_total"] == out["n_total"]
    assert twin["EUR/USD"]["ewma"] == pytest.approx(out["ewma"])
    assert twin["EUR/USD"]["last_value"] == out["last_rate"]
    assert twin["GBP/USD"]["ewma"] == pytest.approx(1.25)


def test_stateful_state_survives_query_restart(spark, tmp_path):
    """Fault-tolerance contract: applyInPandasWithState state lives in the
    CHECKPOINT, not the query object — a brand-new query started from the
    same checkpoint continues per-key counters/EWMA instead of restarting
    from zero (executor/driver loss ⇒ only the failed micro-batch replays)."""
    from fxspark.streaming.stateful import stateful_pair_stats

    drops = tmp_path / "rdrops"
    drops.mkdir()
    ckpt = str(tmp_path / "ckpt")
    schema = "ccy_couple string, event_time long, rate double"

    out_dir = str(tmp_path / "out")

    def start():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(str(drops))
        )

        def sink(batch_df, batch_id):
            batch_df.write.mode("append").parquet(out_dir)

        # memory sink can't recover from a checkpoint; foreachBatch can —
        # and is the shape the production upsert stream uses anyway.
        return (
            stateful_pair_stats(stream)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    with open(drops / "a.json", "w") as f:
        for r in ({"ccy_couple": "EUR/USD", "event_time": 1, "rate": 1.0},
                  {"ccy_couple": "EUR/USD", "event_time": 2, "rate": 2.0}):
            f.write(json.dumps(r) + "\n")
    q1 = start()
    q1.awaitTermination(120)

    # second drop lands AFTER the first query fully stopped
    with open(drops / "b.json", "w") as f:
        for r in ({"ccy_couple": "EUR/USD", "event_time": 3, "rate": 3.0},
                  {"ccy_couple": "EUR/USD", "event_time": 4, "rate": 4.0}):
            f.write(json.dumps(r) + "\n")
    q2 = start()
    q2.awaitTermination(120)

    out = (
        spark.read.parquet(out_dir)
        .filter("ccy_couple = 'EUR/USD'")
        .orderBy("n_total", ascending=False)
        .collect()[0]
    )
    # state carried over the restart: 4 events total, EWMA 3.125 (not 3.5,
    # which a from-zero restart over only events 3,4 would give)
    assert out["n_total"] == 4
    assert out["ewma"] == pytest.approx(3.125)


def test_stateful_cusum_across_batches_matches_batch_closed_form(
    spark, tmp_path
):
    """Streaming CUSUM (O(1) state: running sum + low-water-mark) must
    carry state across micro-batches and land exactly on the batch
    closed-form operator's final chart value for every key."""
    import numpy as np

    from fxspark.streaming.stateful import stateful_cusum

    rng = np.random.RandomState(9)
    rows = [
        {"user_id": k, "ts": t, "value": float(v)}
        for k in (1, 2)
        for t, v in enumerate(np.round(rng.randn(40) + 0.4, 3))
    ]
    half = len(rows) // 2
    drops = tmp_path / "cdrops"
    drops.mkdir()
    for name, chunk in (("a.json", rows[:half]), ("b.json", rows[half:])):
        with open(drops / name, "w") as f:
            for r in chunk:
                f.write(json.dumps(r) + "\n")

    schema = "user_id long, ts long, value double"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(drops))
    )
    q = (
        stateful_cusum(
            stream, target=0.2, slack=0.1, threshold=1.0
        )
        .writeStream.format("memory")
        .queryName("cusum_stream")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["user_id"]: r
        for r in spark.sql(
            "SELECT * FROM (SELECT *, row_number() OVER ("
            "PARTITION BY user_id ORDER BY n_total DESC) rn "
            "FROM cusum_stream) WHERE rn = 1"
        ).collect()
    }

    from fxspark.ops.windows import keyed_cusum
    from pyspark.sql import functions as F

    batch = keyed_cusum(
        spark.createDataFrame([Row(**r) for r in rows]),
        keys="user_id",
        order=["ts"],
        value_col="value",
        target=F.lit(0.2),
        slack=0.1,
        threshold=1.0,
    )
    last = {
        r["user_id"]: r
        for r in batch.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy(F.desc("ts"))
            ),
        )
        .filter("rn = 1")
        .collect()
    }
    n_alerts = {
        r["user_id"]: r["na"]
        for r in batch.groupBy("user_id")
        .agg(F.sum(F.col("alert").cast("long")).alias("na"))
        .collect()
    }
    for k in (1, 2):
        assert got[k]["n_total"] == 40
        assert got[k]["cusum"] == pytest.approx(last[k]["cusum"], abs=1e-9)
        assert got[k]["n_alerts"] == n_alerts[k]


def test_stateful_kmv_distinct_matches_batch_sketch(spark, tmp_path):
    """Streaming KMV (bounded k-array state) must land on the IDENTICAL
    estimate as the batch sketch over the same ids — declared randomness
    makes the approximate state restart-verifiable, not just similar."""
    import hashlib

    from fxspark.streaming.stateful import stateful_kmv_distinct

    k = 16
    ids = [f"id{i}" for i in range(200)]  # 200 distinct > k -> estimation path
    rows = [
        {"event_type": "click", "event_id": v} for v in ids + ids[:50]
    ]  # duplicates must not affect the sketch
    half = len(rows) // 2
    drops = tmp_path / "kdrops"
    drops.mkdir()
    for name, chunk in (("a.json", rows[:half]), ("b.json", rows[half:])):
        with open(drops / name, "w") as f:
            for r in chunk:
                f.write(json.dumps(r) + "\n")

    stream = (
        spark.readStream.schema("event_type string, event_id string")
        .option("maxFilesPerTrigger", 1)
        .json(str(drops))
    )
    q = (
        stateful_kmv_distinct(stream, k=k)
        .writeStream.format("memory")
        .queryName("kmv_stream")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql(
        "SELECT * FROM kmv_stream ORDER BY n_seen DESC LIMIT 1"
    ).collect()[0]

    # reference: the same declared sketch computed directly
    hs = sorted(
        {
            int(hashlib.md5(v.encode()).hexdigest()[:15], 16) / float(2**60)
            for v in ids
        }
    )[:k]
    want = int(round((k - 1) / hs[k - 1]))
    assert got["n_seen"] == len(rows)
    assert got["est_distinct"] == want
    # sketch sanity: estimate within 50% of truth at k=16
    assert abs(got["est_distinct"] - 200) / 200 < 0.5


def test_stateful_histogram_matches_batch_bins(spark, tmp_path):
    """Streaming fixed-bin histogram (O(n_bins) state) must carry bin
    counters across micro-batches and land exactly on the batch bin counts
    over the same prefix when the declared edges equal the batch
    min/width — the parity stream_histogram_replay's oracle states."""
    import math

    from fxspark.streaming.stateful import stateful_histogram

    vals = {
        "click": [1.0, 2.5, 7.75, 9.9, 2.5, 0.0, 5.5, 9.9, 3.3],
        "view": [4.0, 4.1, 0.2, 8.8, 6.6],
    }
    rows = [
        {"event_type": t, "value": v} for t, vs in vals.items() for v in vs
    ]
    allv = [v for vs in vals.values() for v in vs]
    lo, hi = min(allv), max(allv)
    n_bins = 8
    width = (hi - lo) / n_bins

    half = len(rows) // 2
    drops = tmp_path / "hdrops"
    drops.mkdir()
    for name, chunk in (("a.json", rows[:half]), ("b.json", rows[half:])):
        with open(drops / name, "w") as f:
            for r in chunk:
                f.write(json.dumps(r) + "\n")

    stream = (
        spark.readStream.schema("event_type string, value double")
        .option("maxFilesPerTrigger", 1)
        .json(str(drops))
    )
    q = (
        stateful_histogram(stream, lo=lo, width=width, n_bins=n_bins)
        .writeStream.format("memory")
        .queryName("hist_stream")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # last emission per type = the one with the largest total count
    got = {}
    for r in spark.sql(
        "SELECT event_type, bin, cnt, sum(cnt) OVER (PARTITION BY "
        "event_type, grp) AS tot FROM (SELECT *, 0 AS grp FROM hist_stream)"
    ).collect():
        cur = got.setdefault(r["event_type"], {})
        cur[r["bin"]] = max(cur.get(r["bin"], 0), r["cnt"])

    for t, vs in vals.items():
        want = {}
        for v in vs:
            b = min(n_bins - 1, int(math.floor((v - lo) / width)))
            want[b] = want.get(b, 0) + 1
        assert got[t] == want, (t, got[t], want)


def test_stateful_debounce_matches_batch_rule(spark, tmp_path):
    """Streaming debounce must keep exactly the events the batch
    sessionize+keep-first rule keeps, with burst state carried ACROSS
    micro-batches: a batch boundary inside a burst must not re-open it."""
    from fxspark.streaming.stateful import stateful_debounce

    def t(sec):
        return f"2024-01-01 00:{sec // 60:02d}:{sec % 60:02d}"

    # user 1: burst [0, 5, 12] (12 extends: 12 <= 5+10), new burst at 30
    # user 2: two singleton bursts
    rows = [
        {"user_id": 1, "event_id": 10, "ts": t(0)},
        {"user_id": 1, "event_id": 11, "ts": t(5)},
        {"user_id": 2, "event_id": 20, "ts": t(0)},
        # --- batch boundary inside user 1's burst ---
        {"user_id": 1, "event_id": 12, "ts": t(12)},
        {"user_id": 1, "event_id": 13, "ts": t(30)},
        {"user_id": 2, "event_id": 21, "ts": t(100)},
    ]
    drops = tmp_path / "ddrops"
    drops.mkdir()
    for name, chunk in (("a.json", rows[:3]), ("b.json", rows[3:])):
        with open(drops / name, "w") as f:
            for r in chunk:
                f.write(json.dumps(r) + "\n")

    stream = (
        spark.readStream.schema("user_id long, event_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .json(str(drops))
    )
    q = (
        stateful_debounce(stream, gap_seconds=10)
        .writeStream.format("memory")
        .queryName("debounce_stream")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    kept = {
        r["event_id"]
        for r in spark.sql("SELECT event_id FROM debounce_stream").collect()
    }
    # batch rule replicated: keep iff gap from previous event > 10 s
    want = set()
    last = {}
    for r in sorted(rows, key=lambda r: (r["user_id"], r["ts"], r["event_id"])):
        sec = int(r["ts"][-5:-3]) * 60 + int(r["ts"][-2:])
        if r["user_id"] not in last or sec > last[r["user_id"]] + 10:
            want.add(r["event_id"])
        last[r["user_id"]] = sec
    assert kept == want == {10, 13, 20, 21}


def test_histogram_stream_derives_batch_quantiles(spark, tmp_path):
    """Closing the quantile loop (NOTES_r8 candidate): the quantiles
    events_histogram_quantiles derives from cumulative bin counts must be
    derivable from the stateful histogram's LAST emission — same integer
    rank predicate (cum*100 >= q*n), same upper-edge arithmetic."""
    import math

    from fxspark.streaming.stateful import stateful_histogram

    vals = [1.0, 2.0, 2.5, 3.0, 5.0, 7.5, 9.0, 9.9, 0.5, 4.2, 6.6, 8.8]
    lo, hi = min(vals), max(vals)
    n_bins = 8
    width = (hi - lo) / n_bins
    rows = [{"event_type": "x", "value": v} for v in vals]
    drops = tmp_path / "qdrops"
    drops.mkdir()
    for name, chunk in (("a.json", rows[:6]), ("b.json", rows[6:])):
        with open(drops / name, "w") as f:
            for r in chunk:
                f.write(json.dumps(r) + "\n")
    stream = (
        spark.readStream.schema("event_type string, value double")
        .option("maxFilesPerTrigger", 1)
        .json(str(drops))
    )
    q = (
        stateful_histogram(stream, lo=lo, width=width, n_bins=n_bins)
        .writeStream.format("memory")
        .queryName("quant_stream")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # last emission = max cnt per bin (counters are monotone)
    bins = {}
    for r in spark.sql("SELECT bin, cnt FROM quant_stream").collect():
        bins[r["bin"]] = max(bins.get(r["bin"], 0), r["cnt"])
    n = sum(bins.values())
    assert n == len(vals)

    def q_est(pct):
        cum = 0
        for b in sorted(bins):
            cum += bins[b]
            if cum * 100 >= pct * n:
                return lo + (b + 1) * width
        raise AssertionError("rank not crossed")

    # reference: batch rule straight on the values
    def batch_est(pct):
        cnt = {}
        for v in vals:
            b = min(n_bins - 1, int(math.floor((v - lo) / width)))
            cnt[b] = cnt.get(b, 0) + 1
        cum = 0
        for b in sorted(cnt):
            cum += cnt[b]
            if cum * 100 >= pct * len(vals):
                return lo + (b + 1) * width

    for pct in (50, 90, 99):
        assert q_est(pct) == batch_est(pct)


def test_stateful_topk_across_batches_matches_batch_rank(spark, tmp_path):
    """Streaming per-group top-k (O(k) array state) must land exactly on
    the batch rank closed form over the full prefix, including value
    ties broken by id, with state carried across micro-batches."""
    import json as _json

    from fxspark.streaming.stateful import stateful_topk

    rows = [
        {"event_type": g, "event_id": i, "value": float(v)}
        for g in ("a", "b")
        for i, v in enumerate([5.0, 1.0, 5.0, 3.0, 9.0, 2.0, 9.0, 4.0])
    ]
    half = len(rows) // 2
    drops = tmp_path / "tkdrops"
    drops.mkdir()
    for name, chunk in (("a.json", rows[:half]), ("b.json", rows[half:])):
        with open(drops / name, "w") as f:
            for r in chunk:
                f.write(_json.dumps(r) + "\n")

    schema = "event_type string, event_id long, value double"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(drops))
    )
    q = (
        stateful_topk(stream, k=3)
        .writeStream.format("memory")
        .queryName("topk_stream")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # The update-mode memory sink appends EVERY batch's emission and rows
    # carry no batch id — but the buffer fold is monotone (the candidate
    # set only grows), so the FINAL rank-r entry is the maximum over all
    # emissions at rank r under the (value DESC, id ASC) total order.
    got = {}
    for r in spark.sql(
        "SELECT event_type, rk, event_id, value FROM topk_stream"
    ).collect():
        key = (r["event_type"], r["rk"])
        cand = (r["value"], -r["event_id"])
        if key not in got or cand > got[key][0]:
            got[key] = (cand, (r["event_id"], r["value"]))
    got = {k: v[1] for k, v in got.items()}
    # batch closed form per group: (value DESC, id ASC) top 3
    for g in ("a", "b"):
        vals = [(r["value"], r["event_id"]) for r in rows_as(rows, g)]
        vals.sort(key=lambda p: (-p[0], p[1]))
        for rk, (v, i) in enumerate(vals[:3], start=1):
            assert got[(g, rk)] == (i, v), (g, rk, got[(g, rk)], (i, v))


def rows_as(rows, g):
    from pyspark.sql import Row

    return [Row(**r) for r in rows if r["event_type"] == g]


def _custom_pair_stats(run):
    from fxspark.streaming.stateful import stateful_pair_stats

    res = run(
        "pair_stats_custom",
        [(7, 2, 2.0), (7, 1, 1.0)],
        "pk int, t long, px double",
        lambda s: stateful_pair_stats(
            s, key_col="pk", order_col="t", rate_col="px"
        ),
    )
    assert sorted(res.columns) == ["ewma", "last_rate", "n_total", "pk"]
    # one batch in t order: ewma 1.0 -> 0.5*2.0 + 0.5*1.0
    assert res.values.tolist() == [[7, 2, 1.5, 2.0]]


def _custom_cusum(run):
    from fxspark.streaming.stateful import stateful_cusum

    res = run(
        "cusum_custom",
        [("u1", 2, 2.0), ("u1", 1, 1.0)],
        "uid string, seq long, x double",
        lambda s: stateful_cusum(
            s, key_col="uid", order_col="seq", value_col="x"
        ),
    )
    assert sorted(res.columns) == ["cusum", "n_alerts", "n_total", "uid"]
    assert res.values.tolist() == [["u1", 2, 3.0, 2]]


def _custom_kmv(run):
    from fxspark.streaming.stateful import stateful_kmv_distinct

    res = run(
        "kmv_custom",
        [(3, "a"), (3, "b"), (3, "a")],
        "gk int, item string",
        lambda s: stateful_kmv_distinct(s, group_col="gk", id_col="item"),
    )
    assert sorted(res.columns) == ["est_distinct", "gk", "n_seen"]
    assert res.values.tolist() == [[3, 3, 2]]


def _custom_hist(run):
    from fxspark.streaming.stateful import stateful_histogram

    res = run(
        "hist_custom",
        [(3, 0.5), (3, 1.5), (3, 1.7)],
        "gk int, x double",
        lambda s: stateful_histogram(
            s, lo=0.0, width=1.0, n_bins=4, group_col="gk", value_col="x"
        ),
    )
    assert sorted(res.columns) == ["bin", "cnt", "gk"]
    assert sorted(res.values.tolist()) == [[3, 0, 1], [3, 1, 2]]


def _custom_debounce(run):
    import datetime as dt

    from fxspark.streaming.stateful import stateful_debounce

    t0 = dt.datetime(2024, 1, 1)
    res = run(
        "debounce_custom",
        [
            ("u", 1, t0),
            ("u", 2, t0 + dt.timedelta(seconds=5)),
            ("u", 3, t0 + dt.timedelta(seconds=30)),
        ],
        "uid string, eid long, at timestamp",
        lambda s: stateful_debounce(
            s, gap_seconds=10, key_col="uid", ts_col="at", id_col="eid"
        ),
    )
    assert sorted(res.columns) == ["at", "eid", "uid"]
    assert sorted(res.eid) == [1, 3] and set(res.uid) == {"u"}
    assert res["at"].notna().all()


def _custom_topk(run):
    import pandas as pd

    from fxspark.streaming.stateful import stateful_topk

    res = run(
        "topk_custom_cols",
        [("a", 1, 5.0), ("a", 2, 9.0), ("b", 3, 1.0)],
        "grp string, item long, score double",
        lambda s: stateful_topk(
            s, k=2, group_col="grp", id_col="item", value_col="score"
        ),
    )
    assert sorted(res.columns) == ["grp", "item", "rk", "score"]
    a = res[res.grp == "a"].sort_values("rk")
    assert list(a.item) == [2, 1] and list(a.score) == [9.0, 5.0]
    assert list(res[res.grp == "b"].item) == [3]
    assert isinstance(res, pd.DataFrame)

    # INT-typed group column: the output schema derives the group type
    # from the input schema, not a hard-coded string
    res_i = run(
        "topk_int_group",
        [(7, 1, 5.0), (7, 2, 9.0)],
        "gk int, item long, score double",
        lambda s: stateful_topk(
            s, k=1, group_col="gk", id_col="item", value_col="score"
        ),
    )
    assert list(res_i.gk) == [7] and list(res_i.item) == [2]


CUSTOM_COLUMN_CASES = {
    "pair_stats": _custom_pair_stats,
    "cusum": _custom_cusum,
    "kmv": _custom_kmv,
    "hist": _custom_hist,
    "debounce": _custom_debounce,
    "topk": _custom_topk,
}


@pytest.mark.parametrize("op", sorted(CUSTOM_COLUMN_CASES))
def test_stateful_custom_column_names(spark, tmp_path, op):
    """Every operator's output schema must follow the caller's column
    names (applyInPandasWithState matches pandas labels BY NAME) and take
    the key's type from the input schema: each case renames every
    parameterized column and keys on a non-default type, and its key
    column must come back non-NULL."""

    def run(name, rows, ddl, build):
        src = spark.createDataFrame(rows, ddl)
        path = str(tmp_path / name)
        src.write.parquet(path)
        q = (
            build(spark.readStream.schema(src.schema).parquet(path))
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        res = spark.sql(f"select * from {name}").toPandas()
        key = src.columns[0]
        assert len(res) > 0 and res[key].notna().all()
        return res

    CUSTOM_COLUMN_CASES[op](run)
