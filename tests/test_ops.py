"""Operator-level unit + property tests on hand-written frames.

The reference has no tests (SURVEY.md §5); this suite encodes the invariants
its behavior implies: upsert idempotence/last-writer-wins, window-rank vs
groupBy-max agreement, second-latest semantics, and as-of join vs a naive
per-row lookup. The deduplication tests live in ``test_dedup.py``.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from fxspark.ops.asof import asof_join, nth_before_cutoff
from fxspark.ops.latest import (
    dedup_latest,
    grouped_max,
    latest_per_key_agg,
    latest_per_key_window,
)
from fxspark.ops.text import lang_id
from fxspark.ops.windows import sessionize


def ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


@pytest.fixture(scope="module")
def rates(spark):
    """exchange_rates-shaped frame (FIXTURES.md A1): duplicate natural keys
    with different ingestion times exercise last-writer-wins."""
    rows = [
        # ccy, rate, event date,            ingestion ts
        ("EUR/USD", 1.0300, "2025-01-16", "2025-01-17 09:00:00"),
        ("EUR/USD", 1.0291, "2025-01-15", "2025-01-17 09:00:00"),
        ("EUR/USD", 1.0250, "2025-01-14", "2025-01-17 09:00:00"),
        ("EUR/USD", 1.0299, "2025-01-16", "2025-01-17 09:00:30"),  # re-ingest
        ("GBP/USD", 1.2500, "2025-01-16", "2025-01-17 09:00:00"),
        ("GBP/USD", 1.2400, "2025-01-15", "2025-01-17 08:00:00"),
        ("JPY/USD", 0.0065, "2025-01-16", "2025-01-10 09:00:00"),  # stale only
    ]
    return spark.createDataFrame(
        [
            Row(
                ccy_couple=c,
                rate=r,
                date=ts(d),
                event_time=int(ts(d).timestamp() * 1000),
                timestamp=ts(t),
            )
            for c, r, d, t in rows
        ]
    )


def test_dedup_latest_last_writer_wins(rates):
    """Re-ingesting a (ccy_couple, date) keeps the newest ingestion
    (``Fx_1min.py:106-109`` ON DUPLICATE KEY UPDATE)."""
    out = dedup_latest(rates, ["ccy_couple", "date"], ["timestamp"])
    eur16 = out.filter(
        (F.col("ccy_couple") == "EUR/USD") & (F.col("date") == ts("2025-01-16"))
    ).collect()
    assert len(eur16) == 1 and eur16[0]["rate"] == 1.0299


def test_dedup_latest_idempotent(rates):
    """Upsert idempotence: dedup(dedup(x) ∪ dedup(x)) == dedup(x)."""
    once = dedup_latest(rates, ["ccy_couple", "date"], ["timestamp"])
    twice = dedup_latest(once.unionAll(once), ["ccy_couple", "date"], ["timestamp"])
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


def test_latest_agg_equals_window(rates):
    """max_by aggregate form ≡ row_number window form (plan differs, result
    must not)."""
    a = latest_per_key_agg(
        rates, "ccy_couple", ["event_time", "timestamp"], payload=["rate"]
    )
    w = latest_per_key_window(
        rates, "ccy_couple", ["event_time", "timestamp"]
    ).select("ccy_couple", "rate")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, w.collect()))


def test_second_latest_semantics(rates, spark):
    """Q9: rank 2 at/before cutoff is the second-latest, strictly-before-max
    event (``Fx_1min.py:190-196``)."""
    cutoff = F.lit("2025-01-16 23:59:59").cast("timestamp")
    # the reference ranks over the upserted (deduped) store, so dedup first
    store = dedup_latest(rates, ["ccy_couple", "date"], ["timestamp"])
    out = nth_before_cutoff(
        store, "ccy_couple", ["event_time"], cutoff=cutoff, cutoff_col="date", n=2,
    )
    got = {r["ccy_couple"]: r["rate"] for r in out.collect()}
    assert got["EUR/USD"] == 1.0291  # second-latest date 01-15
    assert got["GBP/USD"] == 1.2400
    assert "JPY/USD" not in got  # only one event → no rank 2


def test_grouped_max(rates):
    out = grouped_max(rates, "ccy_couple", "event_time")
    got = {r["ccy_couple"]: r["max_event_time"] for r in out.collect()}
    assert got["EUR/USD"] == int(ts("2025-01-16").timestamp() * 1000)


def test_asof_join_matches_naive(spark):
    """asof_join (union+window plan) ≡ naive per-left-row argmax lookup."""
    left = spark.createDataFrame(
        [Row(k="a", t=i, lv=f"L{i}") for i in (5, 10, 20)]
        + [Row(k="b", t=7, lv="L7")]
    )
    right = spark.createDataFrame(
        [Row(k="a", t=i, rv=f"R{i}") for i in (1, 6, 10, 15)]
        + [Row(k="c", t=1, rv="Rc")]
    )
    out = asof_join(left, right, keys="k", on="t", right_payload=["rv"])
    got = {(r["k"], r["t"]): r["rv"] for r in out.collect()}
    assert got == {
        ("a", 5): "R1",
        ("a", 10): "R10",  # equal timestamps match (<=)
        ("a", 20): "R15",
        ("b", 7): None,  # no right rows for key b
    }


def test_asof_join_null_keys_never_match(spark):
    """D27 pin: SQL equi-join key semantics — a NULL-key RIGHT row anchors
    nothing, a NULL-key LEFT row stays, unmatched (the union+window plan
    must not group NULL-key lefts with NULL-key rights)."""
    left = spark.createDataFrame(
        [Row(k="a", t=10, lv="La"), Row(k=None, t=10, lv="Lnull")],
        "k string, t long, lv string",
    )
    right = spark.createDataFrame(
        [Row(k="a", t=5, rv="Ra"), Row(k=None, t=5, rv="Rnull")],
        "k string, t long, rv string",
    )
    got = {
        r["lv"]: r["rv"]
        for r in asof_join(
            left, right, keys="k", on="t", right_payload=["rv"]
        ).collect()
    }
    assert got == {"La": "Ra", "Lnull": None}


def test_sessionize(spark):
    df = spark.createDataFrame(
        [Row(k="u", t=ts(x)) for x in
         ("2024-01-01 00:00:00", "2024-01-01 00:10:00",  # session 0
          "2024-01-01 01:00:00",                          # session 1 (50min gap)
          "2024-01-01 01:20:00", "2024-01-01 01:49:00")]  # still session 1
    )
    out = sessionize(df, "k", "t", F.expr("INTERVAL 30 MINUTES"))
    sids = [r["session_id"] for r in out.orderBy("t").collect()]
    assert sids == [0, 0, 1, 1, 1]


def test_lang_id(spark):
    df = spark.createDataFrame(
        [
            Row(txt="the cat and the dog is here"),
            Row(txt="der hund und die katze ist da"),
            Row(txt="le chat et la porte est ici"),
            Row(txt="xyzzy qwerty foo"),
        ]
    )
    out = [r[0] for r in df.select(lang_id(F.col("txt"))).collect()]
    assert out == ["en", "de", "fr", "unknown"]


def test_pct_change_golden(spark):
    """Golden-output format parity: PDF p.5 `USDEUR 0.896100 0.20%` —
    0.20% must print with two decimals."""
    from fxspark.ops.change import pct_change_label

    df = spark.createDataFrame([Row(cur=0.896100, prev=0.894312)])
    out = df.select(
        pct_change_label(F.col("cur"), F.col("prev")).alias("pc")
    ).collect()[0]["pc"]
    assert out == "0.20%"

    df2 = spark.createDataFrame([Row(cur=1.0, prev=None)], "cur double, prev double")
    out2 = df2.select(
        pct_change_label(F.col("cur"), F.col("prev")).alias("pc")
    ).collect()[0]["pc"]
    assert out2 == "No Previous Rate"

    # D24 pin: NULL cur must yield a NULL label (SQL printf propagation),
    # never Spark format_string's Java-rendered "nu%" (precision-truncated
    # "null") — round-16 independent-null sweep, rate_change_report
    df3 = spark.createDataFrame(
        [Row(cur=None, prev=2.0), Row(cur=None, prev=None)],
        "cur double, prev double",
    )
    out3 = [
        r["pc"]
        for r in df3.select(
            pct_change_label(F.col("cur"), F.col("prev")).alias("pc")
        ).collect()
    ]
    assert out3 == [None, "No Previous Rate"]


def test_rolling_fingerprint(spark):
    """The declared fold — h = (h*131 + codepoint) % 1e9+7 over normalized
    chars — recomputed in plain Python must match the JVM expression,
    including multibyte (BMP) codepoints and the empty string."""
    from fxspark.ops.text import rolling_fingerprint

    texts = ["Hello World", "", "  padded  ", "中文 text", "a"]

    def py_fp(t: str) -> int:
        h = 0
        for ch in t.strip().lower():
            h = (h * 131 + ord(ch)) % 1_000_000_007
        return h

    df = spark.createDataFrame([Row(txt=t) for t in texts])
    got = [r[0] for r in df.select(rolling_fingerprint(F.col("txt"))).collect()]
    assert got == [py_fp(t) for t in texts]


def test_rp_lsh_equals_exact_within_bucket(spark, sf_dir):
    """The ANN invariant that holds at every scale: rp_lsh_topk must equal
    brute-force cosine_topk restricted to the query's LSH bucket (the
    approximation is WHICH rows are scored, never HOW they are scored)."""
    from fxspark.ops.similarity import cosine_topk, rp_lsh_buckets, rp_lsh_topk
    from fxspark.queries import _lsh_planes

    planes = _lsh_planes()
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    approx = [(r["vec_id"], r["cos"]) for r in rp_lsh_topk(emb, q, planes, k=10).collect()]

    qb = rp_lsh_buckets(
        emb.filter(F.col("vec_id") == 0), planes
    ).collect()[0]["bucket"]
    in_bucket = rp_lsh_buckets(emb, planes).filter(F.col("bucket") == qb).drop("bucket")
    exact = [(r["vec_id"], r["cos"]) for r in cosine_topk(in_bucket, q, k=10).collect()]
    assert approx == exact
    assert approx[0][0] == 0  # the query vector always shares its own bucket


def test_salted_join_row_identical(spark, sf_dir):
    """salted_join must produce exactly the rows of the plain join — salting
    only changes the shuffle distribution, never the result."""
    from fxspark.ops.joins import salted_join

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey"
    )
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_mktsegment"
    ).withColumnRenamed("c_custkey", "o_custkey")
    plain = orders.join(cust, "o_custkey").collect()
    salted = salted_join(orders, cust, "o_custkey", salt=4).collect()
    key = lambda r: (r["o_custkey"], r["o_orderkey"], r["c_mktsegment"])
    assert sorted(map(key, salted)) == sorted(map(key, plain))


def test_salted_count_matches_plain(spark, sf_dir):
    from fxspark.ops.joins import salted_count

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    plain = {
        (r["o_custkey"], r["count"])
        for r in orders.groupBy("o_custkey").count().collect()
    }
    salted = {
        (r["o_custkey"], r["n"]) for r in salted_count(orders, "o_custkey").collect()
    }
    assert salted == plain


def test_cosine_pairs_blocked_matches_plain(spark, sf_dir):
    """Blocked-matmul all-pairs must be bit-identical to the zip_with fold
    form — same pairs, same cos doubles (the exact re-score guarantees it)."""
    from fxspark.ops.similarity import cosine_pairs, cosine_pairs_blocked

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    plain = {(r["id_a"], r["id_b"]): r["cos"] for r in cosine_pairs(emb, 0.3).collect()}
    blocked = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in cosine_pairs_blocked(emb, 0.3, n_blocks=4).collect()
    }
    assert blocked == plain


def test_bucketed_join_has_no_shuffle(spark, sf_dir, tmp_path):
    """Co-located join: two tables bucketed on the same key/buckets must
    sort-merge join with NO Exchange in the plan (the bucketing replaces the
    per-query shuffle) — and produce the same rows as the plain join."""
    from fxspark.sink import write_bucketed

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    a = events.select("event_id", "user_id", "value")
    b = events.groupBy("user_id").count()
    write_bucketed(a, "bt_events", ["user_id"], 8)
    write_bucketed(b, "bt_users", ["user_id"], 8)
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        ta, tb = spark.table("bt_events"), spark.table("bt_users")
        joined = ta.join(tb, "user_id")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan[:2000]
        expect = a.join(b, "user_id").count()
        assert joined.count() == expect
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64m")
        spark.sql("DROP TABLE IF EXISTS bt_events")
        spark.sql("DROP TABLE IF EXISTS bt_users")


def test_range_join_matches_naive(spark):
    """Binned range join must equal the naive theta-join exactly, including
    pairs that straddle bin boundaries."""
    from fxspark.ops.asof import range_join

    l = spark.createDataFrame(
        [Row(k="a", lt=ts(f"2024-01-01 00:{m:02d}:00"), lid=m) for m in (0, 10, 59)]
    )
    r = spark.createDataFrame(
        [Row(k="a", rt=ts(f"2024-01-01 00:{m:02d}:30"), rid=m) for m in (4, 9, 30)]
        + [Row(k="b", rt=ts("2024-01-01 00:00:00"), rid=99)]  # other key
    )
    got = {
        (x["lid"], x["rid"])
        for x in range_join(l, r, "lt", "rt", tolerance_s=300, keys="k").collect()
    }
    naive = set()
    for lr in l.collect():
        for rr in r.collect():
            if lr["k"] == rr["k"] and abs((lr["lt"] - rr["rt"]).total_seconds()) <= 300:
                naive.add((lr["lid"], rr["rid"]))
    assert got == naive and len(got) > 0


def test_ivf_topk_equals_exact_within_probed_cells(spark, sf_dir):
    """IVF invariant (scale-independent): the IVF result must equal
    brute-force top-k restricted to the probed cells, and the query vector
    itself must surface when its own cell is probed."""
    from fxspark.ops.similarity import cosine_topk, ivf_assign, ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    approx = [(r["vec_id"], r["cos"]) for r in
              ivf_topk(emb, q, n_cells=8, n_probe=8, k=10).collect()]
    # n_probe == n_cells → every cell probed → must equal exact brute force
    exact = [(r["vec_id"], r["cos"]) for r in cosine_topk(emb, q, k=10).collect()]
    assert approx == exact


def test_partitioned_write_prunes(spark, sf_dir, tmp_path):
    """A filter on the partition column must prune at planning time: the
    pruned scan reads strictly fewer files than the full store and the plan
    carries the partition filter."""
    from fxspark.session import load_table
    from fxspark.sink import write_partitioned

    events = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    store = str(tmp_path / "events_by_date")
    write_partitioned(events, store, ["event_date"])

    full = spark.read.parquet(store)
    pruned = full.filter(F.col("event_date") == "2024-01-05")
    n_full = len(full.inputFiles())
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "event_date" in plan
    n_read = pruned.select(F.input_file_name()).distinct().count()
    assert 0 < n_read < n_full
    # pruned result still correct
    expect = events.filter(F.to_date("ts") == "2024-01-05").count()
    assert pruned.count() == expect


def test_approx_stats_within_error_bounds(spark, sf_dir):
    """KMV (k=64) distinct estimate within 3·rsd = 3/√63 of exact; the
    deterministic-sample median within the exact p35–p65 band (a 25% sample
    median concentrates at ~0.5/√m quantile error)."""
    from fxspark.queries import QUERIES
    from fxspark.session import load_table

    approx = {r["event_type"]: r for r in
              QUERIES["events_approx_stats"](spark, sf_dir).collect()}
    exact = {r["event_type"]: r for r in
             load_table(spark, sf_dir, "events").groupBy("event_type").agg(
                 F.countDistinct("user_id").alias("users"),
                 F.expr("percentile(value, 0.35)").alias("p35"),
                 F.expr("percentile(value, 0.65)").alias("p65"),
                 F.count(F.lit(1)).alias("n_events"),
             ).collect()}
    assert set(approx) == set(exact)
    for et in exact:
        a, e = approx[et], exact[et]
        assert a["n_events"] == e["n_events"]
        assert abs(a["approx_users"] - e["users"]) <= max(3, 0.38 * e["users"])
        assert e["p35"] <= a["approx_p50_value"] <= e["p65"]


def test_register_views_raw_sql_surface(spark, sf_dir):
    """Arbitrary Spark SQL over the registered views must agree with the
    DataFrame surface (same load path, same timestamp normalization)."""
    from fxspark.queries import QUERIES
    from fxspark.session import register_views

    register_views(spark, sf_dir)
    sql_rows = spark.sql(
        """SELECT o_orderpriority, count(*) AS n
           FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01'
           GROUP BY o_orderpriority"""
    ).collect()
    assert sum(r["n"] for r in sql_rows) > 0
    # timestamp normalization flows through: max(ts) via SQL == via DataFrame
    from fxspark.session import load_table
    a = spark.sql("SELECT max(ts) AS m FROM events").collect()[0]["m"]
    b = load_table(spark, sf_dir, "events").agg(F.max("ts").alias("m")).collect()[0]["m"]
    assert a == b


def test_orc_round_trip(spark, tmp_path, sf_dir):
    """Source-format breadth: ORC write/read preserves rows and pushes
    filters (Spark's ORC reader supports predicate pushdown like parquet)."""
    from fxspark.session import load_table

    orders = load_table(spark, sf_dir, "orders")
    path = str(tmp_path / "orders_orc")
    orders.write.format("orc").mode("overwrite").save(path)
    back = spark.read.format("orc").load(path)
    assert back.count() == orders.count()
    assert back.schema == orders.schema
    f = back.filter(F.col("o_orderpriority") == "1-URGENT")
    plan = f._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "o_orderpriority" in plan
    assert f.count() == orders.filter(F.col("o_orderpriority") == "1-URGENT").count()


def test_compact_small_files(spark, tmp_path, sf_dir):
    """Compaction folds a 32-file directory into the size-derived file count
    without changing the data."""
    from fxspark.session import load_table
    from fxspark.sink import compact

    events = load_table(spark, sf_dir, "events")
    path = str(tmp_path / "events_many")
    events.repartition(32).write.parquet(path)
    import glob
    before = len(glob.glob(f"{path}/*.parquet"))
    n_rows = events.count()
    total = events.agg(F.sum("value")).collect()[0][0]
    compact(spark, path)
    after = len(glob.glob(f"{path}/*.parquet"))
    assert after < before
    back = spark.read.parquet(path)
    assert back.count() == n_rows
    assert abs(back.agg(F.sum("value")).collect()[0][0] - total) < 1e-6


def test_compact_idempotent_rerun(spark, tmp_path, sf_dir):
    """A second compact over the same path succeeds (stale .old residue must
    not wedge the swap)."""
    from fxspark.session import load_table
    from fxspark.sink import compact

    events = load_table(spark, sf_dir, "events")
    path = str(tmp_path / "events_c2")
    events.repartition(8).write.parquet(path)
    n_rows = events.count()
    compact(spark, path)
    compact(spark, path)
    assert spark.read.parquet(path).count() == n_rows


def test_redact_pii_kinds(spark):
    from fxspark.ops.text import pii_counts, redact_pii

    df = spark.createDataFrame([Row(t=
        "mail a.b+c@x-y.co.uk, ssn 123-45-6789, tel 44-123-456-7890, ip 192.168.0.1 end")])
    out = df.select(redact_pii(F.col("t")).alias("r"),
                    *[v.alias(k) for k, v in pii_counts(F.col("t")).items()]
                    ).collect()[0]
    assert out["r"] == "mail <EMAIL>, ssn <SSN>, tel <PHONE>, ip <IP> end"
    assert (out["EMAIL"], out["SSN"], out["PHONE"], out["IP"]) == (1, 1, 1, 1)


def test_quantize_roundtrip_error_bound(spark):
    """Dequantized components must be within 1/(2*127) of the original."""
    from fxspark.ops.similarity import dequantize_vec, quantize_vec

    df = spark.createDataFrame([Row(v=[0.0, 1.0, -1.0, 0.123456, -0.98765])])
    got = df.select(
        F.zip_with(
            dequantize_vec(quantize_vec(F.col("v"))),
            F.col("v"),
            lambda a, b: F.abs(a - b.cast("double")),
        ).alias("err")
    ).collect()[0]["err"]
    assert max(got) <= 0.5 / 127 + 1e-12


def test_rp_project_preserves_neighbors(spark):
    """JL projection: identical vectors project identically; projection is
    linear (proj(2v) == 2*proj(v))."""
    from fxspark.ops.similarity import rp_project
    from fxspark.queries import _lsh_planes

    planes = _lsh_planes(n_planes=8, dim=4, seed=3)
    df = spark.createDataFrame([Row(v=[0.5, -0.25, 0.125, 1.0])])
    p1 = df.select(rp_project(F.col("v"), planes).alias("p")).collect()[0]["p"]
    p2 = df.select(
        rp_project(F.transform(F.col("v"), lambda x: x * 2), planes).alias("p")
    ).collect()[0]["p"]
    assert all(abs(b - 2 * a) < 1e-12 for a, b in zip(p1, p2))


def test_quality_signals_hand_values(spark):
    from pyspark.sql import Row

    from fxspark.ops.text import dup_token_frac, mean_word_len, top_ngram_stats

    df = spark.createDataFrame([Row(id=1, text="aa bb aa bb aa bb")])
    row = df.select(
        mean_word_len(F.col("text")).alias("mwl"),
        dup_token_frac(F.col("text")).alias("dtf"),
    ).first()
    assert row["mwl"] == 2.0
    assert abs(row["dtf"] - (1 - 2 / 6)) < 1e-12
    rep = top_ngram_stats(df, "id", "text", n=3).first()
    # trigrams: [aa bb aa, bb aa bb, aa bb aa, bb aa bb] -> total 4, top 2
    assert (rep["total_ngrams"], rep["top_ngram_count"]) == (4, 2)


def test_centroid_assign_ties_and_argmax(spark):
    from pyspark.sql import Row

    from fxspark.ops.similarity import centroid_assign

    vecs = spark.createDataFrame([
        Row(vec_id=10, embedding=[1.0, 0.0]),
        Row(vec_id=11, embedding=[0.0, 1.0]),
        Row(vec_id=12, embedding=[1.0, 1.0]),   # equidistant -> smallest cid
    ])
    cents = spark.createDataFrame([
        Row(cid=0, embedding=[1.0, 0.0]),
        Row(cid=1, embedding=[0.0, 1.0]),
    ])
    got = {r["vec_id"]: r["cid"] for r in centroid_assign(vecs, cents).collect()}
    assert got == {10: 0, 11: 1, 12: 0}


def test_session_window_matches_sessionize_boundaries(spark):
    """Built-in session_window and the explicit gaps-and-islands plan agree
    on session membership, including an event exactly at the gap boundary
    (merges into the running session — the inclusive boundary rule the
    oracle SQL must mirror with a strict '>' break condition)."""
    import datetime as dt

    from pyspark.sql import Row

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        Row(user_id=1, ts=base),
        Row(user_id=1, ts=base + dt.timedelta(minutes=29, seconds=59)),
        Row(user_id=1, ts=base + dt.timedelta(minutes=59, seconds=59)),
        # exactly 30:00 after the previous event -> SAME session (inclusive)
        Row(user_id=1, ts=base + dt.timedelta(minutes=89, seconds=59)),
        Row(user_id=2, ts=base),
    ]
    df = spark.createDataFrame(rows)
    agg = (
        df.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select("user_id", F.col("session_window.start").alias("s"), "n")
        .orderBy("user_id", "s")
        .collect()
    )
    assert [(r["user_id"], r["n"]) for r in agg] == [(1, 4), (2, 1)]


def test_chunk_tokens_windows_and_tail(spark):
    from pyspark.sql import Row

    from fxspark.ops.text import chunk_tokens

    text = " ".join(f"w{i}" for i in range(40))
    df = spark.createDataFrame([Row(id=1, text=text)])
    out = chunk_tokens(df, "id", "text", size=32, stride=16, min_tokens=8).collect()
    got = {(r["chunk_idx"], r["n_tokens"]) for r in out}
    # starts 1,17,33 -> sizes 32, 24, 8; all >= 8 so all kept
    assert got == {(0, 32), (1, 24), (2, 8)}
    first = next(r for r in out if r["chunk_idx"] == 0)
    assert first["chunk_text"].startswith("w0 w1 ") and first["chunk_text"].endswith("w31")


def test_observe_checks_single_pass_metrics(spark):
    """Constraint metrics ride the materializing action: nulls, range
    violations, duplicate keys — no second scan."""
    from pyspark.sql import Row

    from fxspark.ops.checks import check_report, observe_checks

    df = spark.createDataFrame([
        Row(k=1, d="a", rate=1.0),
        Row(k=1, d="a", rate=-5.0),   # dup key + below range
        Row(k=2, d="b", rate=None),   # null rate
        Row(k=3, d="c", rate=2.0),
    ])
    checked, obs = observe_checks(
        df, key=["k", "d"], not_null=["rate"], ranges={"rate": (0.0, 100.0)}
    )
    checked.write.format("noop").mode("overwrite").save()
    got = dict(check_report(obs.get))
    assert got == {
        "rows": 4,
        "null__rate": 1,
        "range__rate": 2,   # the -5 and the NULL both fail the range
        "dupkey_extra_approx": 1,
    }


def test_ngram_udtf_matches_builtin_expression(spark):
    """The Python UDTF surface agrees with its codegen'd twin
    (ops.text.ngrams) — lateralJoin expansion vs expression explode."""
    from pyspark.sql import Row

    from fxspark.ops.text import ngrams
    from fxspark.ops.udtf import NgramUDTF, register

    df = spark.createDataFrame([
        Row(id=1, text="a b c d"),
        Row(id=2, text="x y"),       # shorter than n -> no rows
    ])
    via_udtf = {
        (r["id"], r["pos"], r["gram"])
        for r in df.lateralJoin(
            NgramUDTF(F.col("text").outer(), F.lit(3))
        ).select("id", "pos", "gram").collect()
    }
    via_expr = {
        (r["id"], r["pos"], r["gram"])
        for r in df.select(
            "id", F.posexplode(ngrams(F.col("text"), 3)).alias("pos", "gram")
        ).collect()
    }
    assert via_udtf == via_expr == {(1, 0, "a b c"), (1, 1, "b c d")}

    register(spark)
    df.createOrReplaceTempView("t_udtf")
    sql_rows = spark.sql(
        "SELECT t.id, g.pos, g.gram FROM t_udtf t, "
        "LATERAL ngrams_udtf(t.text, 3) g"
    ).collect()
    assert {(r["id"], r["pos"], r["gram"]) for r in sql_rows} == via_expr


def test_range_join_pre_epoch_floor_bins(spark):
    """Pre-1970 (negative epoch) timestamps must bin by FLOOR, not
    truncation (ADVICE r1): an in-tolerance pair straddling an exact bin
    edge below zero is found, and the result matches a naive cross-join
    filter on a mixed-sign timeline."""
    import datetime as dt

    from pyspark.sql import Row

    from fxspark.ops.asof import range_join

    base = dt.datetime(1969, 12, 31, 23, 58, 0)   # 2 min before the epoch
    l_rows = [Row(k=1, lt=base + dt.timedelta(seconds=s)) for s in (0, 59, 130)]
    r_rows = [Row(k=1, rt=base + dt.timedelta(seconds=s)) for s in (45, 121, 250)]
    l = spark.createDataFrame(l_rows)
    r = spark.createDataFrame(r_rows)
    got = {
        (x["lt"], x["rt"])
        for x in range_join(l, r, "lt", "rt", tolerance_s=60, keys="k").collect()
    }
    naive = {
        (a.lt, b.rt)
        for a in l_rows for b in r_rows
        if abs((a.lt - b.rt).total_seconds()) <= 60
    }
    assert got == naive and len(naive) == 3


def test_curate_corpus_stage_semantics(spark):
    """Pipeline composition on a hand-built corpus: the gate drops junk, the
    dedup keeps the smallest id per normalized text AMONG gated docs, the
    decontamination drops benchmark-overlapping docs, and survivors chunk."""
    from pyspark.sql import Row

    from fxspark.ops.pipeline import curate_corpus

    good = " ".join(f"tok{i}" for i in range(40))          # passes gate
    dup = good.upper()                                      # same fingerprint
    short = "too short"                                     # fails word count
    contam = " ".join(f"evil{i}" for i in range(40))        # overlaps bench
    docs = spark.createDataFrame([
        Row(doc_id=5, text=good),
        Row(doc_id=9, text=dup),
        Row(doc_id=2, text=short),
        Row(doc_id=7, text=contam),
    ])
    bench = spark.createDataFrame([
        Row(doc_id=100, text="evil0 evil1 evil2 evil3 filler")
    ])
    out = curate_corpus(docs, bench).collect()
    ids = {r["doc_id"] for r in out}
    assert ids == {5}            # dup(9) deduped, short(2) gated, contam(7) dropped
    # 40 tokens, windows at 1,17,33 -> sizes 32,24,8
    assert sorted((r["chunk_idx"], r["n_tokens"]) for r in out) == [
        (0, 32), (1, 24), (2, 8)
    ]


def test_write_table_format_round_trips(spark, tmp_path):
    """S4/S7 source-format breadth: the atomic-swap writer round-trips
    through parquet, ORC, JSON and CSV; the columnar formats preserve types
    by themselves, the textual ones only under a re-declared read schema —
    which is exactly the contract the docstring sells."""
    from fxspark.sink import write_table

    df = spark.createDataFrame(
        [Row(k="a", n=1, x=1.5), Row(k="b", n=2, x=-0.25)]
    )
    want = {(r["k"], r["n"], r["x"]) for r in df.collect()}

    for fmt in ("parquet", "orc"):
        p = str(tmp_path / f"t_{fmt}")
        write_table(df, p, format=fmt)
        back = spark.read.format(fmt).load(p)
        assert back.schema == df.schema
        assert {(r["k"], r["n"], r["x"]) for r in back.collect()} == want

    schema = "k string, n long, x double"
    p = str(tmp_path / "t_json")
    write_table(df, p, format="json")
    back = spark.read.schema(schema).json(p)
    assert {(r["k"], r["n"], r["x"]) for r in back.collect()} == want

    p = str(tmp_path / "t_csv")
    write_table(df, p, format="csv")
    back = spark.read.schema(schema).option("header", True).csv(p)
    assert {(r["k"], r["n"], r["x"]) for r in back.collect()} == want

    # atomic swap still holds for non-default formats: second write replaces
    write_table(df.limit(1), p, format="csv")
    assert spark.read.schema(schema).option("header", True).csv(p).count() == 1


def test_asof_join_forward_direction(spark):
    """Forward as-of (pandas merge_asof direction='forward'): earliest
    right at-or-after each left time; equal times match; tolerance bounds
    how far ahead a match may be."""
    import pandas as pd

    from fxspark.ops.asof import asof_join

    left = spark.createDataFrame(
        [Row(k="a", t=1, lv="l1"), Row(k="a", t=5, lv="l5"),
         Row(k="a", t=9, lv="l9"), Row(k="b", t=2, lv="lb")]
    )
    right = spark.createDataFrame(
        [Row(k="a", t=3, rv="r3"), Row(k="a", t=5, rv="r5"),
         Row(k="a", t=8, rv="r8"), Row(k="c", t=1, rv="rc")]
    )
    got = {
        (r["k"], r["t"]): r["rv"]
        for r in asof_join(left, right, "k", "t", direction="forward").collect()
    }
    # pandas reference on the same frames
    want_df = pd.merge_asof(
        pd.DataFrame({"k": ["a", "b", "a", "a"], "t": [1, 2, 5, 9],
                      "lv": ["l1", "lb", "l5", "l9"]}).sort_values("t"),
        pd.DataFrame({"k": ["c", "a", "a", "a"], "t": [1, 3, 5, 8],
                      "rv": ["rc", "r3", "r5", "r8"]}).sort_values("t"),
        on="t", by="k", direction="forward",
    )
    want = {
        (r.k, r.t): (None if pd.isna(r.rv) else r.rv)
        for r in want_df.itertuples()
    }
    assert got == want
    assert got[("a", 5)] == "r5"      # equal time matches
    assert got[("a", 9)] is None      # nothing at-or-after
    assert got[("b", 2)] is None      # key with no right rows

    # tolerance: a=1 may only look 1 ahead -> r3 (2 ahead) is out of band
    tol = {
        (r["k"], r["t"]): r["rv"]
        for r in asof_join(
            left, right, "k", "t", direction="forward",
            tolerance=F.lit(1),
        ).collect()
    }
    assert tol[("a", 1)] is None and tol[("a", 5)] == "r5"


def test_asof_join_backward_unchanged_reference(spark):
    """The default direction still matches pandas backward semantics."""
    import pandas as pd

    from fxspark.ops.asof import asof_join

    left = spark.createDataFrame(
        [Row(k="a", t=4, lv="l4"), Row(k="a", t=2, lv="l2")]
    )
    right = spark.createDataFrame(
        [Row(k="a", t=1, rv="r1"), Row(k="a", t=4, rv="r4")]
    )
    got = {
        (r["k"], r["t"]): r["rv"]
        for r in asof_join(left, right, "k", "t").collect()
    }
    assert got == {("a", 2): "r1", ("a", 4): "r4"}


def test_upsert_partitioned_touches_only_batch_partitions(spark, tmp_path):
    """Partition-pruned upsert: merging a batch that touches one date must
    leave the other date's files byte-identical on disk (the incremental
    ingest contract), apply last-writer-wins within the touched partition,
    and report the touched values."""
    import glob as _glob

    from fxspark.sink import upsert_partitioned

    path = str(tmp_path / "store")
    base = spark.createDataFrame(
        [
            Row(k="a", d="2024-01-01", v=1, seq=1),
            Row(k="b", d="2024-01-01", v=2, seq=1),
            Row(k="a", d="2024-01-02", v=3, seq=1),
        ]
    )
    upsert_partitioned(spark, path, base, ["k", "d"], ["seq"], "d")
    before = {
        f: open(f, "rb").read()
        for f in _glob.glob(f"{path}/d=2024-01-01/*.parquet")
    }
    assert before, "expected day-1 partition files"

    batch = spark.createDataFrame(
        [
            Row(k="a", d="2024-01-02", v=30, seq=2),   # update
            Row(k="c", d="2024-01-02", v=40, seq=1),   # insert
        ]
    )
    touched = upsert_partitioned(spark, path, batch, ["k", "d"], ["seq"], "d")
    assert touched == ["2024-01-02"]

    after = {
        f: open(f, "rb").read()
        for f in _glob.glob(f"{path}/d=2024-01-01/*.parquet")
    }
    assert after == before  # untouched partition is byte-identical

    got = {
        (r["k"], r["d"]): (r["v"], r["seq"])
        for r in spark.read.parquet(path).collect()
    }
    assert got == {
        ("a", "2024-01-01"): (1, 1),
        ("b", "2024-01-01"): (2, 1),
        ("a", "2024-01-02"): (30, 2),   # last writer won
        ("c", "2024-01-02"): (40, 1),
    }

    # idempotent redelivery: same batch again changes nothing
    upsert_partitioned(spark, path, batch, ["k", "d"], ["seq"], "d")
    again = {
        (r["k"], r["d"]): (r["v"], r["seq"])
        for r in spark.read.parquet(path).collect()
    }
    assert again == got

    # String partition values that type inference would rewrite ("007" → 7)
    # round-trip exactly even with the session's inference ON, and the
    # upsert leaves that session setting as it found it.
    conf = "spark.sql.sources.partitionColumnTypeInference.enabled"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, "true")
    try:
        zpath = str(tmp_path / "zstore")
        zbase = spark.createDataFrame(
            [Row(k="a", d="007", v=1, seq=1), Row(k="a", d="010", v=2, seq=1)]
        )
        upsert_partitioned(spark, zpath, zbase, ["k", "d"], ["seq"], "d")
        zbatch = spark.createDataFrame(
            [Row(k="a", d="007", v=10, seq=2), Row(k="b", d="007", v=3, seq=1)]
        )
        assert upsert_partitioned(
            spark, zpath, zbatch, ["k", "d"], ["seq"], "d"
        ) == ["007"]
        zgot = {
            (r["k"], r["d"]): (r["v"], r["seq"])
            for r in spark.read.schema(zbatch.schema).parquet(zpath).collect()
        }
        assert zgot == {
            ("a", "007"): (10, 2),
            ("b", "007"): (3, 1),
            ("a", "010"): (2, 1),
        }
        assert spark.conf.get(conf) == "true"
    finally:
        spark.conf.set(conf, prev)


def test_keyed_ewma_chunked_parity(spark):
    """The segment-fold EWMA (associative (A,B) chunk algebra) must agree
    with the sequential declared fold to float-regrouping tolerance, with a
    chunk size small enough to force many segments per key — including
    1-event keys (seed only, no segments) and keys smaller than one chunk."""
    import math
    import random

    from fxspark.ops.windows import keyed_ewma, keyed_ewma_chunked

    rng = random.Random(7)
    rows = []
    for k, n in [("a", 1), ("b", 3), ("c", 17), ("d", 100)]:
        for i in range(n):
            rows.append(Row(k=k, t=i, v=rng.uniform(-100, 100)))
    df = spark.createDataFrame(rows).repartition(5)

    seq = {r["k"]: r for r in keyed_ewma(df, "k", ["t"], "v", 0.3).collect()}
    seg = {r["k"]: r for r in
           keyed_ewma_chunked(df, "k", ["t"], "v", 0.3, chunk=4).collect()}
    assert set(seq) == set(seg)
    for k in seq:
        assert seq[k]["n_total"] == seg[k]["n_total"]
        assert seq[k]["last_value"] == seg[k]["last_value"]
        assert math.isclose(seq[k]["ewma"], seg[k]["ewma"], rel_tol=1e-9), k


def test_merge_rollup_associative_equals_full_rescan(spark):
    """Maintained-rollup algebra: merging per-batch partials in ANY grouping
    must equal the rollup of the full union — the property that lets a
    100 TB store answer from keys-sized state instead of rescans."""
    import random

    from fxspark.ops.rollup import merge_rollup, rollup_read, rollup_table

    rng = random.Random(11)
    batches = []
    for _ in range(3):
        batches.append(spark.createDataFrame(
            [Row(k=rng.choice("abc"), v=round(rng.uniform(-50, 50), 3))
             for _ in range(40)]
        ))

    full = rollup_table(batches[0].union(batches[1]).union(batches[2]), ["k"], "v")
    inc = None
    for b in batches:
        inc = merge_rollup(inc, rollup_table(b, ["k"], "v"), ["k"])
    # a different merge grouping (b2⊕b3 first) must give the same state
    alt = merge_rollup(
        rollup_table(batches[0], ["k"], "v"),
        merge_rollup(rollup_table(batches[1], ["k"], "v"),
                     rollup_table(batches[2], ["k"], "v"), ["k"]),
        ["k"],
    )
    want = {r["k"]: r for r in rollup_read(full).collect()}
    for got_df in (inc, alt):
        got = {r["k"]: r for r in rollup_read(got_df).collect()}
        assert set(got) == set(want)
        for k in want:
            for m in ("cnt", "sum", "min", "max", "mean"):
                assert got[k][m] == want[k][m], (k, m)


def test_merge_rollup_disjoint_keys_full_outer(spark):
    """Keys present on only one side keep their state (full-outer merge,
    NULL-neutral measure fns)."""
    from fxspark.ops.rollup import merge_rollup, rollup_table

    a = rollup_table(
        spark.createDataFrame([Row(k="only_a", v=1.0)]), ["k"], "v")
    b = rollup_table(
        spark.createDataFrame([Row(k="only_b", v=2.0)]), ["k"], "v")
    got = {r["k"]: r for r in merge_rollup(a, b, ["k"]).collect()}
    assert got["only_a"]["cnt"] == 1 and float(got["only_a"]["sum"]) == 1.0
    assert got["only_b"]["cnt"] == 1 and float(got["only_b"]["max"]) == 2.0


def test_versioned_table_time_travel(spark, tmp_path):
    """write_versioned commits immutable generations behind an atomic
    pointer: readers see every retained version unchanged, the pointer
    tracks the newest, and pruning keeps exactly `keep` generations."""
    from fxspark.sink import read_versioned, table_versions, write_versioned

    path = str(tmp_path / "vt")
    assert read_versioned(spark, path) is None
    v1 = write_versioned(spark.range(3).toDF("id"), path, keep=2)
    v2 = write_versioned(spark.range(5).toDF("id"), path, keep=2)
    assert (v1, v2) == (1, 2)
    assert read_versioned(spark, path).count() == 5          # current
    assert read_versioned(spark, path, version=1).count() == 3  # time travel
    v3 = write_versioned(spark.range(7).toDF("id"), path, keep=2)
    assert table_versions(path) == [2, 3]                    # v1 pruned
    assert read_versioned(spark, path, version=1) is None
    assert read_versioned(spark, path).count() == 7
    # a crashed commit leaves an orphan generation dir: the next write
    # reclaims the number without serving it
    import shutil as _sh
    orphan = str(tmp_path / "vt" / "v000004")
    spark.range(1).toDF("id").write.parquet(orphan)
    assert read_versioned(spark, path).count() == 7          # pointer still v3
    v4 = write_versioned(spark.range(9).toDF("id"), path, keep=2)
    assert v4 == 5 and read_versioned(spark, path).count() == 9


# ---------------------------------------------------------------------------
# Round-15 unified NULL-ordering contract (DIALECT.md rule O8): every rank
# op drops rows whose ORDER coordinates contain a NULL, via
# ops.latest.drop_null_order — one semantics across the whole family, where
# rounds ≤14 had two (ksmall/class-12 dropped, latest/dedup/nth/asof kept
# NULLs under Spark's dialect-specific placement).
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def null_ordered(spark):
    """Keys covering every NULL-order regime: 'a' mixed NULL/real order,
    'b' ALL-NULL order (must vanish), 'c' never-NULL control."""
    return spark.createDataFrame(
        [
            Row(k="a", t=1, tb=1, v="a-real-old"),
            Row(k="a", t=5, tb=2, v="a-real-new"),
            Row(k="a", t=None, tb=9, v="a-null"),  # max tiebreak: would win
            Row(k="b", t=None, tb=1, v="b-null-1"),
            Row(k="b", t=None, tb=2, v="b-null-2"),
            Row(k="c", t=3, tb=1, v="c-real"),
        ]
    )


def test_latest_ops_drop_null_order(null_ordered):
    """latest_per_key_agg / latest_per_key_window / dedup_latest drop
    NULL-order rows; a key with only NULL order coordinates VANISHES
    (it cannot be won by tiebreak, the pre-round-15 kept-NULL behavior)."""
    for fn in (
        lambda df: latest_per_key_agg(df, "k", ["t", "tb"], payload=["v"]),
        lambda df: latest_per_key_window(df, "k", ["t", "tb"]).select("k", "v"),
        lambda df: dedup_latest(df, "k", ["t", "tb"]).select("k", "v"),
    ):
        got = {r["k"]: r["v"] for r in fn(null_ordered).collect()}
        assert got == {"a": "a-real-new", "c": "c-real"}, got


def test_latest_agg_equals_window_with_nulls(null_ordered):
    """The agg and window forms agree row-for-row ON NULL-BEARING input —
    the agreement property that motivated unifying the contract."""
    agg = latest_per_key_agg(null_ordered, "k", ["t", "tb"], payload=["v"])
    win = latest_per_key_window(null_ordered, "k", ["t", "tb"]).select("k", "v")
    assert sorted(map(tuple, agg.collect())) == sorted(map(tuple, win.collect()))


def test_nth_before_cutoff_drops_null_secondary_order(spark):
    """The cutoff predicate already excludes NULL cutoff_col; the unified
    contract ALSO drops rows NULL in any OTHER order column."""
    df = spark.createDataFrame(
        [
            Row(k="a", t=1, tb=1, v="rank3"),
            Row(k="a", t=2, tb=None, v="null-tb"),  # dropped by contract
            Row(k="a", t=3, tb=1, v="rank2"),
            Row(k="a", t=4, tb=1, v="rank1"),
        ]
    )
    out = nth_before_cutoff(df, "k", ["t", "tb"], cutoff=F.lit(99), n=2)
    assert [r["v"] for r in out.collect()] == ["rank2"]


def test_asof_join_drops_null_on_both_sides(spark):
    """asof_join: a right row with NULL `on` can never match (even though
    Spark's window sort would place it first); a left row with NULL `on`
    has no as-of point and is dropped, not emitted unmatched."""
    left = spark.createDataFrame(
        [Row(k="a", t=10, lv="L10"), Row(k="a", t=None, lv="Lnull")]
    )
    right = spark.createDataFrame(
        [Row(k="a", t=2, rv="R2"), Row(k="a", t=None, rv="Rnull")]
    )
    out = asof_join(left, right, keys="k", on="t", right_payload=["rv"])
    assert [(r["t"], r["rv"]) for r in out.collect()] == [(10, "R2")]


def test_nearest_join_drops_null_on_left(spark):
    """nearest_join inherits the contract on its left side too (the right
    side has dropped NULL `on` since round 13)."""
    from fxspark.ops.asof import nearest_join

    t10 = ts("2024-01-01 00:00:10")
    left = spark.createDataFrame(
        [(("a"), t10, "L10"), ("a", None, "Lnull")],
        "k string, t timestamp, lv string",
    )
    right = spark.createDataFrame(
        [("a", ts("2024-01-01 00:00:12"), "R12")],
        "k string, t timestamp, rv string",
    )
    out = nearest_join(left, right, keys="k", on="t", right_payload=["rv"])
    assert [(r["t"], r["rv"]) for r in out.collect()] == [(t10, "R12")]


def test_merge_ols_rollup_null_moments(spark):
    """merge_ols_rollup keeps SQL-SUM NULL semantics for the moments: a
    moment that is NULL in one contributing state is skipped (the live
    value wins), and one that is NULL in EVERY state stays NULL — exactly
    the from-scratch GROUP-BY-over-the-union result, which an old
    coalesce-to-zero merge would have broken (round-16 ADVICE pin)."""
    from fxspark.ops.rollup import merge_ols_rollup, ols_rollup_table

    batch_live = spark.createDataFrame(
        [Row(k="a", x=1, y=2.0), Row(k="b", x=1, y=None)],
        "k string, x long, y double",
    )
    batch_null = spark.createDataFrame(
        [Row(k="a", x=2, y=None), Row(k="b", x=2, y=None)],
        "k string, x long, y double",
    )
    state = merge_ols_rollup(
        ols_rollup_table(batch_live, ["k"], F.col("x"), F.col("y")),
        ols_rollup_table(batch_null, ["k"], F.col("x"), F.col("y")),
        ["k"],
    )
    got = {r["k"]: r for r in state.collect()}
    # 'a': sy=2 from batch_live survives batch_null's NULL contribution.
    assert float(got["a"]["sy"]) == 2.0 and got["a"]["n_obs"] == 2
    # 'b': every contribution NULL -> stays NULL (not coalesced to 0),
    # matching sum(y) over the unioned rows.
    assert got["b"]["sy"] is None and got["b"]["n_obs"] == 2
