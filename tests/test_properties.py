"""Hypothesis property tests over generated frames (SURVEY.md §5).

Each property is an algebraic invariant the operators must hold for ANY
input, not just the fixtures: upsert idempotence/commutativity-of-rerun,
agg-vs-window latest agreement, and dedup count conservation. Examples are
deliberately few (Spark round-trips are ~1s each); the value is the
generated edge cases — duplicate keys, ties, single-row groups.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Row

from fxspark.ops.latest import dedup_latest, latest_per_key_agg, latest_per_key_window
from fxspark.sink import insert_absent, upsert

# (key, order, value) triples: tiny key pool forces collisions; order ties
# are possible and must not break determinism of keyed results.
rows_strategy = st.lists(
    st.tuples(
        st.sampled_from(["k1", "k2", "k3"]),
        st.integers(min_value=0, max_value=5),
        st.integers(min_value=-1000, max_value=1000),
    ),
    min_size=1,
    max_size=12,
)

SETTINGS = settings(
    max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)


def _df(spark, rows):
    return spark.createDataFrame(
        [Row(k=k, o=o, v=v, uid=i) for i, (k, o, v) in enumerate(rows)]
    )


@given(rows=rows_strategy)
@SETTINGS
def test_upsert_idempotent_fixpoint(spark, rows):
    """upsert(upsert(x), x) == upsert(x): re-delivering the same batch can
    never change the store (the reference's ON DUPLICATE KEY semantics)."""
    df = _df(spark, rows)
    once = upsert(None, df, keys=["k", "o"], order_by=["uid"])
    twice = upsert(once, df, keys=["k", "o"], order_by=["uid"])
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


@given(rows=rows_strategy)
@SETTINGS
def test_upsert_keeps_exactly_one_row_per_key(spark, rows):
    df = _df(spark, rows)
    out = upsert(None, df, keys=["k", "o"], order_by=["uid"]).collect()
    keys = [(r["k"], r["o"]) for r in out]
    assert len(keys) == len(set(keys))
    assert set(keys) == {(k, o) for k, o, _ in rows}


@given(rows=rows_strategy)
@SETTINGS
def test_insert_absent_never_overwrites(spark, rows):
    """insert-if-absent: once a key is in the store, later batches can never
    change its row (v1 duplicate-swallow semantics)."""
    df = _df(spark, rows)
    store = insert_absent(None, df, keys=["k", "o"])
    shifted = df.withColumn("v", df["v"] + 1)
    after = insert_absent(store, shifted, keys=["k", "o"])
    assert sorted(map(tuple, store.collect())) == sorted(map(tuple, after.collect()))


@given(rows=rows_strategy)
@SETTINGS
def test_latest_agg_equals_window_property(spark, rows):
    """max_by-aggregate and row_number-window forms of latest-per-key must
    agree on every input (same total order (o, uid))."""
    df = _df(spark, rows)
    a = latest_per_key_agg(df, "k", ["o", "uid"], payload=["v"])
    w = latest_per_key_window(df, "k", ["o", "uid"]).select("k", "v")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, w.collect()))


@given(rows=rows_strategy)
@SETTINGS
def test_dedup_latest_conserves_distinct_keys(spark, rows):
    df = _df(spark, rows)
    out = dedup_latest(df, ["k"], ["o", "uid"])
    assert out.count() == len({k for k, _, _ in rows})


# Two-part keys with NULL parts; small order range so store and batch tie.
_key_part = st.tuples(st.sampled_from(["a", "b", None]), st.sampled_from([0, 1, None]))
_order = st.integers(min_value=0, max_value=3)
_value = st.integers(min_value=-9, max_value=9)
UPSERT_SCHEMA = "k1 string, k2 int, o int, v int, uid int"


@given(
    store=st.dictionaries(_key_part, st.tuples(_order, _value), max_size=6),
    batch=st.lists(st.tuples(_key_part, st.none() | _order, _value), max_size=8),
)
@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
def test_upsert_equals_dedup_of_union(spark, store, batch):
    """For any key-unique store, the split upsert (untouched keys pass
    through, touched keys are merged) equals the plain form it replaced,
    dedup_latest(existing ∪ incoming): same rows, same column order. The
    batch carries NULL key parts, NULL orders, duplicate keys and order ties
    with the store; either side may be empty. Among rows tied on the order
    column either form may keep any one, so a tied key only needs a
    winner from the tie."""
    keys, order = ["k1", "k2"], ["o"]
    existing_rows = [(k1, k2, o, v, i) for i, ((k1, k2), (o, v)) in enumerate(store.items())]
    incoming_rows = [(k1, k2, o, v, len(store) + i)
                     for i, ((k1, k2), o, v) in enumerate(batch)]
    existing = spark.createDataFrame(existing_rows, UPSERT_SCHEMA)
    incoming = spark.createDataFrame(incoming_rows, UPSERT_SCHEMA)

    got = upsert(existing, incoming, keys, order)
    want = dedup_latest(existing.unionByName(incoming), keys, order)
    assert got.columns == want.columns

    def by_key(df):
        rows = [r.asDict() for r in df.collect()]
        out = {(r["k1"], r["k2"]): r for r in rows}
        assert len(out) == len(rows)
        return out

    got_rows, want_rows = by_key(got), by_key(want)
    assert got_rows.keys() == want_rows.keys()
    for key, row in got_rows.items():
        tied = [r for r in existing_rows + incoming_rows
                if r[:2] == key and r[2] == want_rows[key]["o"]]
        if len(tied) == 1:
            assert row == want_rows[key]
        else:
            assert tuple(row[c] for c in ("k1", "k2", "o", "v", "uid")) in tied


# --- round-2 curation-op properties -----------------------------------------

texts_strategy = st.lists(
    st.text(alphabet="ab c", min_size=0, max_size=30),
    min_size=1,
    max_size=8,
)


@given(texts=texts_strategy)
@SETTINGS
def test_chunk_tokens_covers_every_token(spark, texts):
    """With stride <= size and min_tokens=1, chunking loses nothing: the
    multiset union of chunk tokens covers every original token at least
    once, and chunk 0 always starts at token 1."""
    from fxspark.ops.text import chunk_tokens, tokens
    from pyspark.sql import functions as F

    df = spark.createDataFrame([Row(id=i, text=t) for i, t in enumerate(texts)])
    chunks = chunk_tokens(df, "id", "text", size=4, stride=2, min_tokens=1)
    got = {
        (r["id"], r["chunk_idx"]): r["chunk_text"].split(" ")
        for r in chunks.collect()
    }
    base = {
        r["id"]: r["t"]
        for r in df.select("id", tokens(F.col("text")).alias("t")).collect()
    }
    for i, toks in base.items():
        covered = set()
        for (gid, _), ctoks in got.items():
            if gid == i:
                covered.update(ctoks)
        assert set(toks) <= covered  # nothing dropped
        if (i, 0) in got:
            assert got[(i, 0)] == toks[:4]  # first window anchored at start


@given(texts=texts_strategy)
@SETTINGS
def test_ngram_overlap_matches_bruteforce(spark, texts):
    """ngram_overlap (broadcast inverted-index join) equals the brute-force
    per-pair set intersection for any corpus split."""
    from fxspark.ops.dedup import ngram_overlap
    from pyspark.sql import functions as F

    df = spark.createDataFrame([Row(id=i, text=t) for i, t in enumerate(texts)])
    bench = df.filter(F.col("id") % 2 == 0)
    train = df.filter(F.col("id") % 2 == 1)
    got = {
        r["id"]: (r["n_shared_grams"], r["n_bench_docs"])
        for r in ngram_overlap(train, bench, "id", "text", n=2).collect()
    }

    def grams(t):
        toks = t.strip().lower().split(" ")
        return {" ".join(toks[i : i + 2]) for i in range(len(toks) - 1)}

    expected = {}
    bg = {i: grams(t) for i, t in enumerate(texts) if i % 2 == 0}
    for i, t in enumerate(texts):
        if i % 2 == 0:
            continue
        shared = set().union(*[grams(t) & g for g in bg.values()]) if bg else set()
        hits = sum(1 for g in bg.values() if grams(t) & g)
        if shared:
            expected[i] = (len(shared), hits)
    assert got == expected


texts_strategy = st.lists(
    st.lists(
        st.sampled_from(["aa", "bb", "cc", "dd"]), min_size=0, max_size=12
    ).map(" ".join),
    min_size=1,
    max_size=8,
)


@given(texts=texts_strategy)
@SETTINGS
def test_chunk_dup_spans_matches_bruteforce(spark, texts):
    """chunk_dup_spans == the python brute force on ANY corpus: same chunk
    cut (non-overlapping width-3 windows incl. the partial tail), same
    distinct-doc threshold, same counts."""
    from collections import defaultdict

    from fxspark.ops.dedup import chunk_dup_spans

    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    )
    got = {
        r["chunk_text"]: (r["n_docs"], r["n_occurrences"], r["first_doc"])
        for r in chunk_dup_spans(df, "doc_id", "text", width=3).collect()
    }

    occ: dict[str, list[int]] = defaultdict(list)
    for i, t in enumerate(texts):
        toks = [w for w in t.strip().lower().split(" ") if w != ""]
        for s in range(0, len(toks), 3):
            occ[" ".join(toks[s : s + 3])].append(i)
    want = {
        c: (len(set(ds)), len(ds), min(ds))
        for c, ds in occ.items()
        if len(set(ds)) >= 2
    }
    assert got == want


@given(
    keys=st.lists(
        st.sampled_from(["a", "b", "c", "d", "e", "f"]),
        min_size=1,
        max_size=40,
    ),
    capacity=st.sampled_from([2, 3, 8]),
)
@SETTINGS
def test_misra_gries_never_drops_a_pigeonhole_heavy_key(spark, keys, capacity):
    """For ANY key sequence and capacity: every key with global frequency
    > N/capacity survives the per-partition pass (the superset guarantee
    the exact second pass depends on), and lower bounds never exceed true
    counts."""
    from collections import Counter

    from fxspark.ops.sketch import misra_gries_candidates

    df = spark.createDataFrame([Row(key=k) for k in keys]).repartition(2)
    out = {r["key"]: r["lower_bound"] for r in
           misra_gries_candidates(df, "key", capacity=capacity).collect()}
    counts = Counter(keys)
    for k, c in counts.items():
        if c > len(keys) / capacity:
            assert k in out, (k, c, len(keys), capacity, out)
    for k, lb in out.items():
        assert 0 < lb <= counts[k], (k, lb, counts[k])


# --- round-5 lifecycle properties ---------------------------------------

scd_rows_strategy = st.lists(
    st.tuples(
        st.sampled_from(["k1", "k2"]),
        st.integers(min_value=0, max_value=20),
        st.sampled_from(["A", "B", None]),
    ),
    min_size=1,
    max_size=14,
    unique_by=lambda t: (t[0], t[1]),  # one change per (key, tick)
)


@given(rows=scd_rows_strategy)
@SETTINGS
def test_scd2_point_in_time_reconstruction(spark, rows):
    """For ANY change log: looking up the SCD2 interval containing time t
    must return exactly the latest logged attribute at or before t — the
    defining property of a Type-2 dimension."""
    from fxspark.ops.cdc import scd2_intervals

    df = spark.createDataFrame(
        [Row(k=k, t=t, v=v) for (k, t, v) in rows], "k string, t long, v string"
    )
    iv = scd2_intervals(df, "k", ["t"], ["v"]).collect()
    # intervals per key are contiguous, non-overlapping, and end open
    by_key: dict[str, list] = {}
    for r in iv:
        by_key.setdefault(r.k, []).append(r)
    for k, ivs in by_key.items():
        ivs.sort(key=lambda r: r.valid_from)
        for a, b in zip(ivs, ivs[1:]):
            assert a.valid_to == b.valid_from
        assert ivs[-1].valid_to is None and ivs[-1].is_current
    # point-in-time lookup == latest log row at or before t
    log = sorted(rows)
    for (k, t, _v) in rows:
        expect = max(
            ((tt, vv) for (kk, tt, vv) in log if kk == k and tt <= t),
            key=lambda p: p[0],
        )[1]
        hit = [
            r.v
            for r in by_key[k]
            if r.valid_from <= t and (r.valid_to is None or t < r.valid_to)
        ]
        assert hit == [expect], (k, t, hit, expect)


@given(
    weights=st.lists(
        st.integers(min_value=1, max_value=10_000), min_size=3, max_size=10
    ),
    bump=st.integers(min_value=1, max_value=100_000),
)
@SETTINGS
def test_priority_sample_weight_monotone(spark, weights, bump):
    """Raising one item's weight can never evict it from the sample
    (priority w/u is monotone in w; everyone else's priority is fixed)."""
    from fxspark.ops.sketch import weighted_priority_sample

    k = 2
    df = spark.createDataFrame(
        [(i, w) for i, w in enumerate(weights)], "id long, w long"
    )
    base = {r.id for r in weighted_priority_sample(df, "id", "w", k=k).collect()}
    target = min(base)
    df2 = spark.createDataFrame(
        [(i, w + bump if i == target else w) for i, w in enumerate(weights)],
        "id long, w long",
    )
    boosted = {
        r.id for r in weighted_priority_sample(df2, "id", "w", k=k).collect()
    }
    assert target in boosted


@given(rows=rows_strategy)
@SETTINGS
def test_snapshot_diff_log_fold_reconstructs_new_state(spark, rows):
    """Applying a diff to the old snapshot always reproduces the new one:
    old - deletes - updates_old + updates_new + inserts == new."""
    from fxspark.ops.cdc import snapshot_diff

    mid = len(rows) // 2
    old_rows = {k: v for (k, o, v) in sorted(rows[:mid], key=lambda t: t[1])}
    new_rows = {k: v for (k, o, v) in sorted(rows[mid:], key=lambda t: t[1])}
    old = spark.createDataFrame(
        [Row(k=k, v=v) for k, v in old_rows.items()], "k string, v long"
    )
    new = spark.createDataFrame(
        [Row(k=k, v=v) for k, v in new_rows.items()], "k string, v long"
    )
    diff = snapshot_diff(old, new, "k", ["v"]).collect()
    state = dict(old_rows)
    for r in diff:
        if r.change_type == "delete":
            del state[r.k]
        else:
            state[r.k] = r.new_v
    assert state == new_rows


# (x, y) integer points with a tiny range so dominance ties are frequent
points_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=8),
        st.integers(min_value=0, max_value=8),
    ),
    min_size=1,
    max_size=14,
)


@given(pts=points_strategy)
@SETTINGS
def test_skyline_sound_and_complete(spark, pts):
    """Soundness: no returned point is dominated. Completeness: every
    dropped point is dominated by some RETURNED point (skyline transitivity
    — a point dominated only by dropped points would be a bug)."""
    from fxspark.ops.skyline import skyline2d

    df = spark.createDataFrame(
        [Row(id=i, x=x, y=y) for i, (x, y) in enumerate(pts)]
    )
    got = {r["id"] for r in skyline2d(df, "x", "y", n_buckets=3).collect()}

    def dominates(a, b):
        return a[0] <= b[0] and a[1] >= b[1] and (a[0] < b[0] or a[1] > b[1])

    for i, p in enumerate(pts):
        if i in got:
            assert not any(dominates(q, p) for q in pts), (i, p, pts)
        else:
            assert any(
                dominates(pts[j], p) for j in got
            ), (i, p, pts, got)


values_strategy = st.lists(
    st.integers(min_value=-50, max_value=50), min_size=1, max_size=20
)


@given(vals=values_strategy)
@SETTINGS
def test_cusum_closed_form_equals_recurrence(spark, vals):
    """The window closed form must equal the sequential recurrence
    S_i = max(0, S_{i-1} + e_i) for any value sequence (sign changes,
    all-negative, all-positive, single element)."""
    from pyspark.sql import functions as F

    from fxspark.ops.windows import keyed_cusum

    df = spark.createDataFrame(
        [Row(k="a", o=i, v=float(v)) for i, v in enumerate(vals)]
    )
    got = [
        r["cusum"]
        for r in keyed_cusum(
            df, keys="k", order=["o"], value_col="v",
            target=F.lit(0.0), slack=0.5, threshold=10.0,
        ).orderBy("o").collect()
    ]
    s, want = 0.0, []
    for v in vals:
        s = max(0.0, s + (v - 0.5))
        want.append(s)
    assert got == pytest.approx(want, abs=1e-9)
