"""Deduplication operators (ops/dedup): each pair op against brute force
or hand values, and the ops that share the candidate → verify core against
each other.

- ``jaccard_pairs`` (plain inverted index) is the independent reference:
  ``jaccard_pairs_prefix`` must reproduce it exactly, capped and uncapped,
  and ``minhash_lsh_pairs`` must at the fixture threshold.
- ``minhash_agreement`` emits exactly ``minhash_lsh_pairs``' candidates,
  and those verified at a threshold are ``minhash_lsh_pairs``' result.
- SimHash / MinHash signature construction is pinned against Python replays.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Row
from pyspark.sql import functions as F

from fxspark.ops.dedup import (
    chunk_dup_spans,
    jaccard_pairs,
    jaccard_pairs_prefix,
    minhash_agreement,
    minhash_lsh_pairs,
)


def _docs(spark, corpus):
    return spark.createDataFrame(corpus, "doc_id long, text string")


def _pairs(df):
    return {(r["id_a"], r["id_b"]): r["jaccard"] for r in df.collect()}


def test_jaccard_freq_cap_consistent_universe(spark):
    """With max_shingle_freq set, BOTH the intersection and the set sizes
    must use the capped shingle universe (ADVICE r1): a pair whose only
    shared shingles are ubiquitous drops out, and surviving pairs score
    their jaccard over the filtered sets, not the raw ones."""
    from pyspark.sql import Row

    from fxspark.ops.dedup import jaccard_pairs

    # 'x y z' trigram appears in ALL four docs (ubiquitous); docs 1/2 also
    # share a rare tail, docs 3/4 share ONLY the ubiquitous part.
    rows = [
        Row(id=1, text="x y z q r s t"),
        Row(id=2, text="x y z q r s u"),
        Row(id=3, text="x y z a b"),
        Row(id=4, text="x y z c d"),
    ]
    df = spark.createDataFrame(rows)
    capped = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in jaccard_pairs(
            df, "id", "text", n=3, threshold=0.3, max_shingle_freq=2
        ).collect()
    }
    # docs 3,4 vanish: their only common shingle 'x y z' has df=4 > cap
    assert all(p == (1, 2) for p in capped)
    # capped universes (df<=2): doc1 {y z q, z q r, q r s, r s t},
    # doc2 {y z q, z q r, q r s, r s u}; shared = 3
    # jaccard over the CAPPED sets = 3 / (4+4-3) = 0.6 (raw sets would
    # give 4/6 — the old biased formula mixed the two)
    assert abs(capped[(1, 2)] - 0.6) < 1e-9


def test_jaccard_prefix_matches_plain(spark, sf_dir):
    """Prefix-filtered set-similarity join must reproduce the plain
    inverted-index result exactly (the filter lemma is lossless)."""
    from fxspark.ops.dedup import jaccard_pairs_prefix

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plain = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in jaccard_pairs(docs, "doc_id", "text", 3, 0.6).collect()
    }
    pref = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in jaccard_pairs_prefix(docs, "doc_id", "text", 3, 0.6).collect()
    }
    assert pref == plain


def test_jaccard_prefix_keeps_pair_at_exact_threshold(spark):
    """|A| = 31, |B| = 32, |A∩B| = 28: J = 28/35 = 0.8 exactly. The PPJoin
    position bound ⌈0.8·63/1.8⌉ is 28, but the float product is
    28.000000000000004 and a plain ceil reads 29, which pruned the pair."""
    shared = [f"s{i:02d}" for i in range(28)]
    docs = spark.createDataFrame(
        [(1, " ".join(shared + ["a1", "a2", "a3"])),
         (2, " ".join(shared + ["b1", "b2", "b3", "b4"]))],
        "doc_id long, text string",
    )
    plain = _pairs(jaccard_pairs(docs, "doc_id", "text", 1, 0.8))
    assert plain == {(1, 2): 0.8}
    assert _pairs(jaccard_pairs_prefix(docs, "doc_id", "text", 1, 0.8)) == plain


def test_containment_pairs_finds_partial_copy(spark):
    from fxspark.ops.dedup import containment_pairs

    quote = "alpha beta gamma delta epsilon zeta eta theta"
    long_doc = quote + " iota kappa " + " ".join(f"w{i}" for i in range(30))
    other = "one two three four five six seven eight nine ten"
    df = spark.createDataFrame(
        [(1, quote), (2, long_doc), (3, other)], "doc_id long, text string"
    )
    rows = containment_pairs(
        df, "doc_id", "text", n=3, min_shared=2,
        max_shingle_freq=50, threshold=0.5,
    ).collect()
    assert len(rows) == 1
    (r,) = rows
    # every trigram of the quote appears in the long doc -> containment 1.0
    assert (r["id_a"], r["id_b"]) == (1, 2)
    assert r["containment"] == 1.0
    assert r["shared"] == r["sz_a"]


def test_containment_pairs_respects_df_cap(spark):
    from fxspark.ops.dedup import containment_pairs

    # a shingle shared by 3 docs is dropped at max_shingle_freq=2, so the
    # only surviving evidence between docs 1 and 2 is their private overlap
    common = "x y z"
    df = spark.createDataFrame(
        [
            (1, common + " a b c d e"),
            (2, common + " a b c f g"),
            (3, common + " p q r s t"),
        ],
        "doc_id long, text string",
    )
    capped = containment_pairs(
        df, "doc_id", "text", n=3, min_shared=1,
        max_shingle_freq=2, threshold=0.0,
    ).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in capped}
    assert (1, 2) in pairs  # still linked by 'a b c' etc.
    # doc 3 shares ONLY the capped common shingles with 1/2 -> no pair
    assert all(3 not in p for p in pairs)


def test_minhash_signature_expr_matches_python_replay(spark):
    from fxspark.ops.dedup import (
        _MERSENNE_31,
        _minhash_perms,
        minhash_signature,
    )

    docs = spark.createDataFrame(
        [(7, "a b c d e f g h")], "doc_id long, text string"
    )
    sig = minhash_signature(docs, "doc_id", "text", n=3, k=8).collect()[0][
        "signature"
    ]
    shingle_rows = (
        docs.select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.lit(6)),
                    lambda i: F.concat_ws(
                        " ", F.slice(F.split(F.lit("a b c d e f g h"), " "), i, 3)
                    ),
                )
            ).alias("s")
        )
        .select(F.pmod(F.xxhash64("s"), F.lit(_MERSENNE_31)).alias("x"))
        .collect()
    )
    xs = [r["x"] for r in shingle_rows]
    perms = _minhash_perms(8)
    expect = [min((a * x + b) % _MERSENNE_31 for x in xs) for a, b in perms]
    assert sig == expect


def test_minhash_lsh_agrees_with_exact(spark, sf_dir):
    """LSH candidates + exact verification must reproduce the exact
    jaccard_pairs result at the 0.8 threshold (high-recall band config)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    exact = {
        (r["id_a"], r["id_b"]) for r in
        jaccard_pairs(docs, "doc_id", "text", 3, 0.8).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"]) for r in
        minhash_lsh_pairs(docs, "doc_id", "text", 3, 64, 16, 0.8).collect()
    }
    assert lsh == exact


def test_minhash_cross_pairs_hand_values(spark):
    # corpus doc 1 is a near-copy of bench doc 100; doc 2 is unrelated.
    # the cross variant must find (1, 100) and must NOT pair corpus docs
    # with each other even when they'd collide (3 and 1 are identical).
    from fxspark.ops.dedup import minhash_cross_pairs

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    corpus = spark.createDataFrame(
        [
            Row(doc_id=1, text=base + " mu"),
            Row(doc_id=2, text="one two three four five six seven"),
            Row(doc_id=3, text=base + " mu"),
        ]
    )
    bench = spark.createDataFrame([Row(doc_id=100, text=base + " nu")])
    got = {
        (r["doc_id"], r["bench_id"]): r["jaccard"]
        for r in minhash_cross_pairs(
            corpus, bench, "doc_id", "text", n=3, k=64, bands=16,
            threshold=0.5, hash_fn="md5_60",
        ).collect()
    }
    assert set(got) == {(1, 100), (3, 100)}
    assert all(0.5 <= j <= 1.0 for j in got.values())


def test_simhash_codes_expr_reference_vector(spark):
    """Frozen reference: codes for two fixed docs under xxhash64 unigrams,
    computed once with the round-16 Column-API implementation. A change in
    the expr spelling (mask literals, CASE arms, the 64-way OR) breaks this
    even if engine and oracle were changed together."""
    from fxspark.ops.dedup import simhash_codes

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta delta epsilon")],
        "doc_id long, text string",
    )
    got = {
        r["_id"]: r["_code"]
        for r in simhash_codes(docs, "doc_id", "text", 1, "xxhash64").collect()
    }
    # hand-replayed per-bit majority over xxhash64 token hashes (the
    # Column-API implementation's output, captured 2026-08-18)
    import pyspark.sql.functions as SF

    toks = spark.createDataFrame(
        [("alpha",), ("beta",), ("gamma",), ("delta",), ("epsilon",)],
        "t string",
    ).select("t", SF.xxhash64("t").alias("h")).collect()
    h = {r["t"]: r["h"] for r in toks}

    def code(words):
        bits = 0
        for b in range(64):
            mask = 1 << b if b < 63 else -(2**63)
            vote = sum(1 if (h[w] & mask) != 0 else -1 for w in words)
            if vote > 0:
                bits |= mask
        # keep within signed-64 semantics
        return bits - 2**64 if bits >= 2**63 else bits

    assert got[1] == code(["alpha", "beta", "gamma"])
    assert got[2] == code(["alpha", "beta", "delta", "epsilon"])


def test_simhash_tracks_similarity(spark):
    """Hamming(simhash) must be 0 for identical token sets, small for a
    one-token edit, and large for disjoint vocabularies."""
    from fxspark.ops.dedup import simhash_pairs

    # ~50 distinct tokens: enough votes per bit that a one-token edit moves
    # only a few bits (simhash is meaningless on tiny token sets)
    base = (
        "the quick brown fox jumps over a lazy dog near an old river bank "
        "while seven curious ravens watch from tall birch trees and count "
        "every passing cloud above those quiet green meadows where small "
        "children gather ripe berries during warm august afternoons singing "
        "ancient folk songs their grandparents taught them long ago"
    )
    edited = base.replace("lazy", "sleepy")
    other = "completely different words about spark catalyst tungsten shuffles"
    df = spark.createDataFrame(
        [Row(doc_id=1, text=base), Row(doc_id=2, text=edited),
         Row(doc_id=3, text=base), Row(doc_id=4, text=other)]
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_pairs(df, "doc_id", "text", n=1, max_hamming=7).collect()
    }
    assert pairs[(1, 3)] == 0                      # identical
    assert (1, 2) in pairs and pairs[(1, 2)] > 0   # near-dup: close but not 0
    assert (1, 4) not in pairs                     # disjoint: beyond threshold


def test_edit_distance_pairs_lossless_vs_brute(spark):
    """SymSpell deletion-neighborhood candidates must recover exactly the
    brute-force Levenshtein-<=1 pair set (sub/ins/del all covered)."""
    from fxspark.ops.dedup import edit_distance_pairs
    import itertools

    words = ["kitten", "mitten", "kittenz", "kitte", "sitting", "abc", "abd",
             "xyz", "kitten"]
    rows = [Row(id=i, k=w) for i, w in enumerate(words)]
    df = spark.createDataFrame(rows)
    got = {(r.id_a, r.id_b, r.dist)
           for r in edit_distance_pairs(df, "id", "k", max_dist=1).collect()}

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1,
                                         prev + (ca != cb))
        return dp[-1]

    want = {(i, j, lev(words[i], words[j]))
            for i, j in itertools.combinations(range(len(words)), 2)
            if lev(words[i], words[j]) <= 1}
    assert got == want


def test_edit_distance_pairs_depth2(spark):
    """max_dist=2 uses the delete-2 neighborhood and still verifies exactly."""
    from fxspark.ops.dedup import edit_distance_pairs

    rows = [Row(id=1, k="abcdef"), Row(id=2, k="abdef"),   # 1 deletion
            Row(id=3, k="abXdYf"), Row(id=4, k="zzzzzz")]  # 2 subs / far
    got = {(r.id_a, r.id_b, r.dist)
           for r in edit_distance_pairs(
               spark.createDataFrame(rows), "id", "k", max_dist=2).collect()}
    assert (1, 2, 1) in got and (1, 3, 2) in got
    assert not any(4 in (a, b) for a, b, _ in got)


def test_dup_clusters_chain_and_islands(spark):
    """CC over pairs: a chain {1-2, 2-3} and an island {7-9} must collapse
    to min-id clusters, regardless of pair orientation."""
    from fxspark.ops.dedup import dup_clusters

    pairs = spark.createDataFrame(
        [Row(id_a=2, id_b=3), Row(id_a=1, id_b=2), Row(id_a=9, id_b=7)]
    )
    got = {r["doc_id"]: r["cluster_id"] for r in dup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 7: 7, 9: 7}


def test_dup_clusters_string_ids(spark):
    """The size-adaptive fast path must stay type-generic (string ids work,
    not just longs)."""
    from fxspark.ops.dedup import dup_clusters

    pairs = spark.createDataFrame(
        [Row(id_a="b", id_b="c"), Row(id_a="a", id_b="b"), Row(id_a="x", id_b="y")]
    )
    got = {r["doc_id"]: r["cluster_id"] for r in dup_clusters(pairs).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_dup_clusters_label_propagation_matches_union_find(spark, monkeypatch):
    """Above the size gate dup_clusters runs distributed label propagation;
    with the gate at 0 both fixtures above take that path and must give
    the union-find path's (doc_id, cluster_id)."""
    from fxspark.ops import dedup

    fixtures = [
        [Row(id_a=2, id_b=3), Row(id_a=1, id_b=2), Row(id_a=9, id_b=7)],
        [Row(id_a="b", id_b="c"), Row(id_a="a", id_b="b"), Row(id_a="x", id_b="y")],
    ]

    def clusters(rows):
        out = dedup.dup_clusters(spark.createDataFrame(rows))
        return sorted((r["doc_id"], r["cluster_id"]) for r in out.collect())

    union_find = [clusters(rows) for rows in fixtures]
    monkeypatch.setattr(dedup, "SMALL_GRAPH_PAIRS", 0)
    assert [clusters(rows) for rows in fixtures] == union_find
    assert union_find[0] == [(1, 1), (2, 1), (3, 1), (7, 7), (9, 7)]


def test_ngram_overlap_broadcast_contamination(spark):
    """Contamination = shared distinct n-grams with the benchmark side;
    docs without overlap are absent; counts match a hand computation."""
    from pyspark.sql import Row

    from fxspark.ops.dedup import ngram_overlap

    train = spark.createDataFrame([
        Row(id=1, text="the quick brown fox jumps over the lazy dog"),
        Row(id=2, text="completely different words entirely here now"),
        Row(id=3, text="quick brown fox jumps high quick brown fox jumps"),
    ])
    bench = spark.createDataFrame([
        Row(id=100, text="a quick brown fox jumps today"),
    ])
    out = {
        r["id"]: (r["n_shared_grams"], r["n_bench_docs"])
        for r in ngram_overlap(train, bench, "id", "text", n=4).collect()
    }
    # bench 4-grams: {a quick brown fox, quick brown fox jumps, brown fox jumps today}
    assert out[1] == (1, 1)       # shares "quick brown fox jumps"
    assert out[3] == (1, 1)       # same single shared gram (distinct)
    assert 2 not in out           # no overlap -> absent


def test_chunk_dup_spans_hand_values(spark):
    # doc 0 and 1 share the 4-token chunk "a b c d"; doc 2 is distinct;
    # doc 3 repeats the shared chunk twice (counts as one doc, two occurrences)
    docs = spark.createDataFrame(
        [
            Row(doc_id=0, text="a b c d x y z w"),
            Row(doc_id=1, text="a b c d q r s t"),
            Row(doc_id=2, text="m n o p"),
            Row(doc_id=3, text="a b c d a b c d"),
        ]
    )
    out = {
        r["chunk_text"]: r
        for r in chunk_dup_spans(docs, "doc_id", "text", width=4).collect()
    }
    assert set(out) == {"a b c d"}
    r = out["a b c d"]
    assert r["n_docs"] == 3 and r["n_occurrences"] == 4 and r["first_doc"] == 0


def test_chunk_dup_spans_partial_tail_chunk(spark):
    # trailing partial chunks are real chunks: both docs end in "tail bit"
    docs = spark.createDataFrame(
        [
            Row(doc_id=0, text="p q r s tail bit"),
            Row(doc_id=1, text="u v w x tail bit"),
        ]
    )
    out = chunk_dup_spans(docs, "doc_id", "text", width=4).collect()
    assert [(r["chunk_text"], r["n_docs"]) for r in out] == [("tail bit", 2)]


# --- hypothesis properties over small corpora: repeated tokens, docs
# shorter than n tokens, and empty text (no shingles at all) ---

corpus_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=40),
        st.lists(st.sampled_from(["a", "b", "c", "d"]), max_size=12).map(" ".join),
    ),
    min_size=2,
    max_size=8,
    unique_by=lambda row: row[0],
)


@pytest.mark.parametrize("max_shingle_freq", [None, 2])
@pytest.mark.parametrize("threshold", [0.3, 0.5, 0.8])
@given(corpus=corpus_strategy)
@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
def test_jaccard_prefix_equals_plain_property(spark, corpus, threshold, max_shingle_freq):
    """The prefix/length/position filters are lossless and the capped
    universe is the plain op's, on any small corpus."""
    docs = _docs(spark, corpus)
    args = ("doc_id", "text", 3, threshold, max_shingle_freq)
    assert _pairs(jaccard_pairs_prefix(docs, *args)) == _pairs(jaccard_pairs(docs, *args))


@given(corpus=corpus_strategy, threshold=st.sampled_from([0.3, 0.5, 0.8]))
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
def test_minhash_lsh_pairs_are_agreement_candidates(spark, corpus, threshold):
    """``minhash_agreement`` scores exactly the unverified LSH candidates,
    and verifying them at ``threshold`` gives ``minhash_lsh_pairs``."""
    docs = _docs(spark, corpus)
    lsh = dict(n=3, k=16, bands=8, hash_fn="md5_60")
    agreed = _pairs(minhash_agreement(docs, "doc_id", "text", **lsh))
    cand = minhash_lsh_pairs(docs, "doc_id", "text", verify=False, **lsh).collect()
    assert {(r["id_a"], r["id_b"]) for r in cand} == set(agreed)
    verified = minhash_lsh_pairs(docs, "doc_id", "text", threshold=threshold, **lsh)
    assert _pairs(verified) == {p: j for p, j in agreed.items() if j >= threshold}
