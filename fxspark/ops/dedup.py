"""Deduplication operators (north-star extension, BASELINE.json).

Tiers, increasing fuzziness:

1. ``exact_dedup`` — hash-groupBy on a normalized fingerprint.
2. ``jaccard_pairs``, ``jaccard_pairs_prefix``, ``containment_pairs`` —
   EXACT n-gram set similarity via an inverted shingle index (no
   approximation; candidate generation is lossless for any threshold > 0
   because overlapping sets share at least one shingle).
3. ``minhash_lsh_pairs``, ``minhash_agreement``, ``minhash_cross_pairs`` —
   MinHash signatures + banded LSH candidates, verified with exact Jaccard.
   The 100 TB path: cost is O(docs × bands), never all-pairs.
4. ``simhash_pairs`` (hamming bands over ``simhash_codes``) and
   ``edit_distance_pairs`` (SymSpell delete neighborhoods).

The pair ops share one filter-then-verify core — generate candidates by
bucket collision, then verify each candidate exactly:

- ``_bucket_pairs``: the id-ordered self-join on a bucket key (shingle, LSH
  band, SimHash byte, delete-variant hash) — ``jaccard_pairs_prefix``,
  ``containment_pairs``, ``minhash_lsh_pairs``, ``minhash_agreement``,
  ``simhash_pairs``, ``edit_distance_pairs``;
- ``_capped_index``: the stop-shingle-capped inverted index, with set sizes
  and verify arrays over the same capped universe — ``jaccard_pairs_prefix``,
  ``containment_pairs``;
- ``_bands``: the banded-signature select — the three MinHash ops;
- ``_with_jaccard``: the exact-Jaccard verify — ``jaccard_pairs_prefix`` and
  the three MinHash ops.

``jaccard_pairs`` keeps its own plain inverted-index code: it is the
independent reference the prefix and LSH ops are tested against.

Scale notes:

- The inverted-index join in (2) is quadratic in the hottest shingle bucket;
  ``max_shingle_freq`` drops ubiquitous shingles (document-frequency cap), the
  standard trick to keep the candidate join linear-ish. Use (3) when even
  capped buckets are too hot.
- All hashing is JVM-side (``md5``/``xxhash64``); no Python in any hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from fxspark.ops.text import fingerprint, tokens


def base_hash(col: Column, hash_fn: str = "xxhash64") -> Column:
    """64-bit string hash underlying MinHash/SimHash.

    ``xxhash64`` (default): fastest, JVM whole-stage-codegen.
    ``md5_60``: first 60 bits of md5 — ~2× slower but reproducible in any
    engine with md5 (DuckDB: ``('0x'||substr(md5(s),1,15))::BIGINT``), which
    makes the otherwise hash-opaque LSH operators oracle-differentiable.
    Distribution quality is equivalent; only bits 60-63 are pinned to zero.
    """
    if hash_fn == "xxhash64":
        return F.xxhash64(col)
    if hash_fn == "md5_60":
        return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")
    raise ValueError(f"unknown hash_fn {hash_fn!r}")


def shingles(col: Column, n: int = 3) -> Column:
    """Distinct token n-gram shingles of a text column.

    Guarded for short docs: Spark's ``sequence(1, 0)`` would generate a
    *descending* sequence, so size < n must yield an empty array explicitly.
    """
    t = tokens(col)
    return F.when(F.size(t) < n, F.array().cast("array<string>")).otherwise(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(t) - (n - 1)),
                lambda i: F.concat_ws(" ", F.slice(t, i, n)),
            )
        )
    )


def exact_dedup(
    df: DataFrame, text_col: str, id_col: str, keep: str = "min"
) -> DataFrame:
    """Exact dedup on normalized-text fingerprint: one surviving ``id_col``
    per fingerprint plus the group size.

    Single hash-shuffle on the 128-bit fingerprint — uniformly distributed by
    construction, so no skew at any scale.
    """
    keep_fn = F.min if keep == "min" else F.max
    return (
        df.withColumn("fp", fingerprint(F.col(text_col)))
        .groupBy("fp")
        .agg(
            keep_fn(F.col(id_col)).alias(id_col),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def _shingle_sets(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    return df.select(
        F.col(id_col).alias("_id"), shingles(F.col(text_col), n).alias("_sh")
    ).withColumn("_sz", F.size("_sh"))


def _postings(sets_: DataFrame, *carry: str) -> DataFrame:
    """One ``(_id, *carry, _s)`` row per document and shingle of ``sets_``.

    ``explode_outer`` plus a non-NULL filter, not ``explode``: over a plain
    ``_sh`` column Spark infers a ``size(_sh) > 0`` filter for an explode
    and pushes it below the projection that defines ``_sh``, so sets that
    are not materialized would run the whole shingling twice per document.
    No shingle is NULL, so the rows are those of ``explode``."""
    return sets_.select("_id", *carry, F.explode_outer("_sh").alias("_s")).filter(
        F.col("_s").isNotNull()
    )


def _bucket_pairs(
    frame: DataFrame, bucket_cols: list[str], carry: tuple[str, ...] = ()
) -> DataFrame:
    """Candidate generation shared by every self-pair op: the self-join of
    ``frame`` (one row per ``_id`` and bucket) on ``bucket_cols``, kept as
    ``id_a < id_b`` — each unordered pair of distinct ids once per shared
    bucket. Emits ``id_a``, ``id_b``, the bucket columns, and each ``carry``
    column suffixed ``_a``/``_b``; only what is carried crosses the
    bucket-keyed shuffle."""

    def side(s: str) -> DataFrame:
        return frame.select(
            F.col("_id").alias(f"id_{s}"),
            *bucket_cols,
            *[F.col(c).alias(f"{c}_{s}") for c in carry],
        )

    return (
        side("a")
        .join(side("b"), list(bucket_cols))
        .filter(F.col("id_a") < F.col("id_b"))
    )


def _with_jaccard(
    cand: DataFrame, sets_a: DataFrame, sets_b: DataFrame
) -> DataFrame:
    """Exact verify shared by the prefix and MinHash ops: attach to each
    candidate ``(id_a, id_b)`` the exact Jaccard of its two shingle sets
    (``sets_a`` keyed by ``id_a``, ``sets_b`` by ``id_b``; a broadcast hint
    on either side survives into the join), rounded to 6 places."""
    inter = F.size(F.array_intersect("_sha", "_shb"))
    jac = inter / (F.size("_sha") + F.size("_shb") - inter)
    return (
        cand.join(
            sets_a.select(F.col("_id").alias("id_a"), F.col("_sh").alias("_sha")),
            "id_a",
        )
        .join(
            sets_b.select(F.col("_id").alias("id_b"), F.col("_sh").alias("_shb")),
            "id_b",
        )
        .withColumn("jaccard", F.round(jac, 6))
    )


def _capped_index(
    postings: DataFrame, max_shingle_freq: int | None
) -> tuple[DataFrame, DataFrame]:
    """The inverted shingle index of ``postings`` (one ``(_id, _s)`` row per
    document and distinct shingle), materialized once — both pair-join
    sides and the set rollup read it — and the shingle sets rebuilt from
    it as ``(_id, _sh, _sz)``.

    ``max_shingle_freq`` drops shingles in more than that many docs from
    the universe (stop-shingle cap) BEFORE sizes and verify arrays are
    rebuilt, so a pair's intersection and its set sizes count the same
    shingles — mixing pre-cap ``|A|, |B|`` with a post-cap ``|A∩B|`` would
    bias the score low. A capped index row also carries its shingle's
    document frequency ``_df``.

    The frequency is an aggregate joined back, not a window over ``_s``: a
    window reads the postings once but leaves the checkpoint
    hash-partitioned on ``_s``, and Spark does not reuse an exchange
    between two reads of such a checkpoint (``containment_pairs``' two
    size lookups then ran one more broadcast and aggregation)."""
    if max_shingle_freq is not None:
        freq = postings.groupBy("_s").agg(F.count(F.lit(1)).alias("_df"))
        postings = postings.join(freq, "_s").filter(F.col("_df") <= max_shingle_freq)
    inv = postings.localCheckpoint()
    return inv, inv.groupBy("_id").agg(
        F.collect_list("_s").alias("_sh"), F.count(F.lit(1)).alias("_sz")
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """All pairs with token-``n``-gram Jaccard ≥ ``threshold`` (exact).

    Plan: explode distinct shingles → self-equi-join on shingle (the inverted
    index) → count shared shingles per pair → ``|A∩B| / (|A|+|B|-|A∩B|)``.

    Deliberately outside the module's candidate → verify core (it calls
    none of ``_bucket_pairs``, ``_capped_index`` or ``_with_jaccard``): it
    is the independent reference that ``jaccard_pairs_prefix`` and
    ``minhash_lsh_pairs`` are tested against, so a fault in the core cannot
    hide by changing both sides of that comparison.
    """
    sets_ = _shingle_sets(df, id_col, text_col, n)
    inv = _postings(sets_, "_sz")
    if max_shingle_freq is not None:
        freq = inv.groupBy("_s").agg(F.count(F.lit(1)).alias("_df"))
        inv = (
            inv.join(freq, "_s")
            .filter(F.col("_df") <= max_shingle_freq)
            .drop("_df")
        )
        # Set sizes must be recomputed over the SAME (frequency-capped)
        # shingle universe as the intersection counts, else jaccard mixes
        # pre-filter |A|,|B| with post-filter |A∩B| and is biased low.
        sz2 = inv.groupBy("_id").agg(F.count(F.lit(1)).alias("_sz2"))
        inv = inv.drop("_sz").join(sz2, "_id").withColumnRenamed("_sz2", "_sz")
    a = inv.select(
        F.col("_id").alias("id_a"), F.col("_sz").alias("sz_a"), "_s"
    )
    b = inv.select(
        F.col("_id").alias("id_b"), F.col("_sz").alias("sz_b"), "_s"
    )
    inter = (
        a.join(b, "_s")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "sz_a", "sz_b")
        .agg(F.count(F.lit(1)).alias("_inter"))
    )
    jac = F.col("_inter") / (F.col("sz_a") + F.col("sz_b") - F.col("_inter"))
    return (
        inter.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def jaccard_pairs_prefix(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """EXACT Jaccard-≥-threshold pairs via prefix filtering (AllPairs/PPJoin):
    result-identical to ``jaccard_pairs``, far fewer candidates.

    Lemma: under any global total order of shingles, two sets with
    J ≥ t must share a token within the first ``|A| − ⌈t·|A|⌉ + 1`` tokens
    of each. Ordering by ascending document frequency makes those prefix
    tokens the RAREST ones, so the inverted index only ever joins tiny
    buckets — the standard set-similarity-join shape at 100 TB, where
    indexing every shingle (the plain inverted index) melts on stop-shingles.
    Candidates are then verified exactly with ``array_intersect``.

    ``max_shingle_freq`` applies the stop-shingle cap FIRST (shingles in more
    than that many docs leave the universe; sizes and verify arrays are
    rebuilt over the capped universe — same semantics as ``jaccard_pairs``
    with the cap), then prefix-filters within it: at a loose threshold the
    cap bounds bucket width and the prefix bounds candidates per doc.

    On top of the prefix, the PPJoin length and position filters prune
    candidates exactness-preservingly: J ≥ t forces ``t·|A| ≤ |B| ≤ |A|/t``
    (length), and a prefix collision at ranks (pa, pb) can contribute at most
    ``min(|A|−pa, |B|−pb) + 1`` further shared tokens, which must reach
    ``⌈t/(1+t)·(|A|+|B|)⌉`` (position). At the loose thresholds the cap path
    is used with, these cut the verify set several-fold (measured ~2× end to
    end at sf0.1).
    """
    if max_shingle_freq is None:
        # Uncapped, the DOC-grain sets are what gets materialized: the
        # shingle explode is the CPU-heavy step, and the df-frequency, the
        # prefix index and both verify sides all read it. Materializing the
        # frequency-joined index instead, as the capped branch does, keeps
        # the job count but runs the shingling once per side of the
        # frequency join (5.66 → 9.31 s median at sf0.1, 4 cores, 7
        # alternating rounds in one JVM).
        sets_ = _shingle_sets(df, id_col, text_col, n).localCheckpoint()
        inv = sets_.select("_id", F.explode("_sh").alias("_s"))
        inv = inv.join(inv.groupBy("_s").agg(F.count(F.lit(1)).alias("_df")), "_s")
    else:
        postings = df.select(
            F.col(id_col).alias("_id"),
            F.explode(shingles(F.col(text_col), n)).alias("_s"),
        )
        inv, sets_ = _capped_index(postings, max_shingle_freq)
    # The pruning bounds use a threshold a hair below ``threshold``: a float
    # product such as 63 · 0.8 / 1.8 lands just above the integer 28, and
    # its ceil would prune a pair at exactly J = threshold. A looser bound
    # only admits candidates that the exact verify then drops.
    t = threshold - 1e-9
    # One window operator ranks each doc's shingles rarest-first and counts
    # its (capped) set size over the same partition.
    doc = Window.partitionBy("_id").orderBy("_df", "_s")
    whole = doc.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    prefix = inv.withColumns(
        {"_rk": F.row_number().over(doc), "_sz": F.count(F.lit(1)).over(whole)}
    ).filter(F.col("_rk") <= F.col("_sz") - F.ceil(F.col("_sz") * t) + 1)
    min_overlap = F.ceil((F.col("_sz_a") + F.col("_sz_b")) * t / (1.0 + t))
    cand = (
        _bucket_pairs(prefix, ["_s"], carry=("_rk", "_sz"))
        .filter(F.col("_sz_b") >= F.col("_sz_a") * t)
        .filter(F.col("_sz_a") >= F.col("_sz_b") * t)
        .filter(
            F.least(F.col("_sz_a") - F.col("_rk_a"), F.col("_sz_b") - F.col("_rk_b"))
            + 1
            >= min_overlap
        )
        .select("id_a", "id_b")
        .distinct()
    )
    # The verify stage is CPU-bound array intersection; AQE would coalesce
    # the small candidate shuffle to a handful of tasks and serialize it —
    # spread the intersections across the cluster explicitly.
    return (
        _with_jaccard(cand.repartition("id_a"), sets_, sets_)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    min_shared: int = 2,
    max_shingle_freq: int | None = 50,
    threshold: float = 0.5,
) -> DataFrame:
    """Asymmetric containment scoring: pairs where one document's shingle
    set is largely CONTAINED in the other's — ``|A∩B| / min(|A|,|B|)`` —
    the detector for partial copies, quotations, and sub-document
    inclusion that symmetric Jaccard misses (a paragraph pasted into a
    10× longer page has low resemblance but containment ≈ 1).

    Candidates come from the shingle inverted index with a document-
    frequency cap (``max_shingle_freq``): ultra-common shingles carry no
    identification signal and their posting lists are what makes an
    inverted-index self-join quadratic, so they are dropped from
    CANDIDATE GENERATION AND SCORING alike (declared semantics — the
    containment is over the rare-shingle universe, replayable in SQL).
    Pairs must share ``min_shared`` surviving shingles before scoring.
    Same single-shuffle topology as :func:`jaccard_pairs`.
    """
    # Materialize the DOC-grain shingle arrays before exploding: the
    # shingling HOFs (tokenize + per-position concat) are the expensive
    # map work, and the frequency cap below would otherwise re-execute
    # them for the build and probe sides (measured 2.5x on the sf0.1
    # fixture). The checkpointed frame is one small row per document.
    sets_ = _shingle_sets(df, id_col, text_col, n).localCheckpoint()
    inv, sets_ = _capped_index(
        sets_.select("_id", F.explode("_sh").alias("_s")), max_shingle_freq
    )
    sz = sets_.select("_id", "_sz")
    # The pair join carries ONLY ids: set sizes attach to the (much
    # smaller) pair-count table afterwards, so the shingle-keyed shuffle
    # moves two longs per posting instead of four.
    inter = (
        _bucket_pairs(inv, ["_s"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= min_shared)
        .join(sz.withColumnsRenamed({"_id": "id_a", "_sz": "sz_a"}), "id_a")
        .join(sz.withColumnsRenamed({"_id": "id_b", "_sz": "sz_b"}), "id_b")
    )
    cont = F.col("shared") / F.least(F.col("sz_a"), F.col("sz_b"))
    return (
        inter.withColumn("containment", F.round(cont, 6))
        .filter(F.col("containment") >= threshold)
        .select(
            "id_a",
            "id_b",
            "sz_a",
            "sz_b",
            "shared",
            "containment",
        )
    )


def ngram_overlap(
    train: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 4,
) -> DataFrame:
    """Benchmark-contamination check: for every training document, how many
    distinct token ``n``-grams it shares with ANY benchmark document, and how
    many benchmark documents it touches — the standard pre-training decontam
    sweep (report/drop docs overlapping an eval set).

    Plan: both sides explode to distinct (id, gram); the benchmark side is a
    few thousand eval documents even when the corpus is 100 TB, so its gram
    index is broadcast — the corpus side never shuffles, making the sweep a
    map-side join + one aggregation keyed by doc id (near-unique, no skew).
    """
    tr = train.select(
        F.col(id_col).alias("_id"),
        F.explode(shingles(F.col(text_col), n)).alias("_g"),
    )
    be = bench.select(
        F.col(id_col).alias("_bid"),
        F.explode(shingles(F.col(text_col), n)).alias("_g"),
    )
    return (
        tr.join(F.broadcast(be), "_g")
        .groupBy("_id")
        .agg(
            F.countDistinct("_g").alias("n_shared_grams"),
            F.countDistinct("_bid").alias("n_bench_docs"),
        )
        .withColumnRenamed("_id", id_col)
    )


_MERSENNE_31 = (1 << 31) - 1


def _minhash_perms(k: int, seed: int = 1234) -> list[tuple[int, int]]:
    """Deterministic (a, b) coefficients for k universal-hash permutations
    ``(a·x + b) mod (2^31 − 1)`` — the classic one-base-hash MinHash family.
    Mersenne-31 keeps ``a·x`` under 2^62: no long overflow, a TRUE universal
    family (wrapped multiplication would silently break it)."""
    import random

    rng = random.Random(seed)
    return [
        (rng.randrange(1, _MERSENNE_31), rng.randrange(0, _MERSENNE_31))
        for _ in range(k)
    ]


def minhash_signature(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, k: int = 64,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """MinHash signature (k mins) per document, one pass over the exploded
    shingles: ONE base hash per shingle, then k derived permutations
    ``min((a_i·x + b_i) mod 2^31−1)`` — k cheap integer ops instead of k full
    string hashes (~2× at k=64; the gap widens with shingle length).

    k aggregate columns over one explode — a single shuffle on ``id_col``.
    """
    return _signature_from_sets(_shingle_sets(df, id_col, text_col, n), k, hash_fn)


def _signature_from_sets(sets_: DataFrame, k: int, hash_fn: str = "xxhash64") -> DataFrame:
    inv = _postings(sets_).select(
        "_id", F.pmod(base_hash(F.col("_s"), hash_fn), F.lit(_MERSENNE_31)).alias("_x")
    )
    # One F.expr per permutation instead of a 5-deep Column-API tree:
    # identical expressions after parsing, but ONE py4j round-trip each —
    # the k=64 Column-API form spent ~0.6 s per query BUILD in driver
    # round-trips (round-17 phase profile; expr form 0.18 s, collected
    # signatures asserted identical).
    aggs = [
        F.expr(f"min(pmod({a}L * _x + {b}L, {_MERSENNE_31}L))").alias(f"h{i}")
        for i, (a, b) in enumerate(_minhash_perms(k))
    ]
    sig = inv.groupBy("_id").agg(*aggs)
    return sig.select(
        "_id",
        F.expr("array(" + ",".join(f"h{i}" for i in range(k)) + ")").alias(
            "signature"
        ),
    )


def _bands(sig: DataFrame, k: int, bands: int, hash_fn: str) -> DataFrame:
    """Banded-signature select shared by the MinHash ops: one
    ``(_id, _band, _bh)`` row per document and band of its ``signature``.
    The band key is a compacted xxhash64 (cheap shuffle) or, for any other
    ``hash_fn``, the exact r-value tuple (the md5_60 oracle path — band
    collisions bit-reproducible by any engine)."""
    r = k // bands
    head = "xxhash64(" if hash_fn == "xxhash64" else "concat_ws(',',"
    keys = [
        F.expr(head + ",".join(f"signature[{i}]" for i in range(b * r, (b + 1) * r)) + ")")
        for b in range(bands)
    ]
    return sig.select("_id", F.posexplode(F.array(*keys)).alias("_band", "_bh"))


def minhash_cross_pairs(
    corpus: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    k: int = 64,
    bands: int = 16,
    threshold: float = 0.7,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Cross-corpus MinHash-LSH contamination: near-duplicate (corpus doc,
    benchmark doc) pairs, exact-Jaccard-verified — the fuzzy tier above
    ``ngram_overlap``'s exact-gram sweep (paraphrased or lightly-edited eval
    material that exact grams miss).

    Topology mirrors ``ngram_overlap``, not the self-join: the benchmark
    side is thousands of docs regardless of corpus size, so its banded
    signatures AND its shingle sets broadcast — the corpus is map-side
    joined twice (candidate bands, then verification) and never shuffles on
    the open band/shingle domains. Emits (doc_id, bench_id, jaccard)."""
    corpus_sets = _shingle_sets(corpus, id_col, text_col, n).localCheckpoint()
    bench_sets = _shingle_sets(bench, id_col, text_col, n).localCheckpoint()

    def banded(sets_: DataFrame, id_name: str) -> DataFrame:
        sig = _signature_from_sets(sets_, k, hash_fn)
        return _bands(sig, k, bands, hash_fn).withColumnRenamed("_id", id_name)

    cand = (
        banded(corpus_sets, "id_a")
        .join(F.broadcast(banded(bench_sets, "id_b")), ["_band", "_bh"])
        .select("id_a", "id_b")
        .distinct()
    )
    return (
        _with_jaccard(cand, corpus_sets, F.broadcast(bench_sets))
        .filter(F.col("jaccard") >= threshold)
        .select(
            F.col("id_a").alias("doc_id"), F.col("id_b").alias("bench_id"), "jaccard"
        )
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    k: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
    verify: bool = True,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs via banded MinHash LSH, optionally verified with exact
    Jaccard (candidates whose true Jaccard < threshold are dropped).

    With k=64, bands=16 (r=4), the S-curve crosses ~0.5 at j≈0.7 — high
    recall at the 0.8 threshold. Candidate generation touches only documents
    sharing a band bucket: this is the all-pairs-free 100 TB path.

    ``hash_fn="md5_60"`` additionally switches the band key from an
    xxhash64 compaction to the exact r-value tuple, so band collisions are
    bit-reproducible by any engine (the oracle path); the default keeps the
    8-byte compacted key (cheaper shuffle at billions of rows).
    """
    # The shingle sets feed the signature AND both exact-verify sides; the
    # signature feeds both sides of the band self-join — materialize each
    # once rather than re-running the explode/agg per plan reference.
    sets_ = _shingle_sets(df, id_col, text_col, n)
    if verify:
        sets_ = sets_.localCheckpoint()
    sig = _signature_from_sets(sets_, k, hash_fn).localCheckpoint()
    cand = (
        _bucket_pairs(_bands(sig, k, bands, hash_fn), ["_band", "_bh"])
        .select("id_a", "id_b")
        .distinct()
    )
    if not verify:
        return cand
    return (
        _with_jaccard(cand, sets_, sets_)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_agreement(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    k: int = 64,
    bands: int = 16,
    hash_fn: str = "md5_60",
) -> DataFrame:
    """Sketch-quality evaluation for the MinHash tier: every LSH candidate
    pair with BOTH its exact trigram Jaccard and the MinHash estimate (the
    share of equal signature components, an exact multiple of 1/k) — the
    in-engine answer to "is the sketch faithful enough to replace the
    exact tier at this k". Emits (id_a, id_b, jaccard, eq_components);
    callers aggregate error by jaccard band. Same candidate topology as
    :func:`minhash_lsh_pairs` (band buckets only, never all pairs)."""
    sets_ = _shingle_sets(df, id_col, text_col, n).localCheckpoint()
    sig = _signature_from_sets(sets_, k, hash_fn).localCheckpoint()
    cand = (
        _bucket_pairs(_bands(sig, k, bands, hash_fn), ["_band", "_bh"])
        .select("id_a", "id_b")
        .distinct()
        .join(sig.withColumnsRenamed({"_id": "id_a", "signature": "_siga"}), "id_a")
        .join(sig.withColumnsRenamed({"_id": "id_b", "signature": "_sigb"}), "id_b")
    )
    eq = F.aggregate(
        F.zip_with(
            "_siga",
            "_sigb",
            lambda a, b: F.when(a == b, F.lit(1)).otherwise(F.lit(0)),
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return _with_jaccard(cand, sets_, sets_).select(
        "id_a", "id_b", "jaccard", eq.cast("long").alias("eq_components")
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 1,
    max_hamming: int = 6,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs with SimHash hamming distance ≤ ``max_hamming``.

    Candidates are generated by the pigeonhole trick: the 64-bit code splits
    into 8 bytes; two codes within hamming distance 7 MUST agree on at least
    one byte, so joining on (band, byte_value) is lossless for
    ``max_hamming <= 7`` while touching only colliding buckets — the same
    no-all-pairs shape as MinHash LSH, and the cheapest tier (one long per
    doc of state instead of a k-long signature).
    """
    if max_hamming > 7:
        raise ValueError("pigeonhole bands guarantee completeness only for max_hamming <= 7")
    # Both sides of the band self-join read the codes — materialize the
    # explode + 64-vote aggregation once (one long per doc of state).
    sh = simhash_codes(df, id_col, text_col, n, hash_fn).localCheckpoint()
    banded = sh.select(
        "_id",
        "_code",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("_code"), 8 * b).bitwiseAND(F.lit(255))
                    for b in range(8)
                ]
            )
        ).alias("_band", "_bv"),
    )
    hamming = F.bit_count(F.col("_code_a").bitwiseXOR(F.col("_code_b")))
    return (
        _bucket_pairs(banded, ["_band", "_bv"], carry=("_code",))
        .select("id_a", "id_b", hamming.alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_codes(
    df: DataFrame, id_col: str, text_col: str, n: int = 1,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Per-document 64-bit SimHash code as ``(_id, _code)``: per-bit
    majority vote over the shingle (or token) base hashes. Explode shingles
    once, then 64 vectorized ``sum(±1)`` bit-vote aggregates in ONE hash
    aggregation (the same single-shuffle shape as ``minhash_signature``).
    A per-row column-expression form (64 sequential array folds per row)
    was ~30× slower at 5k docs and degraded with document length; this
    form is plain scan + hash-agg and scales like any groupBy.

    Documents with zero shingles produce no row (no similarity signal).
    """
    sh = shingles(F.col(text_col), n) if n > 1 else F.array_distinct(tokens(F.col(text_col)))
    hashed = df.select(
        F.col(id_col).alias("_id"), F.explode(sh).alias("_s")
    ).select("_id", base_hash(F.col("_s"), hash_fn).alias("_h"))
    # Vote aggregates and the 64-way code fold as F.expr strings: the
    # Column-API form (64 × when/bitwiseAND/sum plus a 64-deep bitwiseOR
    # chain) cost ~1.1 s of driver py4j round-trips per query BUILD; the
    # parsed-expression form is the identical tree after analysis at
    # 0.24 s (round 17, codes asserted bit-identical on the fixture
    # corpus). The sign bit's mask is spelled without a bare
    # -9223372036854775808L literal (it would overflow before negation).
    masks = [
        f"{1 << b}L" if b < 63 else "(-9223372036854775807L - 1L)"
        for b in range(64)
    ]
    votes = [
        F.expr(
            f"sum(CASE WHEN (_h & {masks[b]}) != 0 THEN 1 ELSE -1 END)"
        ).alias(f"_v{b}")
        for b in range(64)
    ]
    agg = hashed.groupBy("_id").agg(*votes)
    code_sql = " | ".join(
        f"(CASE WHEN _v{b} > 0 THEN {masks[b]} ELSE 0L END)"
        for b in range(64)
    )
    return agg.select("_id", F.expr(code_sql).alias("_code"))


# dup_clusters is size-adaptive: near-dup graphs are tiny relative to the
# corpus (edges exist only between near-duplicates), so up to this many pairs
# the driver-side O(E α(E)) union-find beats O(diameter) distributed rounds
# by the whole per-round scheduling cost. Above it, it falls through to label
# propagation — the same adaptivity AQE applies to join strategies. The gate
# counts RAW pairs (collected as-is; no symmetrized/self-loop expansion rows).
SMALL_GRAPH_PAIRS = 2_000_000


def dup_clusters(pairs: DataFrame, max_iter: int = 20) -> DataFrame:
    """Connected components over a near-dup pair graph: (doc_id, cluster_id)
    where cluster_id is the smallest doc id reachable through pairs — the
    step that turns pairwise matches into keep-one-per-cluster dedup.

    Iterative min-label propagation: each round every node takes the min of
    its own label and its neighbors' labels (one join + one groupBy per
    round); converges in O(diameter) rounds, checked via a driver-side
    changed-count — the standard large-graph CC under hash partitioning
    (GraphX/GraphFrames do the same shape). ``localCheckpoint`` truncates
    the growing lineage each round.
    """
    # materialize the pair list ONCE: both the size gate below and every
    # propagation round re-read it, and without this the whole upstream
    # pair pipeline re-executes per use (measured 3x the query cost at sf0.1)
    base = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).localCheckpoint()
    if base.count() <= SMALL_GRAPH_PAIRS:
        from pyspark.sql.types import StructField, StructType

        parent: dict = {}

        def find(x):
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != x:  # path compression
                parent[x], x = root, parent[x]
            return root

        pair_rows = [(r["src"], r["dst"]) for r in base.collect()]
        for a, b in pair_rows:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        nodes = {v for e in pair_rows for v in e}
        rows = sorted((n, find(n)) for n in nodes)
        # keep the id type generic (long doc ids, string hashes, ...)
        id_type = base.schema["src"].dataType
        schema = StructType([
            StructField("doc_id", id_type, False),
            StructField("cluster_id", id_type, False),
        ])
        return pairs.sparkSession.createDataFrame(rows, schema)
    edges = base.union(
        base.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    # Self-loops fold each node's OWN label into the same neighbor-min
    # aggregation — one join + one agg per round instead of a neighbor-min
    # join plus a second self-join to merge it back.
    edges = (
        edges.union(edges.select("src", F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    for _ in range(max_iter):
        # The self-loop row carries the node's previous label out of the agg
        # (as _old), so convergence is a shuffle-free scan of the checkpointed
        # result — not a join against the previous round.
        new_labels = (
            edges.join(labels, edges["dst"] == labels["node"])
            .groupBy("src")
            .agg(
                F.min("label").alias("label"),
                F.min(F.when(F.col("dst") == F.col("src"), F.col("label"))).alias("_old"),
            )
            .localCheckpoint()
        )
        labels = new_labels.select(F.col("src").alias("node"), "label")
        if new_labels.filter(F.col("label") != F.col("_old")).isEmpty():
            break
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))


def _deletes(s: Column) -> Column:
    """All single-character-deletion variants of a string column."""
    return F.transform(
        F.sequence(F.lit(1), F.length(s)),
        lambda i: F.concat(F.substring(s, F.lit(1), i - 1), F.substr(s, i + 1)),
    )


def edit_distance_pairs(
    df: DataFrame,
    id_col: str,
    str_col: str,
    max_dist: int = 1,
) -> DataFrame:
    """All pairs within Levenshtein distance ``max_dist`` (exact), via the
    SymSpell deletion-neighborhood join: two strings within edit distance d
    must share a variant reachable by ≤ d deletions from each (Garbe's
    symmetric-delete lemma), so the candidate set is an equi-join on the
    delete-neighborhood — linear in rows × neighborhood size, never
    all-pairs. Candidates are verified with exact ``levenshtein``.

    The join key is the xxhash64 of the variant, not the variant string:
    equality of variants implies equality of hashes (recall is lossless) and
    any hash collision is killed by the exact verify — while the shuffle
    moves 8-byte keys instead of near-full-length strings. ``max_dist`` ≤ 2:
    the depth-2 neighborhood is O(len²) per string; beyond that use
    ``jaccard_pairs``/LSH (edit distance stops being the right tool).
    """
    if max_dist not in (1, 2):
        raise ValueError("edit_distance_pairs supports max_dist in {1, 2}")
    base = df.select(F.col(id_col).alias("_id"), F.col(str_col).alias("_s"))
    v1 = F.array_union(F.array(F.col("_s")), _deletes(F.col("_s")))
    if max_dist == 2:
        variants = F.array_distinct(
            F.flatten(F.transform(v1, lambda v: F.array_union(F.array(v), _deletes(v))))
        )
    else:
        variants = v1
    inv = base.select("_id", "_s", F.explode(variants).alias("_v")).select(
        "_id", "_s", F.xxhash64("_v").alias("_vh")
    )
    return (
        _bucket_pairs(inv, ["_vh"], carry=("_s",))
        .select("id_a", "id_b", F.levenshtein("_s_a", "_s_b").alias("dist"))
        .distinct()
        .filter(F.col("dist") <= max_dist)
    )


def chunk_dup_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    width: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document duplicated-span detection over fixed-width token
    chunks — the scalable approximation of exact-substring dedup (Lee et
    al., "Deduplicating Training Data Makes Language Models Better": the
    suffix-array ExactSubstr dedup, whose distributed stand-in is hashing
    fixed-width token windows).

    Documents are cut into NON-overlapping ``width``-token chunks (the
    trailing partial chunk included), and every chunk occurring in at least
    ``min_docs`` distinct documents is emitted with its occurrence stats.
    One row per duplicated span: ``(chunk_text, n_docs, n_occurrences,
    first_doc)``.

    Scale shape: the explode is map-side (no shuffle); the single exchange
    is the groupBy on the chunk hash, which partial-aggregates map-side so
    the shuffle carries one row per distinct chunk per task — at 100 TB
    this is the canonical count-distinct-per-span plan. No Python, no
    driver state.

    Empty tokens are dropped before chunking (split of an empty/multi-space
    text yields '' entries — without the filter every pair of empty docs
    would report a shared '' span; found by the property suite)."""
    t = F.filter(tokens(F.col(text_col)), lambda x: x != F.lit(""))
    n_chunks = F.ceil(F.size(t) / F.lit(width)).cast("int")
    # empty docs: sequence(0, -1) would generate a DESCENDING sequence (the
    # same trap shingles() guards) — yield no chunks instead
    starts = F.when(
        n_chunks < 1, F.array().cast("array<int>")
    ).otherwise(
        F.transform(F.sequence(F.lit(0), n_chunks - 1), lambda i: i * width + 1)
    )
    chunks = df.select(
        F.col(id_col).alias("_id"),
        F.explode(
            F.transform(starts, lambda s: F.concat_ws(" ", F.slice(t, s, width)))
        ).alias("chunk_text"),
    )
    return (
        chunks.groupBy("chunk_text")
        .agg(
            F.countDistinct("_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.min("_id").alias("first_doc"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )
