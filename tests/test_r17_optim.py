"""Round-17 optimization pins: each changed operator internal keeps its
declared semantics (the optimization rounds' focused-test requirement).

- zvalue's parallel bit-spread == the unrolled floor-div Morton reference
  on the full contract domain (non-negative ints < 2^bits), including the
  bits=32 widest case the spread masks must cover.
- simhash_codes / minhash signature expr-string construction == the values
  the Column-API form produced (pinned via a frozen reference vector, so a
  regression in the expr spelling can't hide behind both sides changing).
"""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_zvalue_bitspread_matches_floor_div_reference(spark):
    from fxspark.ops.layout import zvalue

    def ref(a: int, b: int, bits: int) -> int:
        z = 0
        for i in range(bits):
            z += ((a >> i) & 1) * 2 ** (2 * i) + ((b >> i) & 1) * 2 ** (2 * i + 1)
        return z

    rows = [(0, 0), (1, 0), (0, 1), (65535, 65535), (12345, 54321),
            (2**30 - 1, 17), (3, 2**30 - 1), (2**31 - 1, 2**31 - 1)]
    df = spark.createDataFrame(rows, "a long, b long")
    # bits=31 is the widest supported coordinate: bit 30 of b lands at
    # position 61, still inside the long's non-negative range. bits=32
    # would put bit 31 of b in the sign bit and diverge from the
    # unbounded-integer SQL twin — capped with a ValueError (round 18).
    for bits in (16, 31):
        lim = (1 << bits) - 1
        got = {
            (r["a"], r["b"]): r["z"]
            for r in df.select(
                "a", "b", zvalue(F.col("a"), F.col("b"), bits).alias("z")
            ).collect()
        }
        for a, b in rows:
            assert got[(a, b)] == ref(a & lim, b & lim, bits), (a, b, bits)
    for bad_bits in (32, 33):
        with pytest.raises(ValueError):
            zvalue(F.col("a"), F.col("b"), bad_bits)


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

