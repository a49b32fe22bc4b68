"""Z-order layout operator: Morton-value correctness against a pure-Python
reference, and the actual pruning property — z-ordered partitions carry
tighter two-dimensional bounding boxes than the natural layout, which is
the entire reason OPTIMIZE ZORDER exists."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from fxspark.ops.layout import zorder_layout, zvalue


def _morton(a: int, b: int, bits: int = 16) -> int:
    z = 0
    for i in range(bits):
        z |= ((a >> i) & 1) << (2 * i)
        z |= ((b >> i) & 1) << (2 * i + 1)
    return z


def test_zvalue_matches_reference_morton(spark):
    rows = [(a, b) for a in [0, 1, 5, 255, 65535] for b in [0, 2, 7, 1023]]
    df = spark.createDataFrame(rows, "a long, b long")
    got = {
        (r["a"], r["b"]): r["z"]
        for r in df.select("a", "b", zvalue(F.col("a"), F.col("b")).alias("z")).collect()
    }
    for a, b in rows:
        assert got[(a, b)] == _morton(a, b), (a, b)


def test_zorder_layout_tightens_bounding_boxes(spark):
    # uniform 32x32 grid; 8 partitions. Natural order (row-major by a) gives
    # each partition full b-range (width 32); z-order bounds both dims.
    rows = [Row(a=a, b=b) for a in range(32) for b in range(32)]
    df = spark.createDataFrame(rows)

    def parts_overlapping_b_lt(frame, bound: int) -> int:
        """Partitions a scan with predicate b < bound could NOT prune
        (their [min_b, max_b] footer range intersects the predicate)."""
        parts = (
            frame.withColumn("_pid", F.spark_partition_id())
            .groupBy("_pid")
            .agg(F.min("b").alias("lo"), F.max("b").alias("hi"))
            .collect()
        )
        return sum(1 for r in parts if r["lo"] < bound)

    natural = df.repartitionByRange(8, "a").sortWithinPartitions("a", "b")
    zed = zorder_layout(df, F.col("a"), F.col("b"), 8)
    # natural layout ranges on a only: EVERY partition spans all of b, so a
    # predicate on b alone prunes nothing
    assert parts_overlapping_b_lt(natural, 8) == 8
    # z-order bounds b per partition: most partitions are prunable
    assert parts_overlapping_b_lt(zed, 8) <= 4
    # no rows lost
    assert zed.count() == 32 * 32


def test_hilbert_layout_tightens_bounding_boxes(spark):
    """Same pruning property on the Hilbert write path: partitions bound
    BOTH dimensions, and every partition is a contiguous curve segment
    (partition index ranges don't interleave)."""
    from fxspark.ops.layout import hilbert_layout

    rows = [Row(a=a, b=b) for a in range(32) for b in range(32)]
    df = spark.createDataFrame(rows)
    hil = hilbert_layout(df, F.col("a"), F.col("b"), 8, bits=5)

    parts = (
        hil.withColumn("_pid", F.spark_partition_id())
        .groupBy("_pid")
        .agg(
            F.min("b").alias("blo"),
            F.max("b").alias("bhi"),
            F.min("_h").alias("hlo"),
            F.max("_h").alias("hhi"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    )
    assert sum(r["n"] for r in parts) == 32 * 32
    # b-predicate pruning: most partitions bound b away from b < 8
    assert sum(1 for r in parts if r["blo"] < 8) <= 4
    # contiguous curve segments: sorted index ranges must not overlap
    spans = sorted((r["hlo"], r["hhi"]) for r in parts if r["n"] > 0)
    for (l1, h1), (l2, h2) in zip(spans, spans[1:]):
        assert h1 < l2, (spans,)


def test_hilbert_index_resolves_the_callers_own_attribute_refs(spark):
    """Two plan-equal inputs each get a walk rooted in their own lineage:
    the second result filters by the second input's attribute ref and
    gives the same rows as the first."""
    from fxspark.ops.layout import hilbert_layout_index

    def grid():
        return spark.range(100).select(
            (F.col("id") % 16).alias("x"), (F.col("id") % 7).alias("y")
        )

    df1, df2 = grid(), grid()
    out1 = hilbert_layout_index(df1, F.col("x"), F.col("y"), "hd", bits=4)
    out2 = hilbert_layout_index(df2, F.col("x"), F.col("y"), "hd", bits=4)
    got = sorted(tuple(r) for r in out2.filter(df2["x"] >= 0).collect())
    assert got == sorted(tuple(r) for r in out1.collect())
    assert len(got) == 100


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
