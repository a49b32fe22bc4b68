"""Exact quantile binning without a global sort (the ntile scale form).

``ntile(n) OVER (ORDER BY x)`` is the single most common per-entity scoring
pattern (RFM, deciles, quartile bands) and the classic Spark scale trap: an
un-partitioned window serializes the whole frame through one task. This
module provides the declared-semantics replacement promised by the
``customer_decile_bands`` / ``customer_spend_quartiles`` docstrings.

One keyed core, :func:`_boundaries`, computes every boundary array, and one
labeler, :func:`_bucket`, bins every row; the four public binners only
prepare the core's input. That input carries ``keys + [_qv, _qw]`` — the
value and its positive integer weight (``_qw = 1`` for plain ranks) — and
the core runs these stages per key:

1. one aggregate gets ``(min, max, Σw)`` of the values;
2. rows map to <= ``coarse_buckets`` fixed-width coarse buckets (double
   arithmetic — monotone non-decreasing in x, the only invariant needed,
   same reasoning as ``ops/skyline.skyline2d``);
3. the per-bucket weight histogram (<= coarse_buckets rows per key) is
   prefix-summed by a window partitioned by the keys — with no keys, a
   bounded-grain global window;
4. each target rank ``k_i = ceil(W * i / n)`` (exact long arithmetic,
   ``(W*i + n - 1) div n``) locates the bucket that holds it and the rank
   offset within that bucket;
5. only the rows of those buckets are read again: a ROWS-frame running
   weight sum per (keys, bucket, target), ordered by value, keeps the one
   CROSSING row, ``cw >= k > cw - w``. With unit weights that is the row
   at rank k; with positive weights it is the smallest value whose
   cumulative weight reaches k — every row of a tie carries the same value,
   so intra-tie row order never moves the boundary;
6. each key's boundaries become one sorted array.

The labeler bins MAP-SIDE against that array: ``bucket = 1 + #{b < x}``.
The whole thing is lazy (no driver collect). Cost at any scale: one tiny
histogram shuffle + one shuffle of the boundary-bucket rows (a
~(n-1)/coarse_buckets fraction of the input) + a map-side bin pass. Never a
global sort.

DECLARED SEMANTICS (differs from ntile exactly at ties): boundary ``b_i``
is the value at ascending rank ``ceil(c*i/n)`` (type-1 empirical quantile);
a row lands in bucket ``1 + #{b_i < x}``, so ALL rows with equal x share a
bucket — bucket populations deviate from ntile's even split when ties
straddle a boundary, and the assignment is value-deterministic (no
tiebreak column needed). NULL x bins to NULL. The DuckDB oracle twins
compute the identical rank-based boundaries, so the differential is exact.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# quantile_bins_multi compares every dimension in this one type: it holds
# ints, longs and sub-scale decimals exactly (never route doubles through it)
_MULTI_TYPE = "decimal(38,6)"


def _boundaries(
    vals: DataFrame,
    keys: list[str],
    n: Column,
    coarse_buckets: int,
    hint: Callable[[DataFrame], DataFrame] = F.broadcast,
) -> DataFrame:
    """``(keys..., _qbs)``: each key's sorted boundary array (stages 1-6 of
    the module docstring). ``n`` is a Column over ``keys``, so each key may
    ask for its own bin count; ``hint`` wraps the small per-key frames
    (stats, target ranks, located targets) on their joins."""
    stats = vals.groupBy(*keys).agg(
        F.min("_qv").cast("double").alias("_qlo"),
        F.max("_qv").cast("double").alias("_qhi"),
        F.sum("_qw").alias("_qc"),
    )
    xd = F.col("_qv").cast("double")
    bkt = F.when(F.col("_qhi") == F.col("_qlo"), F.lit(0)).otherwise(
        F.least(
            F.lit(coarse_buckets - 1),
            F.floor(
                (xd - F.col("_qlo"))
                * coarse_buckets
                / (F.col("_qhi") - F.col("_qlo"))
            ),
        ).cast("int")
    )
    small = hint(stats)
    vb = (
        vals.join(small, keys) if keys else vals.crossJoin(small)
    ).select(*keys, "_qv", "_qw", bkt.alias("_qbkt"))

    hist = vb.groupBy(*keys, "_qbkt").agg(F.sum("_qw").alias("_qn"))
    wb = (
        Window.partitionBy(*keys)
        .orderBy("_qbkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = hist.select(
        *keys,
        "_qbkt",
        "_qn",
        F.coalesce(F.sum("_qn").over(wb), F.lit(0)).alias("_qcb"),
    )

    tgt = stats.select(
        *keys,
        "_qc",
        n.alias("_qnb"),
        F.explode(F.sequence(F.lit(1), n - 1)).alias("_qi"),
    ).select(
        *keys,
        "_qi",
        F.expr("(_qc * _qi + _qnb - 1) div _qnb").alias("_qk"),
    )
    # the targets, not the prefix sums, are the broadcast side: their stats
    # pass then runs as its own broadcast job, beside the histogram's
    # (measured faster on bench.py's 5M-row probes)
    located = hint(tgt).alias("t").join(
        cum.alias("h"),
        [F.col(f"t.{k}") == F.col(f"h.{k}") for k in keys]
        + [
            F.col("h._qcb") < F.col("t._qk"),
            F.col("h._qcb") + F.col("h._qn") >= F.col("t._qk"),
        ],
    ).select(
        *[F.col(f"t.{k}").alias(k) for k in keys],
        F.col("t._qi").alias("_qi"),
        F.col("h._qbkt").alias("_qbkt"),
        (F.col("t._qk") - F.col("h._qcb")).alias("_qlr"),
    )

    wcum = (
        Window.partitionBy(*keys, "_qbkt", "_qi")
        .orderBy("_qv")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    bnd = (
        vb.join(hint(located), [*keys, "_qbkt"])
        .withColumn("_cw", F.sum("_qw").over(wcum))
        .filter(
            (F.col("_cw") >= F.col("_qlr"))
            & (F.col("_cw") - F.col("_qw") < F.col("_qlr"))
        )
        .select(*keys, "_qi", F.col("_qv").alias("_qb"))
    )
    return bnd.groupBy(*keys).agg(
        F.sort_array(F.collect_list(F.struct("_qi", "_qb"))).alias("_qs")
    ).select(*keys, F.transform("_qs", lambda s: s["_qb"]).alias("_qbs"))


def _bucket(x: Column, bnds: Column, n: int, descending: bool) -> Column:
    """``1 + #{b < x}`` over the boundary array ``bnds``, relabeled
    ``n + 1 - ...`` when descending; NULL when ``x`` or ``bnds`` is NULL."""
    asc = F.lit(1) + F.aggregate(
        bnds,
        F.lit(0),
        lambda acc, b: acc + F.when(x > b, F.lit(1)).otherwise(F.lit(0)),
    )
    bucket = F.lit(n + 1) - asc if descending else asc
    return F.when(x.isNotNull(), bucket.cast("int"))


def quantile_bins(
    df: DataFrame,
    col: str,
    n: int,
    out_col: str,
    descending: bool = False,
    coarse_buckets: int = 1024,
) -> DataFrame:
    """Add ``out_col`` = exact quantile bucket (1..n) of ``col``.

    ``descending=True`` labels bucket 1 as the LARGEST values (the
    ``ntile(n) OVER (ORDER BY x DESC)`` reading). Comparisons stay in the
    column's own type.

    The caller should pass a frame whose lineage is cheap to re-evaluate
    (aggregate output, or ``localCheckpoint(eager=False)`` it): the bin
    column frame is scanned by the boundary stages and again by the final
    bin pass.
    """
    x = F.col(col)
    vals = df.filter(x.isNotNull()).select(
        x.alias("_qv"), F.lit(1).alias("_qw")
    )
    barr = _boundaries(vals, [], F.lit(n), coarse_buckets)
    return (
        df.crossJoin(F.broadcast(barr))
        .withColumn(out_col, _bucket(x, F.col("_qbs"), n, descending))
        .drop("_qbs")
    )


def quantile_bins_grouped(
    df: DataFrame,
    group_cols: list[str],
    col: str,
    n: int,
    out_col: str,
    descending: bool = False,
    coarse_buckets: int = 1024,
) -> DataFrame:
    """Per-GROUP exact quantile bucket (1..n) of ``col`` — the scale form
    of ``ntile(n) OVER (PARTITION BY group ORDER BY x)`` for the
    few-large-groups shape where the partitioned window is NOT safe: with
    5 regions over 10⁹ customers each region's whole frame serializes
    through one window task. Here the core is keyed by the group columns,
    so every stage stays keyed (no broadcast hints: the group count is the
    caller's) and the boundary arrays come back through a left join.

    Rows whose GROUP key is NULL are outside the grouped-binning domain
    and are dropped by contract: every internal boundary join is keyed on
    the group columns, where a NULL key can never match its own group —
    such rows would otherwise ride through with an incidental NULL bin.
    (NULL bin VALUES keep the per-row NULL label, as in quantile_bins.)
    """
    g = list(group_cols)
    for c in g:
        df = df.filter(F.col(c).isNotNull())
    x = F.col(col)
    vals = df.filter(x.isNotNull()).select(
        *g, x.alias("_qv"), F.lit(1).alias("_qw")
    )
    barr = _boundaries(vals, g, F.lit(n), coarse_buckets, hint=lambda d: d)
    # left join: a group whose rows are all NULL-valued has no boundary row
    return (
        df.join(barr, g, "left")
        .withColumn(out_col, _bucket(x, F.col("_qbs"), n, descending))
        .drop("_qbs")
    )


def quantile_bins_weighted(
    df: DataFrame,
    col: str,
    weight_col: str,
    n: int,
    out_col: str,
    descending: bool = False,
    coarse_buckets: int = 1024,
) -> DataFrame:
    """Weighted exact quantile bucket (1..n) of ``col``: boundary ``b_i``
    is the SMALLEST value whose cumulative weight (over values <= it)
    reaches ``ceil(W * i / n)``, ``W`` = total weight — the
    volume-weighted read of "median price" and friends. Weights must be
    POSITIVE integers (cast to long; declare units accordingly): integer
    rank arithmetic is what keeps the boundary cross-engine exact. NULL
    value or weight rows are excluded from the boundary mass and bin to
    NULL.
    """
    x = F.col(col)
    w = F.col(weight_col)
    vals = df.filter(x.isNotNull() & w.isNotNull()).select(
        x.alias("_qv"), w.cast("long").alias("_qw")
    )
    barr = _boundaries(vals, [], F.lit(n), coarse_buckets)
    return (
        df.crossJoin(F.broadcast(barr))
        .withColumn(
            out_col,
            F.when(
                w.isNotNull(), _bucket(x, F.col("_qbs"), n, descending)
            ),
        )
        .drop("_qbs")
    )


def quantile_bins_multi(
    df: DataFrame,
    specs: list[tuple[str, int, str, bool]],
    coarse_buckets: int = 1024,
) -> DataFrame:
    """Fused multi-dimension :func:`quantile_bins`: one boundary pass for
    ALL dimensions (RFM-style scoring bins 3+ columns of the same frame —
    running the single-column form per dimension triples the tiny-stage
    count for no reason; at 100 TB it also re-reads the base once per
    dimension).

    ``specs``: list of ``(col, n, out_col, descending)``. Rows explode to
    ``(dimension, value)`` pairs keyed by dimension, each with its own
    ``n``; every value is cast to ``decimal(38,6)``, which must represent
    each dimension EXACTLY (integers and sub-scale decimals; do NOT route
    doubles here, use the single-column form instead).
    """
    pairs = (
        df.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("_qd"),
                            F.col(c).cast(_MULTI_TYPE).alias("_qv"),
                        )
                        for i, (c, _, _, _) in enumerate(specs)
                    ]
                )
            ).alias("_s")
        )
        .select("_s._qd", "_s._qv", F.lit(1).alias("_qw"))
        .filter(F.col("_qv").isNotNull())
    )
    narr = F.array(*[F.lit(n) for (_, n, _, _) in specs])
    barr = _boundaries(
        pairs, ["_qd"], F.element_at(narr, F.col("_qd") + 1), coarse_buckets
    )
    bmap = barr.groupBy().agg(
        F.map_from_entries(F.collect_list(F.struct("_qd", "_qbs"))).alias(
            "_qbm"
        )
    )
    out = df.crossJoin(F.broadcast(bmap))
    for i, (c, n, out_col, descending) in enumerate(specs):
        x = F.col(c).cast(_MULTI_TYPE)
        out = out.withColumn(
            out_col, _bucket(x, F.col("_qbm")[i], n, descending)
        )
    return out.drop("_qbm")
