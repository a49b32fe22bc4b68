"""Latest-per-key operators (SURVEY.md §2.3 Q5, Q6, Q10).

The reference's "LatestRates" CTE is ``ROW_NUMBER() OVER (PARTITION BY
ccy_couple ORDER BY event_date_time DESC) = 1``
(``/root/reference/Fx_1min.py:159-173``); its "LatestEOD" CTE is a grouped
``MAX(event_time)`` (``Fx_1min.py:182-188``). Both are generalized here.

Scale notes (100 TB):

- ``latest_per_key_agg`` is the default: a map-side partial combine, one
  shuffle of (key → single struct), and no full materialization of any group.
  Its ``max_by`` buffer holds a struct, which a hash aggregate cannot update
  in place, so it plans as a partial and a final SortAggregate with a sort on
  each side of the shuffle (``explain()`` on the tick's upsert shows both).
  The sorts cover every input row, which is why ``sink.upsert`` sends only
  the store rows the batch touches through it.
- ``latest_per_key_window`` keeps ALL columns of the winning row without a
  self-join, at the cost of a shuffle+sort per partition. Use when the payload
  is wide or when ``n > 1`` ranks are needed.
- Both shuffle only on the key; skewed keys are handled by AQE skew-join /
  partial aggregation, not by salting in the operator itself.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _cols(names: Sequence[str] | str) -> list[str]:
    return [names] if isinstance(names, str) else list(names)


def drop_null_order(df: DataFrame, order: Sequence[str] | str) -> DataFrame:
    """UNIFIED NULL-ORDERING CONTRACT (round 15): rows with a NULL in any
    ORDER coordinate are outside the ordering domain and are DROPPED before
    ranking — the discipline ``k_smallest_per_key`` has carried since
    ADVICE r6 and the sessionize/EWMA/CUSUM/SCD2/quantile family adopted in
    round 14 (degenerate class 12), now applied to EVERY rank op
    (``latest_per_key_agg``/``_window``, ``dedup_latest``,
    ``nth_before_cutoff``, ``asof_join``/``nearest_join`` on their as-of
    coordinate). Rationale: a NULL recency has no place in a
    latest/earliest order (Spark would rank it SMALLEST, DuckDB LARGEST —
    sqlfuzz rule D8 — so any kept-NULL semantics is dialect-specific), and
    the reference's own order column is NOT NULL by schema
    (``/root/reference/Fx_1min.py:32`` event_time). Value-identical on any
    input whose order columns are populated; quarantine-style callers can
    diff against the input to audit what was dropped."""
    out = df
    for c in _cols(order):
        out = out.filter(F.col(c).isNotNull())
    return out


def latest_per_key_agg(
    df: DataFrame,
    keys: Sequence[str] | str,
    order_by: Sequence[str] | str,
    payload: Sequence[str] | None = None,
) -> DataFrame:
    """Latest row per key via ``max_by`` aggregate (single shuffle, sorted
    on both sides — see the module's scale notes).

    ``order_by`` columns form the recency ordering (later entries break ties);
    the struct comparison is lexicographic, so ordering is total as long as the
    combined order columns are unique per key.  Returns ``keys + payload``.
    Rows with a NULL order coordinate are dropped (:func:`drop_null_order`);
    a key whose rows ALL have NULL order vanishes from the output.
    """
    keys, order = _cols(keys), _cols(order_by)
    df = drop_null_order(df, order)
    if payload is None:
        payload = [c for c in df.columns if c not in keys]
    ord_struct = F.struct(*[F.col(c) for c in order])
    pay_struct = F.struct(*[F.col(c).alias(c) for c in payload])
    out = df.groupBy(*keys).agg(F.max_by(pay_struct, ord_struct).alias("_latest"))
    return out.select(*keys, *[F.col(f"_latest.{c}").alias(c) for c in payload])


def latest_per_key_window(
    df: DataFrame,
    keys: Sequence[str] | str,
    order_by: Sequence[str] | str,
    n: int = 1,
) -> DataFrame:
    """Top-``n`` most-recent rows per key via window ``row_number``.

    Mirrors the reference's rn=1 filter (``Fx_1min.py:169-172``); ``n>1``
    generalizes it (rank 2 = the "previous" row the reference digs out with a
    correlated subquery, ``Fx_1min.py:191-196``). NULL order coordinates are
    dropped (:func:`drop_null_order`) — identical output to
    :func:`latest_per_key_agg` at ``n=1`` on ANY input, NULLs included.
    """
    keys, order = _cols(keys), _cols(order_by)
    df = drop_null_order(df, order)
    w = Window.partitionBy(*keys).orderBy(*[F.col(c).desc() for c in order])
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n)
        .drop("_rn")
    )


def grouped_max(
    df: DataFrame,
    keys: Sequence[str] | str,
    agg_col: str,
    extra_aggs: dict[str, Column] | None = None,
) -> DataFrame:
    """``SELECT keys, MAX(agg_col) ... GROUP BY keys`` (``Fx_1min.py:182-188``).

    Partial (map-side) aggregation makes this the cheapest latest-key lookup at
    scale — it ships one value per key per input partition.
    """
    keys = _cols(keys)
    aggs = [F.max(agg_col).alias(f"max_{agg_col}")]
    for name, col in (extra_aggs or {}).items():
        aggs.append(col.alias(name))
    return df.groupBy(*keys).agg(*aggs)


def dedup_latest(
    df: DataFrame,
    keys: Sequence[str] | str,
    order_by: Sequence[str] | str,
) -> DataFrame:
    """Last-writer-wins dedup on a natural key.

    This is the pure-DataFrame equivalent of the reference's
    ``ON DUPLICATE KEY UPDATE`` upsert (``Fx_1min.py:106-109``): among rows
    sharing ``keys``, keep the one with the greatest ``order_by``. A row
    with a NULL order coordinate carries no usable recency and is dropped
    (:func:`drop_null_order`) — it can neither win nor resurrect a key.
    """
    return latest_per_key_agg(df, keys, order_by)


def k_smallest_per_key(
    df: DataFrame,
    keys: Sequence[str] | str,
    order_by: Sequence[str] | str,
    k: int,
) -> DataFrame:
    """The ``k`` smallest rows per key by ``order_by``, computed with a
    TWO-PHASE rank so no single task ever sorts a whole key's rows: phase 1
    ranks within (key, scan-partition) — each task sorts only its own
    partition's slice — and keeps ``k`` survivors per slice; phase 2 ranks
    the ≤ k×numPartitions survivors per key. A single global window
    partitioned by a low-cardinality key (e.g. top-k per event_type over
    10¹² events) would funnel everything through one task; this caps the
    final sort at k×numPartitions rows regardless of data size. Same
    topology as ``ops/checks.profile_table``'s KMV phase, generalized.

    Ties beyond position ``k`` are cut by ``row_number`` over the full
    ``order_by`` — include a unique column to make the cut deterministic.

    Rows with a NULL in any ``order_by`` column are dropped first: NULLs
    sort FIRST in Spark ascending order, so they would be selected as
    "smallest" — and as "largest" too via the negation trick (``-NULL``
    stays NULL), which is never the intended top-k (ADVICE r6; since
    round 15 the whole rank-op family shares this contract —
    :func:`drop_null_order`).
    """
    keys = _cols(keys)
    order = _cols(order_by)
    df = drop_null_order(df, order)
    w_local = Window.partitionBy(*keys, "_pid").orderBy(*order)
    local = (
        df.withColumn("_pid", F.spark_partition_id())
        .withColumn("_rn_l", F.row_number().over(w_local))
        .filter(F.col("_rn_l") <= k)
        .drop("_pid", "_rn_l")
    )
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        local.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def k_smallest_global(
    df: DataFrame,
    order_by: Sequence[str] | str,
    k: int,
) -> DataFrame:
    """Global (un-keyed) bounded top-k: :func:`k_smallest_per_key` with a
    constant grouping key, hidden so call sites don't hand-roll the
    ``lit(1)`` wrapper. Same two-phase topology — the global sort sees
    ≤ k×numPartitions survivors, never the corpus."""
    out = k_smallest_per_key(
        df.withColumn("_g", F.lit(1)), "_g", order_by, k
    )
    return out.drop("_g")


def k_largest_global(
    df: DataFrame,
    value_col: str,
    k: int,
    tiebreak: Sequence[str] | str,
) -> DataFrame:
    """The k rows with the LARGEST ``value_col`` (numeric), ties resolved
    by ``tiebreak`` ascending — the descending twin of
    :func:`k_smallest_global`, expressed by negating the value so the
    two-phase ascending rank applies unchanged. Negation (not a
    ``desc()`` order) because the two-phase helper takes plain column
    names; the temp column never escapes."""
    tb = _cols(tiebreak)
    out = k_smallest_global(
        df.withColumn("_neg", -F.col(value_col)), ["_neg", *tb], k
    )
    return out.drop("_neg")
