"""Recency / time-window operators (SURVEY.md §2.3 Q2-Q3, §2.4 O2).

The reference defines "active" rows as those ingested within 30 s of the global
max ingestion time — ``timestamp >= (SELECT MAX(timestamp) FROM t) - INTERVAL
30 SECOND`` (``/root/reference/Fx_1min.py:149-157``).

Scale notes: the global max is a full-column aggregate, but with partial
(map-side) aggregation it ships ONE value per partition; the subsequent filter
is then evaluated scan-side. On a time-partitioned table the max can prune to
the newest partitions only. The broadcast of the 1-row aggregate replaces the
scalar subquery; Catalyst plans the same thing for the SQL form.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def active_window(df: DataFrame, ts_col: str, horizon: Column) -> DataFrame:
    """Rows with ``ts_col`` within ``horizon`` of the global max ``ts_col``.

    ``horizon`` is an interval column, e.g. ``F.expr("INTERVAL 30 SECONDS")``
    (the reference's literal at ``Fx_1min.py:156``).
    """
    max_ts = df.agg(F.max(ts_col).alias("_max_ts"))
    return (
        df.join(F.broadcast(max_ts))
        .filter(F.col(ts_col) >= F.col("_max_ts") - horizon)
        .drop("_max_ts")
    )


def time_bucket(col: Column, unit: str) -> Column:
    """Truncate a timestamp to a bucket (``date_trunc``) — the hypertable
    rollup primitive; combine with ``groupBy`` for time-series rollups."""
    return F.date_trunc(unit, col)


def sessionize(
    df: DataFrame,
    keys: str | list[str],
    ts_col: str,
    gap: Column,
    tiebreak: Sequence[str] | None = None,
) -> DataFrame:
    """Gap-based session assignment (the batch analog of streaming session
    windows): a new session starts when the time since the previous event of
    the same key exceeds ``gap``.

    Adds ``session_id`` (0-based per key). Single shuffle+sort on the key;
    the two stacked windows share one exchange/sort (same partitioning).
    ``tiebreak``: extra order columns so EQUAL-``ts`` rows sort (and
    therefore sessionize) deterministically — without it, a duplicated
    first timestamp per key leaves which tied row opens the session to
    sort-order arbitrariness (boundary ties are safe either way: a
    zero gap never opens a session).
    """
    from pyspark.sql import Window

    keys = [keys] if isinstance(keys, str) else list(keys)
    # Rows with a NULL session time are unplaceable on the timeline and
    # are dropped by contract (the k_smallest_per_key discipline): the
    # engines otherwise disagree on where NULLs sort (Spark ASC=NULLS
    # FIRST, DuckDB ASC=NULLS LAST), which silently moves session breaks.
    df = df.filter(F.col(ts_col).isNotNull())
    w = Window.partitionBy(*keys).orderBy(ts_col, *(tiebreak or []))
    prev_ts = F.lag(ts_col).over(w)
    is_new = F.when(
        prev_ts.isNull() | (F.col(ts_col) > prev_ts + gap), F.lit(1)
    ).otherwise(F.lit(0))
    return df.withColumn("_new_sess", is_new).withColumn(
        "session_id",
        F.sum("_new_sess").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        - 1,
    ).drop("_new_sess")


def keyed_ewma(
    df,
    key_col: str,
    order_cols: list[str],
    value_col: str,
    alpha: float = 0.5,
):
    """Per-key exponentially-weighted moving average as a DECLARED
    sequential fold: collect the key's values in event order, seed with the
    first, fold ``ewma = α·x + (1−α)·ewma`` — the batch twin of
    ``streaming.stateful.stateful_pair_stats``'s state recurrence
    (parity-pinned by test), and the pattern for any order-dependent
    per-key recurrence Spark's frame-based windows can't express.

    Scale shape: one shuffle on the key; per-key state materializes as an
    in-row array, so this holds while a single key's history fits a row
    (~millions of events) — beyond that, the streaming operator IS the
    scale path (state store, incremental). Sequential fold order makes the
    result exactly reproducible by any engine folding the same order
    (DuckDB ``list_reduce``)."""
    # Rows with a NULL order coordinate (unplaceable in the sequence) or a
    # NULL value (a missing observation — the recurrence skips it, state
    # carried) are excluded by contract; NULL placement in array_sort vs
    # ORDER BY differs across engines.
    for c in [*order_cols, value_col]:
        df = df.filter(F.col(c).isNotNull())
    ordered = F.array_sort(
        F.collect_list(F.struct(*[F.col(c) for c in order_cols], F.col(value_col)))
    )
    vals = F.transform(ordered, lambda s: s[value_col].cast("double"))
    fold = F.aggregate(
        F.slice(vals, 2, F.greatest(F.size(vals) - 1, F.lit(0))),
        F.element_at(vals, 1),
        lambda acc, x: F.lit(alpha) * x + F.lit(1.0 - alpha) * acc,
    )
    return df.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("n_total"),
        fold.alias("_ewma"),
        F.element_at(vals, -1).alias("last_value"),
    ).select(
        key_col, "n_total", F.col("_ewma").alias("ewma"), "last_value"
    )


def keyed_ewma_chunked(
    df,
    key_col: str,
    order_cols: list[str],
    value_col: str,
    alpha: float = 0.5,
    chunk: int = 4096,
):
    """``keyed_ewma`` beyond the in-row-array ceiling: the EWMA recurrence
    is AFFINE in the accumulator — a segment of m values reduces to
    ``(A, B) = ((1−α)^m, Σ α·x_t·(1−α)^{m−t})`` with ``out = A·in + B`` —
    so segments combine associatively and no row ever holds a key's full
    history.

    Plan: rank events per key (one shuffle+sort, no array), bucket ranks
    into ``chunk``-sized segments, reduce each segment to its ``(A, B)``
    (in-row array bounded by ``chunk``), then fold the ordered segment
    summaries onto the seed (first value) — the summary array is bounded by
    ``n/chunk``, so a 10⁹-event key needs ~250k 16-byte summaries, not 10⁹
    values. Same output schema as ``keyed_ewma``; parity is pinned to ~1e-9
    relative (segment algebra regroups float ops, so the last ulps differ —
    which is why the ORACLE query keeps the sequential form)."""
    from pyspark.sql import Window

    # same order/value domain contract as keyed_ewma (parity requires it)
    for c in [*order_cols, value_col]:
        df = df.filter(F.col(c).isNotNull())
    w = Window.partitionBy(key_col).orderBy(*order_cols)
    ranked = (
        df.select(
            key_col, *order_cols, F.col(value_col).cast("double").alias("_x")
        )
        .withColumn("_rn", F.row_number().over(w))
        .select(key_col, "_x", "_rn")
    )

    # per-(key, segment) affine reduction over ranks >= 2 (rank 1 is the seed)
    seg_rows = ranked.filter(F.col("_rn") >= 2).withColumn(
        "_seg", ((F.col("_rn") - 2) / F.lit(chunk)).cast("long")
    )
    seg_vals = F.transform(
        F.array_sort(F.collect_list(F.struct("_rn", "_x"))), lambda s: s["_x"]
    )
    ab = F.aggregate(
        seg_vals,
        F.struct(F.lit(1.0).alias("a"), F.lit(0.0).alias("b")),
        lambda acc, x: F.struct(
            (acc["a"] * F.lit(1.0 - alpha)).alias("a"),
            (F.lit(1.0 - alpha) * acc["b"] + F.lit(alpha) * x).alias("b"),
        ),
    )
    segs = seg_rows.groupBy(key_col, "_seg").agg(ab.alias("_ab"))

    # per-key: seed, count, last value — plain aggregates, no arrays
    heads = df.select(
        key_col,
        F.struct(*[F.col(c) for c in order_cols]).alias("_ord"),
        F.col(value_col).cast("double").alias("_x"),
    ).groupBy(key_col).agg(
        F.count(F.lit(1)).alias("n_total"),
        F.min_by("_x", "_ord").alias("_seed"),
        F.max_by("_x", "_ord").alias("last_value"),
    )

    # ordered segment summaries (bounded by n/chunk per key) folded onto seed
    combined = segs.groupBy(key_col).agg(
        F.array_sort(F.collect_list(F.struct("_seg", "_ab"))).alias("_chain")
    )
    final = F.aggregate(
        F.col("_chain"),
        F.col("_seed"),
        lambda acc, c: c["_ab"]["a"] * acc + c["_ab"]["b"],
    )
    return (
        heads.join(combined, key_col, "left")
        .select(
            key_col,
            "n_total",
            F.when(F.col("_chain").isNull(), F.col("_seed"))
            .otherwise(final)
            .alias("ewma"),
            "last_value",
        )
    )


def funnel_stages(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    stage_col: str,
    stages: list[str],
) -> DataFrame:
    """Ordered funnel analysis: for each key, the earliest time it reached
    each stage GIVEN it reached the previous stage earlier (strictly
    increasing timestamps) — the classic product-analytics conversion
    funnel (view -> click -> purchase), computed without MATCH_RECOGNIZE.

    Plan: one conditional min_by-style aggregation per stage, chained by
    per-key joins. Every join/agg shuffles on the entity key only — the
    event table is scanned once per stage with the stage filter pushed to
    the scan, and key cardinality (users) is the parallelism unit. Output:
    one row per key that entered the funnel, with t_<stage> timestamps
    (NULL once the funnel is abandoned) — aggregate conversion counts are a
    groupBy away.

    ``cur`` is localCheckpointed per iteration: it feeds both the next
    stage's candidate join AND the left-join that carries it forward, so
    an unbroken lineage DOUBLES per stage — the first stage's scan would
    appear 2^(stages-1) times in the executed plan (measured: 7 scans
    for 3 stages, 63 for 6). Same O(1)-lineage discipline as the
    pagerank/BFS loops.
    """
    cur = (
        df.filter(F.col(stage_col) == stages[0])
        .groupBy(key_col)
        .agg(F.min(ts_col).alias(f"t_{stages[0]}"))
    )
    prev_t = f"t_{stages[0]}"
    for st in stages[1:]:
        cur = cur.localCheckpoint(eager=False)
        nxt = (
            df.filter(F.col(stage_col) == st)
            .select(key_col, F.col(ts_col).alias("_ts"))
            .join(cur.select(key_col, prev_t), key_col)
            .filter(F.col("_ts") > F.col(prev_t))
            .groupBy(key_col)
            .agg(F.min("_ts").alias(f"t_{st}"))
        )
        cur = cur.join(nxt, key_col, "left")
        prev_t = f"t_{st}"
    return cur


def keyed_cusum(
    df: DataFrame,
    keys: str | list[str],
    order: list[str],
    value_col: str,
    target: Column,
    slack: float,
    threshold: float,
    scale: int = 6,
) -> DataFrame:
    """One-sided (upper) CUSUM drift detector per key, as two stacked
    windows — no recurrence state, no per-key arrays.

    The textbook chart is the recurrence ``S_i = max(0, S_{i-1} + (x_i -
    target - slack))``, which looks inherently sequential. It has a closed
    form: with ``e_i = x_i - target - slack`` and ``c_i = Σ_{k<=i} e_k``,

        ``S_i = c_i - min(0, min_{j<=i} c_j)``

    (the running sum minus the lowest water-mark, floored at zero), so the
    whole chart is a running SUM plus a running MIN over the same
    (key-partitioned, time-ordered) window — one shuffle, one sort, both
    windows sharing the exchange. This is the same affine-recurrence
    unrolling discipline as ``keyed_ewma_chunked``, except CUSUM's max(0,·)
    admits an exact window form, so no chunking is ever needed: the
    operator scales to arbitrarily long per-key histories.

    Determinism: ``e_i`` is cast to an exact DECIMAL of ``scale`` decimals
    (a straight cast, not ``round()`` — engines disagree on double rounding
    in the last ulp) and cumulated exactly, so ``cusum`` is bit-identical
    in any engine. Output adds ``cusum`` (double) and ``alert`` (cusum >
    threshold).
    """
    from pyspark.sql import Window

    keys = [keys] if isinstance(keys, str) else list(keys)
    # Unplaceable (NULL-order) rows and missing observations (NULL value)
    # are outside the chart's domain — the keyed_ewma contract.
    for c in [*order, value_col]:
        df = df.filter(F.col(c).isNotNull())
    w = (
        Window.partitionBy(*keys)
        .orderBy(*[F.col(c) for c in order])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    e = (F.col(value_col) - target - F.lit(slack)).cast(
        f"decimal(38,{scale})"
    )
    out = df.withColumn("_cum", F.sum(e).over(w))
    low = F.least(F.lit(0).cast(f"decimal(38,{scale})"), F.min("_cum").over(w))
    # subtract in DOUBLE on the two exactly-converted operands: a
    # DECIMAL(38)-DECIMAL(38) difference needs 39 digits, which some
    # engines (DuckDB) silently demote to float arithmetic — converting
    # each side first is the form every engine computes identically
    return (
        out.withColumn(
            "cusum", F.col("_cum").cast("double") - low.cast("double")
        )
        .withColumn("alert", F.col("cusum") > F.lit(threshold))
        .drop("_cum")
    )


def grid_interpolate(
    df: DataFrame,
    keys: str | list[str],
    ts_col: str,
    value_col: str,
    step_seconds: int,
) -> DataFrame:
    """Resample each key's irregular series onto a fixed epoch-aligned grid
    with linear interpolation between the surrounding observations — the
    gap-filling half of a time-series engine (LOCF's exact-interpolation
    sibling; see ``user_value_locf`` for the carry-forward form).

    Plan shape: per key, the grid timestamps (epoch-aligned multiples of
    ``step_seconds`` inside the key's [min, max] span) are generated
    map-side with ``sequence``+``explode`` — no spine join, no driver loop
    — then unioned with the observations and swept by ONE key-partitioned
    time-ordered window: ``last(..., ignorenulls)`` over the preceding
    frame supplies the left neighbour, ``first(..., ignorenulls)`` over the
    following frame the right neighbour, and the interpolation weight is a
    ratio of exact integer epoch-MICROseconds (``unix_micros`` — second
    truncation would collapse sub-second observations onto the same anchor
    and make neighbour choice engine-dependent), so the result is
    IEEE-deterministic and hashes identically cross-engine. Observations
    sort before the grid point at an equal timestamp, which makes an
    exactly-hit grid point return the observed value (weight 0), not an
    interpolation; an exact hit on the last observation needs (and uses) no
    right neighbour.

    One shuffle on the key; grid density is bounded by span/step per key,
    so output size is declared, not data-dependent. Returns
    ``(keys..., grid_ts, value)`` with ``value`` UNROUNDED.

    NULL contract (the order-domain discipline, round-15 class 12): a row
    with NULL ``ts_col`` is unplaceable on the timeline and a row with
    NULL ``value_col`` is not an observation — both are dropped up front.
    Without the value drop, the ignore-nulls sweep desyncs the anchor
    PAIR: the NULL-value row's timestamp becomes ``p_us`` while ``p_v``
    carries an OLDER observation's value (round-16 independent-null
    sweep).
    """
    from pyspark.sql import Window

    keys = [keys] if isinstance(keys, str) else list(keys)
    df = df.filter(
        F.col(ts_col).isNotNull() & F.col(value_col).isNotNull()
    )
    step_us = int(step_seconds) * 1_000_000
    us = F.unix_micros(F.col(ts_col))

    span = df.groupBy(*keys).agg(
        F.min(us).alias("_lo"), F.max(us).alias("_hi")
    )
    # integer ceil/floor to the grid (epochs are positive; DIV truncates).
    # A key whose span contains NO grid multiple (ceil(lo) > floor(hi) —
    # guaranteed for single-observation keys on degenerate inputs) gets an
    # EMPTY grid: Spark's sequence() throws on start > stop with a positive
    # step where generate_series is simply empty (round-14 sf_unit sweep),
    # so the sequence is guarded by an empty-array branch.
    g0 = f"((_lo + {step_us - 1}) DIV {step_us}) * {step_us}"
    g1 = f"(_hi DIV {step_us}) * {step_us}"
    grid = span.select(
        *keys,
        F.explode(
            F.expr(
                f"IF({g0} <= {g1}, sequence({g0}, {g1}, {step_us}), "
                f"CAST(array() AS ARRAY<BIGINT>))"
            )
        ).alias("_us"),
    ).select(
        *keys,
        F.col("_us"),
        F.lit(1).alias("_is_grid"),
        F.lit(None).cast("double").alias("_v"),
    )
    obs = df.select(
        *keys,
        us.alias("_us"),
        F.lit(0).alias("_is_grid"),
        F.col(value_col).cast("double").alias("_v"),
    )
    both = obs.unionByName(grid)

    # _v as the final key makes duplicate-microsecond observations (a
    # theoretical tie) resolve identically in any engine
    w = Window.partitionBy(*keys).orderBy("_us", "_is_grid", "_v")
    prev = F.last(
        F.when(F.col("_is_grid") == 0, F.struct("_us", "_v")), ignorenulls=True
    ).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    nxt = F.first(
        F.when(F.col("_is_grid") == 0, F.struct("_us", "_v")), ignorenulls=True
    ).over(w.rowsBetween(Window.currentRow, Window.unboundedFollowing))

    p, x = F.col("_prev"), F.col("_next")
    frac = (F.col("_us") - p["_us"]).cast("double") / (
        x["_us"] - p["_us"]
    ).cast("double")
    val = F.when(p["_us"] == F.col("_us"), p["_v"]).otherwise(
        p["_v"] + (x["_v"] - p["_v"]) * frac
    )
    return (
        both.withColumn("_prev", prev)
        .withColumn("_next", nxt)
        .filter(F.col("_is_grid") == 1)
        # an exact hit on the last observation has no right neighbour but
        # needs none (weight 0); interior points need both
        .filter(
            F.col("_prev").isNotNull()
            & (
                (F.col("_prev")["_us"] == F.col("_us"))
                | F.col("_next").isNotNull()
            )
        )
        .select(
            *keys,
            F.timestamp_micros(F.col("_us")).alias("grid_ts"),
            val.alias("value"),
        )
    )


def attribute_conversions(
    events: DataFrame,
    keys: str | list[str],
    ts_col: str,
    type_col: str,
    conversion_type: str,
    touch_types: list[str],
    lookback: Column,
    value_col: str | None = None,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Marketing-style LAST-TOUCH attribution: each conversion event is
    credited to the same key's most recent preceding touch event (of any
    type in ``touch_types``) within ``lookback`` — the product-analytics
    complement of ``funnel_stages`` (which asks "did the journey happen";
    this asks "which touch gets the credit").

    Pure composition over the engine's as-of join (``ops/asof.asof_join``):
    one (key, time)-sorted shuffle, linear in events, no per-key loop —
    attributing a 100 TB event log costs one as-of pass. Output: one row
    per conversion with ``touch_ts``/``touch_type`` (NULL = organic, i.e.
    no touch inside the window) and the conversion's value if
    ``value_col`` is given. First/linear-touch variants are the same plan
    with direction/window changes; last-touch is the canonical form.
    """
    from fxspark.ops.asof import asof_join

    keys = [keys] if isinstance(keys, str) else list(keys)
    conv_cols = [*keys, ts_col] + ([value_col] if value_col else [])
    conversions = events.filter(F.col(type_col) == conversion_type).select(
        *conv_cols
    )
    # the touch timestamp rides as an explicit payload column, so the
    # as-of join returns it alongside the touch type
    touch_extra = [tiebreak_col] if tiebreak_col else []
    touches = events.filter(F.col(type_col).isin(touch_types)).select(
        *keys,
        F.col(ts_col),
        F.col(type_col).alias("_tt"),
        F.col(ts_col).alias("_touch_ts"),
        *touch_extra,
    )
    out = asof_join(
        conversions,
        touches,
        keys=keys,
        on=ts_col,
        right_payload=["_tt", "_touch_ts"],
        tolerance=lookback,
        direction="backward",
        # equal-timestamp touches resolve to the tiebreak-largest (e.g.
        # the higher event_id) instead of sort-order arbitrariness
        right_tiebreak=touch_extra or None,
    )
    sel = [
        *keys,
        F.col(ts_col).alias("conversion_ts"),
        F.col("_tt").alias("touch_type"),
        F.col("_touch_ts").alias("touch_ts"),
    ]
    if value_col:
        sel.append(F.col(value_col).alias("conversion_value"))
    return out.select(*sel)


def _conversion_touch_pairs(
    events: DataFrame,
    keys: list[str],
    id_col: str,
    ts_col: str,
    type_col: str,
    conversion_type: str,
    touch_types: list[str],
    lookback_s: int,
    value_col: str | None,
) -> tuple[DataFrame, DataFrame]:
    """The conversion frame and its candidate pairs: each touch of the
    same key at most ``lookback_s`` before (or at) the conversion, from the
    binned interval range join. Linear and first-touch attribution share
    these and differ only in how they credit."""
    from fxspark.ops.asof import range_join

    conversions = events.filter(F.col(type_col) == conversion_type).select(
        [F.col(c) for c in keys]
        + [
            F.col(id_col).alias("conversion_id"),
            F.col(ts_col).alias("conversion_ts"),
        ]
        + ([F.col(value_col).alias("conversion_value")] if value_col else [])
    )
    touches = events.filter(F.col(type_col).isin(touch_types)).select(
        *keys,
        F.col(id_col).alias("touch_id"),
        F.col(ts_col).alias("touch_ts"),
        F.col(type_col).alias("touch_type"),
    )
    pairs = range_join(
        conversions,
        touches,
        "conversion_ts",
        "touch_ts",
        tolerance_s=lookback_s,
        keys=keys,
    ).filter(F.col("touch_ts") <= F.col("conversion_ts"))
    return conversions, pairs


def attribute_linear(
    events: DataFrame,
    keys: str | list[str],
    id_col: str,
    ts_col: str,
    type_col: str,
    conversion_type: str,
    touch_types: list[str],
    lookback_s: int,
    value_col: str | None = None,
) -> DataFrame:
    """LINEAR (multi-touch) attribution: every touch in the lookback window
    before a conversion shares the credit equally — the all-touch
    complement of ``attribute_conversions``' last-touch rule. Output: one
    row per (conversion, touch) with ``credit`` = 1/n_touches (and the
    conversion value split by it when ``value_col`` is given); organic
    conversions (no touch in window) emit no rows, by convention.

    Plan: the engine's binned interval range join (``ops/asof.range_join``
    — linear shuffle on (key, time-bin), never a cross product) generates
    candidate pairs, a one-sided filter keeps preceding touches, and the
    credit split is a count window over each conversion's touch group
    (bounded by touches-per-window, the natural group size). Same cost
    class as the range-join query family.
    """
    from pyspark.sql import Window

    keys = [keys] if isinstance(keys, str) else list(keys)
    _, pairs = _conversion_touch_pairs(
        events, keys, id_col, ts_col, type_col, conversion_type,
        touch_types, lookback_s, value_col,
    )
    w = Window.partitionBy(*keys, "conversion_id")
    out = pairs.withColumn(
        "credit", F.lit(1.0) / F.count(F.lit(1)).over(w)
    )
    if value_col:
        out = out.withColumn(
            "attributed_value", F.col("conversion_value") * F.col("credit")
        )
    return out


def attribute_first_touch(
    events: DataFrame,
    keys: str | list[str],
    id_col: str,
    ts_col: str,
    type_col: str,
    conversion_type: str,
    touch_types: list[str],
    lookback_s: int,
    value_col: str | None = None,
) -> DataFrame:
    """FIRST-TOUCH attribution: each conversion credited to the EARLIEST
    touch inside its lookback window — the introduction-gets-the-credit
    complement of ``attribute_conversions``' last-touch rule. A two-sided
    window (touch in ``[conv − lookback, conv]``) cannot be one as-of
    sweep, so candidates come from the binned interval range join
    (``ops/asof.range_join`` — linear shuffle, never a cross product) and
    the earliest touch is a ``min_by`` hash aggregate over each
    conversion's candidate group (partial-combined — no window sort).
    Conversions with no touch in window keep a NULL touch (organic), via
    the left join back to the conversion set; equal-timestamp touches
    resolve by the smaller ``id_col``, deterministically.
    """
    keys = [keys] if isinstance(keys, str) else list(keys)
    conversions, pairs = _conversion_touch_pairs(
        events, keys, id_col, ts_col, type_col, conversion_type,
        touch_types, lookback_s, value_col,
    )
    first = pairs.groupBy(*keys, "conversion_id").agg(
        F.min_by(
            F.struct("touch_ts", "touch_type", "touch_id"),
            F.struct("touch_ts", "touch_id"),
        ).alias("_t")
    )
    out = conversions.join(first, [*keys, "conversion_id"], "left")
    sel = [
        *keys,
        "conversion_id",
        "conversion_ts",
        F.col("_t.touch_ts").alias("touch_ts"),
        F.col("_t.touch_type").alias("touch_type"),
    ]
    if value_col:
        sel.append(F.col("conversion_value"))
    return out.select(*sel)


def activity_streaks(
    df: DataFrame,
    keys: Sequence[str] | str,
    ts_col: str,
) -> DataFrame:
    """Gaps-and-islands per key at day grain: collapse each key's activity
    to distinct active days, then group CONSECUTIVE days into streaks with
    the classic ``day − dense_rank`` constant-per-island trick. The
    reference's recency checks (``/root/reference/Fx_1min.py:174-178``:
    "is the latest event younger than 30 s") generalize here to "how long
    has this key been continuously active".

    Plan shape: one hash-agg to distinct (key, day) — map-side combined, so
    the window that follows sorts ACTIVE DAYS per key (≤ days in range,
    thousands at most), never raw events; at 100 TB the event→day collapse
    is the whole cost and it is shuffle-minimal. Returns one row per key:
    ``n_active_days``, ``n_streaks``, ``longest_streak`` (days),
    ``longest_streak_start`` (the FIRST such start if several streaks tie,
    stated for oracle replay).

    NULL keys are dropped by contract: a streak summary describes ONE
    entity's continuity, and a NULL key identifies no entity — grouping
    all unattributed rows into a shared pseudo-entity would fabricate
    streaks no user had (round-16 ``sf_nullkeys`` sweep).
    """
    keys = [keys] if isinstance(keys, str) else list(keys)
    for k in keys:
        df = df.filter(F.col(k).isNotNull())
    days = df.select(
        *keys, F.to_date(ts_col).alias("_day")
    ).distinct()
    w = Window.partitionBy(*keys).orderBy("_day")
    islands = days.withColumn(
        "_grp", F.date_sub(F.col("_day"), F.row_number().over(w))
    )
    streaks = islands.groupBy(*keys, "_grp").agg(
        F.count(F.lit(1)).alias("_len"), F.min("_day").alias("_start")
    )
    return streaks.groupBy(*keys).agg(
        F.sum("_len").alias("n_active_days"),
        F.count(F.lit(1)).alias("n_streaks"),
        F.max("_len").alias("longest_streak"),
        F.min_by(F.col("_start"), F.struct(F.negate(F.col("_len")), F.col("_start")))
        .alias("longest_streak_start"),
    )
