"""Custom stateful streaming operators via ``applyInPandasWithState``.

The reference keeps all cross-run state in MySQL (the table IS the state —
SURVEY.md §1.2, §3). For per-key derived state that should NOT round-trip
through the store every micro-batch (running EWMA, counters), Structured
Streaming's arbitrary-state API is the Spark-first shape: state lives in the
state store (checkpointed, partitioned by key), updates arrive as Arrow
batches, and executor loss replays only the failed micro-batch.

Every operator here is one pure ``fold(state, batch) -> (new_state, rows)``
plus its state DDL, run by the one shell ``_keyed_fold``; the shell owns the
``applyInPandasWithState`` call, chunk handling, state restore/update and
the output frame, so those rules change in exactly one place.

Scale notes: state is per-key-small (a few scalars or one k-bounded array)
and partitioned on the grouping key, so each operator scales with distinct
keys, not event volume; the per-batch work is one shuffle on the key plus an
Arrow-batched pandas step. Keys that go quiet can be expired via a
processing-time timeout — kept NoTimeout here because the FX pair universe
is tiny and closed (110 pairs, the reference's ``currency_pairs.csv``).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupStateTimeout


def _keyed_fold(
    events: DataFrame,
    key_col: str,
    out: Sequence[tuple[str, str]],
    state_schema: str,
    init: tuple[Any, ...],
    fold: Callable[[tuple[Any, ...], Any], tuple[tuple[Any, ...], list]],
    sort_cols: str | list[str] | None = None,
) -> DataFrame:
    """Group ``events`` by ``key_col`` and run ``fold`` over each key's
    micro-batch, with the key's state carried in the state store (output
    mode ``update``, no timeout).

    ``fold(state, batch)`` gets the restored state tuple (``init`` for a
    new key) and the key's whole micro-batch as ONE pandas frame sorted by
    ``sort_cols`` (``None`` when no rows arrived). It returns the new state
    and the output rows as tuples of the ``out`` columns; the shell
    prepends the key. A key's batch may arrive as several Arrow chunks:
    they are concatenated and sorted once, because a per-chunk sort would
    interleave them and corrupt order-sensitive recurrences.

    Spark matches the pandas frame to the output schema BY NAME, so the
    schema is built from the caller's column names — ``out`` lists
    ``(name, ddl_type)`` after the key, whose type is read from the input
    schema. Names are backtick-quoted so one that needs quoting (reserved
    word, dots, spaces) still parses.
    """
    key_type = events.schema[key_col].dataType.simpleString()
    cols = [key_col, *(c for c, _ in out)]
    out_schema = ", ".join(
        f"`{c}` {t}" for c, t in [(key_col, key_type), *out]
    )

    def update(key, pdfs, state):
        import pandas as pd

        chunks = list(pdfs)
        batch = None
        if chunks:
            batch = pd.concat(chunks) if len(chunks) > 1 else chunks[0]
            if sort_cols:
                batch = batch.sort_values(sort_cols)
        new_state, rows = fold(state.get if state.exists else init, batch)
        state.update(new_state)
        yield pd.DataFrame([(key[0], *r) for r in rows], columns=cols)

    return events.groupBy(key_col).applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def stateful_pair_stats(
    events: DataFrame,
    key_col: str = "ccy_couple",
    order_col: str = "event_time",
    rate_col: str = "rate",
    alpha: float = 0.5,
) -> DataFrame:
    """Per-key running stats maintained ACROSS micro-batches: total event
    count, EWMA of the rate (``ewma = α·rate + (1-α)·ewma``), and the last
    rate in event-time order. Emits one updated row per key per batch
    (output mode ``update``).
    """

    def fold(state, batch):
        n, ewma, last = state
        if batch is not None:
            for rate in batch[rate_col].astype(float):
                ewma = rate if ewma is None else alpha * rate + (1 - alpha) * ewma
                last = rate
                n += 1
        return (n, ewma, last), [(n, ewma, last)]

    return _keyed_fold(
        events, key_col,
        [("n_total", "long"), ("ewma", "double"), ("last_rate", "double")],
        "n_total long, ewma double, last_rate double",
        (0, None, None), fold, order_col,
    )


def stateful_cusum(
    events: DataFrame,
    key_col: str = "user_id",
    order_col: str = "ts",
    value_col: str = "value",
    target: float = 0.0,
    slack: float = 0.0,
    threshold: float = 0.0,
) -> DataFrame:
    """Streaming one-sided CUSUM per key — the O(1)-state twin of
    ``ops.windows.keyed_cusum``'s batch closed form. The batch operator
    materializes ``S_i = cum_i − min(0, min_{j≤i} cum_j)`` with two stacked
    windows; the stream needs only the two scalars that formula reads —
    the running sum and its low-water-mark — so state per key is constant
    regardless of how long the key lives (plus counters), checkpointed in
    the state store and updated from Arrow batches.

    Emits one row per key per micro-batch: event count, current chart
    value, and how many processed events were in alarm. Parity with the
    batch operator on identical event order is pinned by test.
    """

    def fold(state, batch):
        n, cum, low, n_alerts = state
        if batch is not None:
            for v in batch[value_col].astype(float):
                cum += v - target - slack
                low = min(low, cum)
                n += 1
                if cum - min(0.0, low) > threshold:
                    n_alerts += 1
        return (n, cum, low, n_alerts), [(n, cum - min(0.0, low), n_alerts)]

    return _keyed_fold(
        events, key_col,
        [("n_total", "long"), ("cusum", "double"), ("n_alerts", "long")],
        "n_total long, cum double, low double, n_alerts long",
        (0, 0.0, 0.0, 0), fold, order_col,
    )


def stateful_kmv_distinct(
    events: DataFrame,
    group_col: str = "event_type",
    id_col: str = "event_id",
    k: int = 256,
) -> DataFrame:
    """Streaming KMV distinct-count per group — the bounded-state stream
    twin of ``events_kmv_distinct``: keep the k smallest md5-derived hash
    fractions of the ids seen so far (state = one sorted float array of at
    most k entries per group, constant forever), estimate distinct =
    (k−1)/kth_min once the sketch is full, exact count below k.

    Same declared hash as the batch query (first 60 md5 bits / 2^60), so a
    stream restarted from any checkpoint — or the batch operator over the
    same prefix — lands on the IDENTICAL estimate, not just a statistically
    similar one: declared randomness is what makes approximate streaming
    state restart-verifiable. Per micro-batch work: hash the batch, merge
    two sorted k-arrays.
    """

    def fold(state, batch):
        import hashlib

        n, mins = state
        mins = list(mins)
        if batch is not None:
            n += len(batch)
            hs = [
                int(hashlib.md5(str(v).encode()).hexdigest()[:15], 16)
                / float(2**60)
                for v in batch[id_col]
            ]
            mins = sorted(set(mins) | set(hs))[:k]
        est = len(mins) if len(mins) < k else int(round((k - 1) / mins[k - 1]))
        return (n, mins), [(n, est)]

    return _keyed_fold(
        events, group_col, [("n_seen", "long"), ("est_distinct", "long")],
        "n_seen long, mins array<double>", (0, []), fold,
    )


def stateful_histogram(
    events: DataFrame,
    lo: float,
    width: float,
    n_bins: int = 64,
    group_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Streaming fixed-bin histogram per group — the bounded-state stream
    twin of ``events_histogram_quantiles``'s bin counters: state is one
    array of ``n_bins`` longs per group (constant forever), each batch adds
    its values' bin counts (``bin = max(0, min(n_bins-1,
    floor((v - lo)/width)))`` — clamped on BOTH sides, the PSI query's
    edge-bin convention; the batch replay oracle clamps only the top, but
    parity still holds because the batch side sets ``lo`` to the data min,
    making the negative bin unreachable there). Bin edges are DECLARED
    up-front (from historical data or a spec) — the one thing a stream
    cannot learn retroactively; parity with the batch bin counts over the
    same prefix holds whenever ``lo``/``width`` equal the batch min/width.

    Emits the group's full bin vector each micro-batch (one row per
    non-empty bin), so any quantile the batch side derives from cumulative
    counts is derivable from the last emission.
    """

    def fold(state, batch):
        import math

        counts = list(state[0])
        if batch is not None:
            for v in batch[value_col].astype(float):
                # Clamp BOTH sides (the PSI query's edge-bin convention):
                # edges are declared up-front, so values below `lo` are
                # expected — an unclamped negative index would silently
                # increment the top bins via Python list indexing.
                b = max(0, min(n_bins - 1, int(math.floor((v - lo) / width))))
                counts[b] += 1
        return (counts,), [(b, c) for b, c in enumerate(counts) if c > 0]

    return _keyed_fold(
        events, group_col, [("bin", "int"), ("cnt", "long")],
        "counts array<long>", ([0] * n_bins,), fold,
    )


def stateful_debounce(
    events: DataFrame,
    gap_seconds: int,
    key_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Streaming burst debounce — the stateful twin of the batch
    ``events_debounced`` rule (``ops/windows.sessionize`` + keep-first):
    an event is EMITTED iff it starts a new burst (no prior state, or its
    timestamp exceeds the previous EVENT's timestamp by more than
    ``gap_seconds``); every event — kept or dropped — advances the
    per-key last-seen clock, because any event extends the burst.

    State is ONE long per key (last event time in epoch micros), so the
    operator scales with distinct keys. Kept-set parity with the batch
    form holds whenever micro-batches respect per-key event-time order
    (the replay premise shared by every *_replay twin); within a batch
    rows are sorted by (ts, id) first — the batch rule's tiebreak.

    Unlike the batch form this cannot emit ``n_collapsed``: a burst's
    size is unknowable at keep-time on a stream (the count closes with
    the burst). The batch query remains the source of burst sizes; the
    stream emits the kept events themselves.
    """
    gap_us = gap_seconds * 1_000_000

    def fold(state, batch):
        import pandas as pd

        (last_us,) = state
        kept = []
        rows = () if batch is None else zip(batch[ts_col], batch[id_col])
        for ts, eid in rows:
            us = int(pd.Timestamp(ts).value // 1000)
            if last_us is None or us > last_us + gap_us:
                kept.append((int(eid), ts))
            # Advance monotonically: a late-arriving EARLIER timestamp
            # (out-of-order beyond the replay premise) must not regress
            # the clock and re-open a closed burst.
            last_us = us if last_us is None else max(last_us, us)
        return (last_us,), kept

    return _keyed_fold(
        events, key_col, [(id_col, "long"), (ts_col, "timestamp")],
        "last_us long", (None,), fold, [ts_col, id_col],
    )


def stateful_topk(
    events: DataFrame,
    k: int = 5,
    group_col: str = "event_type",
    id_col: str = "event_id",
    value_col: str = "value",
) -> DataFrame:
    """Streaming per-group top-k leaderboard — the INSERT-ONLY stream
    twin of ``ops/ivm.topk_retraction``'s maintained view (a plain
    stream cannot retract; deletes arrive only via a CDC change log,
    which is the batch operator's tick model). State per group is two
    k-bounded arrays (ids + values) — O(k) forever; each micro-batch
    merges its rows into the buffer by ``(value DESC, id ASC)`` and
    emits the current top-k with ranks. Without retraction the top-k
    fold IS monotone, so no soundness bound is needed: final emission
    over any prefix equals the batch rank closed form — pinned across
    real micro-batches by tests/test_stateful.py."""

    # The id/value columns are declared long/double: the fold casts to
    # int()/float() (the state arrays are long/double by declaration).
    def fold(state, batch):
        ids, vals = state
        pairs = [(float(v), int(i)) for v, i in zip(vals, ids)]
        if batch is not None:
            pairs += [
                (float(v), int(i))
                for v, i in zip(batch[value_col], batch[id_col])
            ]
        pairs.sort(key=lambda p: (-p[0], p[1]))
        pairs = pairs[:k]
        return (
            ([i for _, i in pairs], [v for v, _ in pairs]),
            [(r + 1, i, v) for r, (v, i) in enumerate(pairs)],
        )

    return _keyed_fold(
        events, group_col,
        [("rk", "int"), (id_col, "long"), (value_col, "double")],
        "ids array<long>, vals array<double>", ([], []), fold,
    )
