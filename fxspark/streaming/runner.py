"""Streaming runner — the reference's scheduled micro-batches as a real
Structured Streaming query (SURVEY.md §2.4 O2, §3 entry point 3).

The reference emulates streaming with Task Scheduler at 1-minute cadence and
"the DB is the state" (``/root/reference/run_update_1min.bat``, PDF p.4-5).
Spark-first:

- the rates feed is a file stream (``readStream``) of JSON payload drops;
- each micro-batch runs the SAME batch upsert via ``foreachBatch`` —
  checkpointing replaces the implicit DB state;
- the "active within 30 s of max ingestion time" analytics (Q2-Q3) becomes a
  real event-time window + watermark when run continuously.

Scale notes: ``foreachBatch`` + keyed merge is the standard lakehouse
streaming-upsert topology; state never lives in executors (no
mapGroupsWithState needed for last-writer-wins — the store itself is the
state), so executor loss costs only a micro-batch retry.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from fxspark.ingest import normalize_parsed, parse_payloads
from fxspark.sink import read_table, upsert, write_table

KEYS = ("ccy_couple", "date")
ORDER = ("timestamp",)


def stream_rates(spark: SparkSession, payload_dir: str) -> DataFrame:
    """File-stream of raw payload drops: one JSON document per line, columns
    (base_currency, target_currency, payload) — the streaming twin of
    ``sources.json_dir_rates``."""
    schema = "base_currency string, target_currency string, payload string"
    return spark.readStream.schema(schema).json(payload_dir)


def run_upsert_stream(
    spark: SparkSession,
    payload_dir: str,
    store_path: str,
    checkpoint_dir: str,
    trigger_seconds: int = 60,
    available_now: bool = False,
) -> StreamingQuery:
    """The minutely job (``Fx_1min.py`` + Task Scheduler) as one streaming
    query: each micro-batch normalizes + upserts into the store.

    ``available_now=True`` processes the backlog and stops — the scheduled
    one-shot tick (``Trigger.AvailableNow``), used by tests.
    """

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        # upsert reads the batch twice (key broadcast + merge): parse once
        parsed = parse_payloads(batch_df).persist()
        try:
            rates, _bad = normalize_parsed(parsed)
            existing = read_table(spark, store_path)
            write_table(upsert(existing, rates, KEYS, ORDER), store_path)
        finally:
            parsed.unpersist()

    writer = stream_rates(spark, payload_dir).writeStream.foreachBatch(merge_batch)
    writer = writer.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def run_rollup_stream(
    spark: SparkSession,
    input_dir: str,
    rollup_path: str,
    checkpoint_dir: str,
    schema: str,
    keys: Sequence[str],
    value_col: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Maintained-rollup ingestion: each micro-batch partial-aggregates to
    keys-sized state and MERGES into the stored rollup (``ops.rollup``
    algebra) — the incremental-aggregation topology that replaces the
    reference's every-tick full-table analysis re-scan at 100 TB. Only the
    batch shuffles; the stored state is one row per key. Restart-safe: the
    checkpoint replays unprocessed files and the merge algebra is
    insensitive to batch regrouping (associativity is property-tested),
    so recovery cannot change the converged state."""
    from fxspark.ops.rollup import merge_rollup, rollup_table

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        partial = rollup_table(batch_df, keys, value_col)
        existing = read_table(spark, rollup_path)
        write_table(merge_rollup(existing, partial, keys), rollup_path)

    stream = spark.readStream.schema(schema).json(input_dir)
    writer = stream.writeStream.foreachBatch(merge_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def dedup_stream(
    events: DataFrame,
    keys: Sequence[str] = ("ccy_couple", "date"),
    ts_col: str = "timestamp",
    watermark: str = "30 seconds",
) -> DataFrame:
    """Streaming exact dedup on the natural key with bounded state:
    ``dropDuplicatesWithinWatermark`` keeps a key's state only until the
    watermark passes it, so state size tracks the key arrival rate × the
    lateness bound instead of growing forever — the streaming twin of the
    batch ``exact_dedup``/upsert family (first arrival wins, like the
    reference's v1 duplicate-swallow, ``update_exchange_rates.py:101-102``).
    """
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def windowed_rate_stats(
    events: DataFrame,
    ts_col: str = "timestamp",
    key_col: str = "ccy_couple",
    window_len: str = "1 minute",
    watermark: str = "30 seconds",
) -> DataFrame:
    """Event-time windowed aggregate with late-data watermark — the streaming
    generalization of the reference's 30-second "active" recency filter
    (``Fx_1min.py:156``): per (window, key), the latest-rate-by-event-time
    and observation count."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window_len).alias("w"), F.col(key_col))
        .agg(
            F.max_by("rate", "event_time").alias("latest_rate"),
            F.count(F.lit(1)).alias("n_obs"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            key_col,
            "latest_rate",
            "n_obs",
        )
    )


def session_window_stats(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    value_col: str = "value",
) -> DataFrame:
    """Event-time SESSION windows: consecutive events of a key closer than
    ``gap`` merge into one session (``F.session_window``) — the streaming
    twin of the batch gap-sessionization (``ops.windows.sessionize``; same
    boundaries except events exactly ``gap`` apart: session_window's
    half-open [start, last+gap) splits them, sessionize's closed edge
    merges). With a watermark the state store
    closes a session once the watermark passes its end + gap, so state is
    bounded by the number of OPEN sessions, not history. Works unchanged on
    batch frames (watermark is a no-op there), which is how the agreement
    test pins it to ``sessionize``."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("s"), F.col(key_col))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col(value_col).cast("decimal(38,4)")).cast("double").alias("total_value"),
        )
        .select(
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            key_col,
            "n_events",
            "total_value",
        )
    )


def stream_stream_interval_join(
    purchases: DataFrame,
    clicks: DataFrame,
    key_col: str = "user_id",
    left_ts: str = "p_ts",
    right_ts: str = "c_ts",
    lookback: str = "1 hour",
    watermark: str = "1 hour",
) -> DataFrame:
    """Watermarked stream-stream INNER join: each purchase matches the same
    key's clicks in the preceding ``lookback`` interval — the streaming twin
    of the batch interval range join (``ops.asof.range_join_binned``). The
    time-bound condition plus both-side watermarks let Spark expire join
    state (a side keeps rows only until the other side's watermark clears
    the interval), so state is bounded by rate × (lookback + lateness) —
    the canonical scalable stream-join topology."""
    p = purchases.withWatermark(left_ts, watermark)
    c = clicks.withWatermark(right_ts, watermark)
    cond = (
        (p[key_col] == c[key_col])
        & (c[right_ts] >= p[left_ts] - F.expr(f"INTERVAL {lookback}"))
        & (c[right_ts] <= p[left_ts])
    )
    return p.join(c, cond, "inner").select(
        p[key_col].alias(key_col), p[left_ts], c[right_ts]
    )
