"""Ingest normalization (SURVEY.md §2.2 P1-P8, §2.4 O4).

Turns raw per-pair JSON payloads into canonical ``exchange_rates`` rows —
the dict-comprehension at ``/root/reference/Fx_1min.py:69-76`` re-expressed
as declarative column operations:

- P1 tolerant JSON path: ``from_json`` + null-safe map access
- P2 map→rows: ``explode`` of the daily time series
- P3-P7 projections/casts: pair label, decimal rate, date parse, epoch-ms
- O4 quarantine: unparseable / missing-series payloads are split out, not
  dropped silently and never task-fatal

Everything is a JVM-side expression — at 100 TB this is a pure map stage.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fxspark.schema import RAW_RATES_JSON

TIME_SERIES_KEY = "Time Series FX (Daily)"  # Fx_1min.py:69
CLOSE_KEY = "4. close"  # Fx_1min.py:72


def parse_payloads(raw: DataFrame) -> DataFrame:
    """P1: ``raw`` plus each payload's parsed document as ``_doc``. Both
    outputs of :func:`normalize_parsed` read it, so a caller that persists
    this frame parses every payload once for rates and quarantine alike."""
    return raw.withColumn("_doc", F.from_json(F.col("payload"), RAW_RATES_JSON))


def normalize(
    raw: DataFrame,
    pair_format: str = "slash",
    ingestion_time: Column | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Normalize raw payloads → (rates, quarantine):
    :func:`normalize_parsed` over :func:`parse_payloads`."""
    return normalize_parsed(parse_payloads(raw), pair_format, ingestion_time)


def normalize_parsed(
    parsed: DataFrame,
    pair_format: str = "slash",
    ingestion_time: Column | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Normalize parsed payloads (:func:`parse_payloads`) → (rates, quarantine).

    ``pair_format``: ``"slash"`` → ``EUR/USD`` (v2, ``Fx_1min.py:71``),
    ``"concat"`` → ``EURUSD`` (v1, ``update_exchange_rates.py:72``).
    ``ingestion_time`` defaults to ``current_timestamp()`` (the DB-assigned
    ``timestamp`` column, ``Fx_1min.py:36``); inject a literal for
    deterministic tests.

    Returns the canonical frame (EXCHANGE_RATES schema + provenance) and a
    quarantine frame of rows whose payload was missing/unparseable or lacked
    the time-series key (the reference's tolerant ``.get(..., {})`` at
    ``Fx_1min.py:69`` made these silently vanish; we keep them auditable).
    """
    if ingestion_time is None:
        ingestion_time = F.current_timestamp()
    sep = "/" if pair_format == "slash" else ""
    series = F.col("_doc").getField(TIME_SERIES_KEY)

    bad = parsed.filter(
        F.col("payload").isNull() | F.col("_doc").isNull() | series.isNull()
    ).select(
        "base_currency",
        "target_currency",
        "payload",
        F.when(F.col("payload").isNull(), "fetch_failed")
        .when(F.col("_doc").isNull(), "unparseable_json")
        .otherwise("missing_time_series")
        .alias("quarantine_reason"),
    )

    good = (
        parsed.filter(series.isNotNull())
        .select(
            "base_currency",
            "target_currency",
            F.explode(series).alias("date_str", "fields"),  # P2
        )
        .select(
            F.concat_ws(sep, "base_currency", "target_currency").alias(
                "ccy_couple"
            ),  # P4
            F.col("fields").getItem(CLOSE_KEY).cast("double")
            .cast("decimal(10,6)")
            .alias("rate"),  # P5 float() → DECIMAL(10,6)
            F.to_timestamp("date_str", "yyyy-MM-dd").alias("date"),  # P6
        )
        .withColumn("event_time", F.unix_millis(F.col("date")))  # P6 epoch-ms
        .withColumn("timestamp", ingestion_time)  # P7
        .select("event_time", "ccy_couple", "rate", "date", "timestamp")
    )
    return good, bad
