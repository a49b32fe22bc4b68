"""The FX domain pipeline — the reference's capabilities, composed.

``rate_change_report`` is the one "real query" the reference answers
(SURVEY.md §2.3): for each currency pair, the latest *active* rate vs the
second-latest rate at/before the previous NY-business-day close, with a
formatted percentage change. ``tick`` is the full scheduled-run lifecycle
(SURVEY.md §3: create table → load pairs → fetch → upsert → analyze).
"""

from __future__ import annotations

import datetime as dt
from zoneinfo import ZoneInfo

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fxspark.ops.asof import nth_before_cutoff
from fxspark.ops.change import pct_change_label
from fxspark.ops.latest import latest_per_key_agg
from fxspark.ops.windows import active_window


def ny_cutoff(now: dt.datetime | None = None, tz: str = "America/New_York") -> dt.datetime:
    """Previous business-day close: *yesterday 17:00* in New York, returned
    as a naive UTC datetime (P8, ``/root/reference/Fx_1min.py:133-141``).

    DST-correct via the IANA zone — deliberately NOT replicating v1's
    hardcoded UTC-4 (``update_exchange_rates.py:121``, a DST bug; SURVEY.md
    §7 non-goals documents the deviation).
    """
    if now is None:
        now = dt.datetime.now(dt.timezone.utc)
    if now.tzinfo is None:
        now = now.replace(tzinfo=dt.timezone.utc)
    ny = now.astimezone(ZoneInfo(tz))
    y = ny - dt.timedelta(days=1)
    cutoff_ny = y.replace(hour=17, minute=0, second=0, microsecond=0)
    return cutoff_ny.astimezone(dt.timezone.utc).replace(tzinfo=None)


def fixed_offset_cutoff(
    now: dt.datetime | None = None, utc_offset_hours: int = -4
) -> dt.datetime:
    """P9 — the v1 pipeline's cutoff EXACTLY as written: *yesterday 17:00*
    at a HARDCODED UTC offset (``update_exchange_rates.py:121`` pins UTC-4,
    i.e. EDT year-round), returned as naive UTC.

    This replicates v1's behavior faithfully — including the DST bug: from
    November to March New York is UTC-5, so this cutoff lands one hour
    BEFORE the real close. Kept as a separate, clearly-named function so a
    migration
    can A/B the two (``ny_cutoff`` is the DST-correct P8 form the engine
    uses by default; the winter-divergence is pinned by test).
    """
    if now is None:
        now = dt.datetime.now(dt.timezone.utc)
    if now.tzinfo is None:
        now = now.replace(tzinfo=dt.timezone.utc)
    tz = dt.timezone(dt.timedelta(hours=utc_offset_hours))
    local = now.astimezone(tz)
    y = local - dt.timedelta(days=1)
    cutoff_local = y.replace(hour=17, minute=0, second=0, microsecond=0)
    return cutoff_local.astimezone(dt.timezone.utc).replace(tzinfo=None)


def rate_change_report(
    rates: DataFrame,
    now: dt.datetime | None = None,
    active_horizon: str = "INTERVAL 30 SECONDS",
    how: str = "inner",
) -> DataFrame:
    """The reference analytics query over a (deduped) exchange_rates frame.

    - ActiveRates: ingested within ``active_horizon`` of the max ingestion
      time (Q2-Q3, ``Fx_1min.py:149-157``)
    - current: latest active event per pair (Q5, ``Fx_1min.py:159-173``)
    - previous: SECOND-latest event with ``date`` ≤ yesterday-17:00-NY
      (Q6-Q9, ``Fx_1min.py:180-196`` — the correlated-subquery argmax,
      decorrelated to rank 2)
    - output: pair, rates, ``round(100*(cur-prev)/prev, 2) || '%'`` with the
      v1 'No Previous Rate' fallback under ``how="left"``
      (Q11-Q17, ``Fx_1min.py:200-216``)
    """
    cutoff = F.lit(ny_cutoff(now)).cast("timestamp")

    current = latest_per_key_agg(
        active_window(rates, "timestamp", F.expr(active_horizon)),
        "ccy_couple",
        ["event_time", "timestamp"],
        payload=["rate"],
    ).select("ccy_couple", F.col("rate").alias("current_rate"))

    previous = nth_before_cutoff(
        rates, "ccy_couple", ["event_time"], cutoff=cutoff, cutoff_col="date", n=2
    ).select("ccy_couple", F.col("rate").alias("previous_rate"))

    joined = current.join(previous, "ccy_couple", how)
    return joined.select(
        "ccy_couple",
        "current_rate",
        "previous_rate",
        pct_change_label(
            F.col("current_rate").cast("double"),
            F.col("previous_rate").cast("double"),
        ).alias("percentage_change"),
    )


# The reference query as Spark SQL text (Q1 CTE chaining, `Fx_1min.py:147-217`)
# — for users who bring SQL, not DataFrames. The `@utc_5pm_yesterday` session
# variable (S-VAR, `Fx_1min.py:144-145`) becomes a named bind parameter
# (:cutoff), fixing the reference's injection-prone f-string interpolation.
# Catalyst plans the scalar subquery + window exactly like the DataFrame form.
RATE_CHANGE_SQL = """
WITH ActiveRates AS (
  SELECT ccy_couple, rate, event_time, timestamp
  FROM {rates}
  WHERE timestamp >= (SELECT MAX(timestamp) FROM {rates}) - INTERVAL 30 SECONDS
),
CurrentRates AS (
  SELECT ccy_couple, rate AS current_rate
  FROM (SELECT ccy_couple, rate,
               ROW_NUMBER() OVER (PARTITION BY ccy_couple
                                  ORDER BY event_time DESC, timestamp DESC) AS rn
        FROM ActiveRates) ranked
  WHERE rn = 1
),
PreviousRates AS (
  SELECT ccy_couple, rate AS previous_rate
  FROM (SELECT ccy_couple, rate,
               ROW_NUMBER() OVER (PARTITION BY ccy_couple
                                  ORDER BY event_time DESC) AS rn
        FROM {rates} WHERE date <= CAST(:cutoff AS TIMESTAMP)) ranked
  WHERE rn = 2
)
SELECT c.ccy_couple, c.current_rate, p.previous_rate,
       CASE WHEN p.previous_rate IS NULL THEN 'No Previous Rate'
            ELSE CONCAT(format_string('%.2f',
                   ROUND(try_divide(CAST(c.current_rate AS DOUBLE)
                                    - CAST(p.previous_rate AS DOUBLE),
                                    CAST(p.previous_rate AS DOUBLE)) * 100, 2)), '%')
       END AS percentage_change
FROM CurrentRates c INNER JOIN PreviousRates p USING (ccy_couple)
"""


def rate_change_report_sql(
    rates: DataFrame, now: dt.datetime | None = None
) -> DataFrame:
    """``rate_change_report`` as executable SQL text — result-identical to
    the DataFrame composition (tests assert it); same physical plan family
    after Catalyst decorrelates the scalar subquery."""
    spark = rates.sparkSession
    return spark.sql(
        RATE_CHANGE_SQL,
        args={"cutoff": ny_cutoff(now).strftime("%Y-%m-%d %H:%M:%S")},
        rates=rates,
    )
