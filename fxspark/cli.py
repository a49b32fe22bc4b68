"""Batch tick runner — the reference's ``main()`` lifecycle (SURVEY.md §3).

``tick`` = create-or-read store → load pairs → fetch (offline dir or HTTP)
→ normalize → upsert → persist → analyze → report. The reference ran this
under Windows Task Scheduler every minute (O2); here a scheduler (cron,
Airflow, or Structured Streaming's ``Trigger.ProcessingTime`` — see
``fxspark.streaming``) invokes ``tick`` per micro-batch.
"""

from __future__ import annotations

import argparse
import datetime as dt
import time

from pyspark.sql import DataFrame, SparkSession

from fxspark import fx
from fxspark.ingest import normalize_parsed, parse_payloads
from fxspark.ops.checks import check_report, observe_checks
from fxspark.sink import (
    append_run_log,
    console_report,
    read_table,
    upsert,
    write_table,
)
from fxspark.sources import csv_pairs, http_rates, json_dir_rates

KEYS = ("ccy_couple", "date")  # natural key, Fx_1min.py:38
ORDER = ("timestamp",)  # last-writer-wins on ingestion time


def tick(
    spark: SparkSession,
    store_path: str,
    rates_dir: str | None = None,
    pairs_csv: str | None = None,
    url_template: str | None = None,
    now: dt.datetime | None = None,
    report: bool = True,
    log_path: str | None = None,
) -> DataFrame:
    """One scheduled run (O1, ``Fx_1min.py:240-262``). Returns the report DF."""
    t0 = time.time()
    if rates_dir is not None:
        raw = json_dir_rates(spark, rates_dir)
        if pairs_csv is not None:  # restrict to the declared universe
            pairs = csv_pairs(spark, pairs_csv)
            raw = raw.join(pairs, ["base_currency", "target_currency"], "inner")
    elif url_template is not None and pairs_csv is not None:
        raw = http_rates(csv_pairs(spark, pairs_csv), url_template)
    else:
        raise ValueError("need rates_dir, or url_template + pairs_csv")

    # One JSON parse per tick: the write, its key broadcast and the
    # quarantine count all read this frame; released before returning.
    parsed = parse_payloads(raw).persist()
    try:
        rates, quarantined = normalize_parsed(parsed)
        # Constraint metrics ride the store write (one pass, no validation
        # re-scan): natural-key uniqueness, rate non-null + sane range.
        rates, obs = observe_checks(
            rates, key=list(KEYS), not_null=["rate"], ranges={"rate": (0.0, 1e6)}
        )
        existing = read_table(spark, store_path)
        merged = upsert(existing, rates, KEYS, ORDER)
        write_table(merged, store_path)

        store = read_table(spark, store_path)
        result = fx.rate_change_report(store, now=now)
        if report or log_path is not None:
            n_bad = quarantined.count()
    finally:
        parsed.unpersist()
    if report:
        print(
            console_report(
                result,
                ["ccy_couple", "current_rate", "previous_rate", "percentage_change"],
                [12, 16, 16, 18],
            )
        )
        if n_bad:
            print(f"[quarantine] {n_bad} payload(s) set aside")
        for constraint, count in check_report(obs.get):
            print(f"[check] {constraint}: {count}")
        print(f"Script executed in {time.time() - t0:.2f} seconds")  # Fx_1min.py:262
    if log_path is not None:
        # S8: one structured record per tick (the .bat's `> log 2>&1`,
        # machine-parseable).
        append_run_log(
            log_path,
            {
                "ts_utc": dt.datetime.now(dt.timezone.utc).isoformat(),
                "store": store_path,
                "quarantined": n_bad,
                "checks": dict(check_report(obs.get)),
                "elapsed_sec": round(time.time() - t0, 3),
            },
        )
    return result


def main() -> None:
    p = argparse.ArgumentParser(description="fxspark batch tick")
    p.add_argument("--store", required=True, help="parquet store path")
    p.add_argument("--rates-dir", help="offline JSON fixture directory")
    p.add_argument("--pairs-csv", help="currency pair universe CSV")
    p.add_argument("--url-template", help="live HTTP source URL template")
    p.add_argument("--log", help="append one JSON record per tick (S8)")
    args = p.parse_args()

    from fxspark.session import get_spark

    spark = get_spark("fxspark-tick")
    tick(
        spark,
        store_path=args.store,
        rates_dir=args.rates_dir,
        pairs_csv=args.pairs_csv,
        url_template=args.url_template,
        log_path=args.log,
    )


if __name__ == "__main__":
    main()
