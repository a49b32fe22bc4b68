"""End-to-end FX pipeline test: fixture JSON → tick → store → report.

Validates ingestion (P1-P8), quarantine (O4), upsert idempotence (S5), and —
crucially — that the decorrelated Spark analytics plan reproduces the
reference's ORIGINAL correlated SQL (transcribed for DuckDB from
``/root/reference/Fx_1min.py:147-217``) on the same store.
"""

from __future__ import annotations

import datetime as dt
import json

import duckdb
import pytest

from fxspark import fx
from fxspark.cli import tick
from tests.oracle_diff import compare, diff_report

# Fixture universe: close series per pair, last date 2025-01-17.
# USD/EUR engineered to reproduce the PDF p.5 golden row: 0.896100, 0.20%.
SERIES = {
    ("USD", "EUR"): {"2025-01-17": 0.896100, "2025-01-16": 0.896100,
                     "2025-01-15": 0.894312, "2025-01-14": 0.891000},
    ("EUR", "USD"): {"2025-01-17": 1.030000, "2025-01-16": 1.029100,
                     "2025-01-15": 1.025000},
    ("GBP", "USD"): {"2025-01-17": 1.250000, "2025-01-16": 1.240000},
    # only one observation → no previous rate (left-join fallback case)
    ("AUD", "CAD"): {"2025-01-17": 0.914510},
}

NOW = dt.datetime(2025, 1, 17, 12, 0, tzinfo=dt.timezone.utc)
# cutoff: 2025-01-16 17:00 America/New_York == 2025-01-16 22:00 UTC (EST)
CUTOFF_SQL = "2025-01-16 22:00:00"


def av_doc(base: str, target: str, series: dict[str, float]) -> str:
    """Alpha Vantage FX_DAILY response shape (FIXTURES.md A3) — all leaves
    strings, close under '4. close' (Fx_1min.py:72)."""
    return json.dumps(
        {
            "Meta Data": {"2. From Symbol": base, "3. To Symbol": target},
            "Time Series FX (Daily)": {
                d: {"1. open": str(v), "2. high": str(v),
                    "3. low": str(v), "4. close": str(v)}
                for d, v in series.items()
            },
        }
    )


@pytest.fixture(scope="module")
def fixture_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("rates_json")
    for (base, target), series in SERIES.items():
        (d / f"{base}_{target}.json").write_text(av_doc(base, target, series))
    # a payload with the time-series key missing (tolerant path, Fx_1min.py:69)
    (d / "ZZZ_XXX.json").write_text(json.dumps({"Note": "rate limited"}))
    return d


def test_tick_end_to_end(spark, fixture_dir, tmp_path):
    store = str(tmp_path / "exchange_rates")
    result = tick(spark, store, rates_dir=str(fixture_dir), now=NOW, report=False)
    rows = {r["ccy_couple"]: r for r in result.collect()}

    # golden row (PDF p.5): USD/EUR current 0.896100, change +0.20%
    assert str(rows["USD/EUR"]["current_rate"]) == "0.896100"
    assert rows["USD/EUR"]["percentage_change"] == "0.20%"
    # AUD/CAD has no second event before cutoff → dropped by the inner join
    assert "AUD/CAD" not in rows

    # v1 left-join variant keeps it with the fallback label
    store_df = spark.read.parquet(store)
    left = fx.rate_change_report(store_df, now=NOW, how="left")
    lrows = {r["ccy_couple"]: r for r in left.collect()}
    assert lrows["AUD/CAD"]["percentage_change"] == "No Previous Rate"

    # quarantine: the bad payload must not produce rows
    assert "ZZZ" not in "".join(rows.keys())


def test_tick_idempotent(spark, fixture_dir, tmp_path):
    """Re-running the tick re-ingests the same (pair, date) keys — the store
    must not grow (ON DUPLICATE KEY semantics, Fx_1min.py:106-109)."""
    store = str(tmp_path / "exchange_rates")
    tick(spark, store, rates_dir=str(fixture_dir), now=NOW, report=False)
    n1 = spark.read.parquet(store).count()
    tick(spark, store, rates_dir=str(fixture_dir), now=NOW, report=False)
    n2 = spark.read.parquet(store).count()
    assert n1 == n2 == sum(len(s) for s in SERIES.values())


def test_report_matches_reference_correlated_sql(spark, fixture_dir, tmp_path):
    """Differential against the reference's original correlated-subquery SQL
    (Fx_1min.py:147-217), transcribed for DuckDB, on the identical store —
    proves the window-rank decorrelation preserves semantics."""
    store = str(tmp_path / "exchange_rates")
    tick(spark, store, rates_dir=str(fixture_dir), now=NOW, report=False)

    spark_out = fx.rate_change_report(
        spark.read.parquet(store), now=NOW
    ).toPandas()

    con = duckdb.connect()
    con.execute(f"CREATE VIEW t AS SELECT * FROM '{store}/*.parquet'")
    oracle = con.execute(f"""
        WITH ActiveRates AS (
          SELECT ccy_couple, rate, event_time FROM t
          WHERE timestamp >= (SELECT max(timestamp) FROM t) - INTERVAL 30 SECOND
        ), LatestRates AS (
          SELECT ccy_couple, rate AS current_rate FROM (
            SELECT ccy_couple, rate,
                   row_number() OVER (PARTITION BY ccy_couple
                                      ORDER BY event_time DESC) AS rn
            FROM ActiveRates) WHERE rn = 1
        ), LatestEOD AS (
          SELECT ccy_couple, max(event_time) AS max_et FROM t
          WHERE date <= TIMESTAMP '{CUTOFF_SQL}' GROUP BY ccy_couple
        ), PreviousRates AS (
          SELECT e1.ccy_couple, e1.rate AS previous_rate
          FROM t e1 JOIN LatestEOD lr ON e1.ccy_couple = lr.ccy_couple
          WHERE e1.event_time < lr.max_et
            AND e1.event_time = (SELECT max(e2.event_time) FROM t e2
                                 WHERE e2.ccy_couple = e1.ccy_couple
                                   AND e2.event_time < lr.max_et)
        )
        SELECT lr.ccy_couple, lr.current_rate, pr.previous_rate,
               printf('%.2f', round((CAST(lr.current_rate AS DOUBLE)
                                     - CAST(pr.previous_rate AS DOUBLE))
                      / nullif(CAST(pr.previous_rate AS DOUBLE), 0) * 100, 2))
               || '%' AS percentage_change
        FROM LatestRates lr JOIN PreviousRates pr USING (ccy_couple)
    """).fetchdf()

    res = compare(spark_out, oracle)
    assert res["ok"], diff_report("fx_rate_change_report", res)


def test_report_sql_twin_matches_dataframe(spark, fixture_dir, tmp_path):
    """The Spark-SQL text form (CTE chain + :cutoff bind parameter) must be
    row-identical to the DataFrame composition on the same store."""
    store = str(tmp_path / "exchange_rates")
    tick(spark, store, rates_dir=str(fixture_dir), now=NOW, report=False)
    rates = spark.read.parquet(store)

    df_form = fx.rate_change_report(rates, now=NOW).toPandas()
    sql_form = fx.rate_change_report_sql(rates, now=NOW).toPandas()
    res = compare(df_form, sql_form)
    assert res["ok"], diff_report("fx_rate_change_sql_twin", res)


def test_http_rates_local_server(spark):
    """S2-S3 live-HTTP source against a localhost server: good pairs get the
    JSON payload, a 404 pair degrades to NULL payload (per-row error
    isolation, Fx_1min.py:86-90) without failing the task."""
    import http.server
    import threading

    from pyspark.sql import Row

    from fxspark.sources import http_rates

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_GET(self):
            if "EUR" in self.path:
                body = json.dumps(
                    {"Time Series FX (Daily)": {"2025-01-16": {"4. close": "1.03"}}}
                ).encode()
                self.send_response(200)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)
            else:
                self.send_error(404)

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    port = srv.server_address[1]
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        pairs = spark.createDataFrame(
            [Row(base_currency="EUR", target_currency="USD"),
             Row(base_currency="XXX", target_currency="YYY")]
        )
        out = {
            r["base_currency"]: r["payload"]
            for r in http_rates(
                pairs, f"http://127.0.0.1:{port}/fx?from={{base}}&to={{target}}"
            ).collect()
        }
        assert out["XXX"] is None
        assert "Time Series FX (Daily)" in out["EUR"]
    finally:
        srv.shutdown()


def test_tick_structured_run_log(spark, fixture_dir, tmp_path):
    """S8: each tick appends exactly one machine-parseable JSON record with
    the run metrics — the engine's form of the reference's `> log 2>&1`
    capture (run_update_1min.bat:13)."""
    store = str(tmp_path / "exchange_rates")
    log = str(tmp_path / "runs" / "tick.log")
    tick(spark, store, rates_dir=str(fixture_dir), now=NOW, report=False,
         log_path=log)
    tick(spark, store, rates_dir=str(fixture_dir), now=NOW, report=False,
         log_path=log)
    lines = open(log).read().splitlines()
    assert len(lines) == 2
    for line in lines:
        rec = json.loads(line)
        assert rec["store"] == store
        assert rec["quarantined"] == 1  # the rate-limited payload
        assert rec["checks"]["rows"] == sum(len(s) for s in SERIES.values())
        assert rec["elapsed_sec"] > 0


def test_tick_on_empty_payload_dir_is_noop_merge(spark, fixture_dir, tmp_path, capsys):
    """A fetch that produced no ``*.json`` is an empty batch, not an error:
    the store keeps its rows, the report still prints, and the checks count
    zero fetched rows. A missing directory is still an error."""
    store = str(tmp_path / "exchange_rates")
    tick(spark, store, rates_dir=str(fixture_dir), now=NOW, report=False)
    before = sorted(map(tuple, spark.read.parquet(store).collect()))
    empty = tmp_path / "no_payloads"
    empty.mkdir()
    capsys.readouterr()
    tick(spark, store, rates_dir=str(empty), now=NOW)
    printed = capsys.readouterr().out
    assert printed.startswith("ccy_couple")
    assert "[check] rows: 0" in printed.splitlines()
    assert "[quarantine]" not in printed
    assert sorted(map(tuple, spark.read.parquet(store).collect())) == before
    with pytest.raises(FileNotFoundError):
        tick(spark, store, rates_dir=str(tmp_path / "missing"), now=NOW)


def _persisted_rdds(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_tick_releases_what_it_persists(spark, fixture_dir, tmp_path, monkeypatch):
    """Eager work stays inside the tick: after it returns, and after it
    raises partway, no RDD or cached plan it created stays persisted and the
    session conf is unchanged. Over repeated ticks whose batches leave most
    of the store untouched, its file count stays within the default
    parallelism plus one."""
    cache = spark._jsparkSession.sharedState().cacheManager()
    rdds, conf, uncached = _persisted_rdds(spark), spark.conf.getAll, cache.isEmpty()
    store = tmp_path / "exchange_rates"
    tick(spark, str(store), rates_dir=str(fixture_dir), now=NOW, report=False)
    # each later tick fetches one new day, so every earlier tick's file
    # holds rows the batch leaves untouched
    width = spark.sparkContext.defaultParallelism
    for day in range(1, 11):
        batch = tmp_path / f"batch{day}"
        batch.mkdir()
        doc = av_doc("EUR", "USD", {f"2024-12-{day:02d}": 1 + day / 100})
        (batch / "EUR_USD.json").write_text(doc)
        tick(spark, str(store), rates_dir=str(batch), now=NOW, report=False)
        assert len(list(store.glob("*.parquet"))) <= width + 1
    assert _persisted_rdds(spark) <= rdds and cache.isEmpty() == uncached
    assert spark.conf.getAll == conf

    # raises after the write has materialized the parsed batch
    def fail(*_a, **_k):
        raise RuntimeError("report failed")

    monkeypatch.setattr(fx, "rate_change_report", fail)
    with pytest.raises(RuntimeError, match="report failed"):
        tick(spark, str(store), rates_dir=str(fixture_dir), now=NOW, report=False)
    monkeypatch.undo()
    assert _persisted_rdds(spark) <= rdds and cache.isEmpty() == uncached

    # raises reading an unreadable store
    bad = tmp_path / "unreadable"
    bad.mkdir()
    (bad / "part-00000.parquet").write_bytes(b"not parquet")
    with pytest.raises(Exception):
        tick(spark, str(bad), rates_dir=str(fixture_dir), now=NOW, report=False)
    assert _persisted_rdds(spark) <= rdds and cache.isEmpty() == uncached
    assert spark.conf.getAll == conf


def test_p9_fixed_offset_cutoff_replicates_v1_dst_bug():
    """P9 (update_exchange_rates.py:121): hardcoded UTC-4 cutoff. In
    summer (EDT) it equals the DST-correct P8 cutoff; in winter (EST,
    UTC-5) it diverges by exactly one hour — the documented v1 bug,
    replicated faithfully and pinned here."""
    import datetime as dt

    from fxspark.fx import fixed_offset_cutoff, ny_cutoff

    summer = dt.datetime(2024, 7, 10, 12, 0, tzinfo=dt.timezone.utc)
    assert fixed_offset_cutoff(summer) == ny_cutoff(summer)

    winter = dt.datetime(2024, 1, 10, 12, 0, tzinfo=dt.timezone.utc)
    v1 = fixed_offset_cutoff(winter)
    correct = ny_cutoff(winter)
    assert v1 - correct == dt.timedelta(hours=-1)
