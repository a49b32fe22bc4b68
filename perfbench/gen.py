"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of the seed: the same seed writes the
same bytes. Two families:

- ``write_tables``: the ten-table star schema the query registry reads
  (``fxspark.session.TABLES``), shaped like the generated test data the
  registry's oracles were written against: uniform keys, TPC-H-like date
  ranges, a 31-word document vocabulary with 5% near-duplicate documents.
- ``FxFeed``: Alpha Vantage FX_DAILY-shaped payload directories for the
  scheduled tick, plus the seeded history the store starts from.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_WORDS = (
    "the a fast slow big small data query table row column key value join "
    "merge sort hash scan filter group order line part customer window "
    "stream batch spark agg vector"
).split()
_LANGS = ("en", "de", "fr", "es", "zh")
_LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
_COLORS = ("red", "blue", "green", "old", "new", "hot", "small", "big")
_NOUNS = ("bolt", "gear", "ring", "widget", "rod", "anvil", "nut", "pipe")


def _rng(seed: int, stream: str) -> np.random.Generator:
    return np.random.default_rng([seed, *stream.encode()])


def _days(rng, n, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int)
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    table = pa.table(cols)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def table_sizes(sf: float) -> dict[str, int]:
    """Row counts at scale factor ``sf`` (sf=1 is TPC-H SF1's fact sizes)."""
    return {
        "customer": max(int(150_000 * sf), 10),
        "supplier": max(int(10_000 * sf), 5),
        "part": max(int(200_000 * sf), 20),
        "orders": max(int(1_500_000 * sf), 50),
        "lineitem": max(int(6_000_000 * sf), 200),
        "users": max(int(15_000 * sf), 5),
        "events": max(int(1_000_000 * sf), 100),
        "documents": max(int(50_000 * sf), 20),
        "embeddings": max(int(50_000 * sf), 20),
    }


def write_tables(out_dir: str, sf: float, seed: int) -> None:
    """Write the ten registry tables for ``sf`` under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    n = table_sizes(sf)
    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    r = _rng(seed, "customer")
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n["customer"], dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": r.integers(0, 25, n["customer"]).astype(np.int32),
        "c_acctbal": _money(r, n["customer"], -999.99, 9999.99),
        "c_mktsegment": r.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
            n["customer"]),
    })

    r = _rng(seed, "supplier")
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": r.integers(0, 25, n["supplier"]).astype(np.int32),
        "s_acctbal": _money(r, n["supplier"], -999.99, 9999.99),
    })

    r = _rng(seed, "part")
    names = [f"{c} {w}" for c in _COLORS for w in _NOUNS]
    _write(out_dir, "part", {
        "p_partkey": np.arange(n["part"], dtype=np.int64),
        "p_name": r.choice(names, n["part"]),
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n["part"])],
        "p_type": r.choice(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"],
            n["part"]),
        "p_size": r.integers(1, 51, n["part"]).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n["part"]) % 1000) / 10, 2),
    })

    r = _rng(seed, "orders")
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n["orders"], dtype=np.int64),
        "o_custkey": r.integers(0, n["customer"], n["orders"]),
        "o_orderstatus": r.choice(["F", "O", "P"], n["orders"]),
        "o_totalprice": _money(r, n["orders"], 1000.0, 500000.0),
        "o_orderdate": _days(r, n["orders"], "1995-01-01", "2001-08-01"),
        "o_orderpriority": r.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            n["orders"]),
    })

    r = _rng(seed, "lineitem")
    m = n["lineitem"]
    _write(out_dir, "lineitem", {
        "l_orderkey": r.integers(0, n["orders"], m),
        "l_partkey": r.integers(0, n["part"], m),
        "l_suppkey": r.integers(0, n["supplier"], m),
        "l_linenumber": r.integers(1, 8, m).astype(np.int32),
        "l_quantity": r.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": _money(r, m, 900.0, 105000.0),
        "l_discount": r.integers(0, 11, m) / 100.0,
        "l_tax": r.integers(0, 9, m) / 100.0,
        "l_returnflag": r.choice(["A", "N", "R"], m),
        "l_linestatus": r.choice(["F", "O"], m),
        "l_shipdate": _days(r, m, "1995-01-02", "2001-11-04"),
    })

    r = _rng(seed, "events")
    e = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    month_us = 30 * 86_400 * 1_000_000
    # distinct microsecond timestamps: a sorted sample without replacement
    ts = start + np.sort(r.choice(month_us, e, replace=False)).astype("timedelta64[us]")
    _write(out_dir, "events", {
        "event_id": np.arange(e, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": r.integers(0, n["users"], e),
        "event_type": r.choice(["click", "view", "purchase", "signup", "error"], e),
        "value": np.round(np.minimum(r.exponential(45.0, e), 490.0) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, e)],
    })

    r = _rng(seed, "documents")
    d = n["documents"]
    texts: list[str] = []
    for i in range(d):
        if i > 0 and r.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(r.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(r.choice(_WORDS, int(r.integers(10, 100)))))
    _write(out_dir, "documents", {
        "doc_id": np.arange(d, dtype=np.int64),
        "text": texts,
        "lang": r.choice(_LANGS, d, p=_LANG_P),
        "source": [f"src{s}" for s in r.integers(0, 20, d)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    r = _rng(seed, "embeddings")
    v = n["embeddings"]
    labels = r.integers(0, 10, v)
    centers = r.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + r.normal(0.0, 0.8, (v, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(v, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })


# --------------------------------------------------------------------------
# FX feed
# --------------------------------------------------------------------------

CURRENCIES = ("USD", "EUR", "GBP", "JPY", "AUD", "CAD", "CHF", "CNY", "HKD",
              "SGD", "NZD")
PAIRS = tuple((b, t) for b in CURRENCIES for t in CURRENCIES if b != t)
FIRST_DAY = dt.date(2000, 1, 3)
HISTORY_TS = dt.datetime(2000, 1, 1)  # ingestion time of the seeded history
_USD_VALUE = {  # rough USD value of one unit; pair rate = base / target
    "USD": 1.0, "EUR": 1.08, "GBP": 1.27, "JPY": 0.0067, "AUD": 0.66,
    "CAD": 0.73, "CHF": 1.12, "CNY": 0.14, "HKD": 0.128, "SGD": 0.74,
    "NZD": 0.61,
}


class FxFeed:
    """The FX source for ``n_ticks`` scheduled ticks.

    Day ``d`` is ``FIRST_DAY + d``. The store starts with ``history_days``
    days (0 .. H-1) of every pair. Tick ``t`` fetches the ``window`` days
    ending at day ``H + t``: one new day, ``window - 1`` revised days, so the
    upsert both inserts and overwrites. One pair (chosen by the seed) is
    rate-limited on every tick: its payload has no time series and is
    quarantined.
    """

    def __init__(self, seed: int, history_days: int, window: int, n_ticks: int):
        self.seed, self.h, self.window, self.n_ticks = seed, history_days, window, n_ticks
        r = _rng(seed, "fx")
        n_days = history_days + n_ticks
        base = np.array([_USD_VALUE[b] / _USD_VALUE[t] for b, t in PAIRS])
        walk = np.cumsum(r.normal(0.0, 0.004, (len(PAIRS), n_days)), axis=1)
        drift = np.exp(walk - walk[:, -1:] / 2)
        self.closes = np.clip(base[:, None] * drift, 0.001, 9000.0)
        self.limited = int(r.integers(0, len(PAIRS)))

    @staticmethod
    def day(d: int) -> dt.date:
        return FIRST_DAY + dt.timedelta(days=int(d))

    def now(self, t: int) -> dt.datetime:
        """Wall clock handed to tick ``t``: noon UTC the day after its newest
        quote, so the NY cutoff falls on the evening of the newest day."""
        return dt.datetime.combine(self.day(self.h + t + 1), dt.time(12))

    def tick_closes(self, t: int) -> tuple[np.ndarray, np.ndarray]:
        """(day indices, closes[pair, day]) fetched by tick ``t``, rounded
        to the 5 decimals the payload prints. Revisions are a pure function
        of (seed, tick), at most ±5e-4 relative."""
        days = np.arange(self.h + t - self.window + 1, self.h + t + 1)
        rev = _rng(self.seed, f"rev{t}").integers(-5, 6, (len(PAIRS), len(days)))
        return days, np.round(self.closes[:, days] * (1 + rev * 1e-4), 5)

    def history(self) -> tuple[np.ndarray, np.ndarray]:
        days = np.arange(self.h)
        return days, np.round(self.closes[:, days], 5)

    def write_pairs_csv(self, path: str) -> None:
        with open(path, "w") as fh:
            fh.write("base_currency,target_currency\n")
            fh.writelines(f"{b},{t}\n" for b, t in PAIRS)

    def write_payloads(self, t: int, out_dir: str) -> None:
        """One ``{BASE}_{TARGET}.json`` document per pair for tick ``t``."""
        os.makedirs(out_dir, exist_ok=True)
        days, closes = self.tick_closes(t)
        dates = [self.day(d).isoformat() for d in days]
        for i, (b, q) in enumerate(PAIRS):
            if i == self.limited:
                doc = {"Note": "API call frequency exceeded; retry later."}
            else:
                series = {}
                for j in range(len(days) - 1, -1, -1):  # newest first
                    c = closes[i, j]
                    series[dates[j]] = {
                        "1. open": f"{c * 0.999:.5f}",
                        "2. high": f"{c * 1.002:.5f}",
                        "3. low": f"{c * 0.997:.5f}",
                        "4. close": f"{c:.5f}",
                    }
                doc = {
                    "Meta Data": {"1. Information": "Forex Daily Prices",
                                  "2. From Symbol": b, "3. To Symbol": q,
                                  "4. Output Size": "Compact"},
                    "Time Series FX (Daily)": series,
                }
            with open(os.path.join(out_dir, f"{b}_{q}.json"), "w") as fh:
                json.dump(doc, fh)

    def write_history(self, store_path: str) -> None:
        """The seeded store: ``history_days`` closes of every pair, in the
        exchange_rates schema the tick writes."""
        days, closes = self.history()
        n_p, n_d = closes.shape
        dates = (np.datetime64(FIRST_DAY, "D") + days).astype("datetime64[us]")
        date_col = np.tile(dates, n_p)
        ms = date_col.astype("datetime64[ms]").astype(np.int64)
        couples = np.repeat([f"{b}/{q}" for b, q in PAIRS], n_d)
        rates = pa.array(
            [f"{c:.6f}" for c in closes.ravel()], pa.string()
        ).cast(pa.decimal128(10, 6))
        table = pa.table({
            "event_time": pa.array(ms, pa.int64()),
            "ccy_couple": pa.array(couples, pa.string()),
            "rate": rates,
            "date": pa.array(date_col, pa.timestamp("us", tz="UTC")),
            "timestamp": pa.array(
                np.full(len(ms), np.datetime64(HISTORY_TS, "us")),
                pa.timestamp("us", tz="UTC")),
        })
        os.makedirs(store_path, exist_ok=True)
        pq.write_table(table, os.path.join(store_path, "part-00000.parquet"))
