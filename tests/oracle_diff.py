"""DuckDB-oracle differential compare — mirrors the driver's t2 gate.

Runs a Spark query and its DuckDB oracle SQL on the same parquet tables and
compares: row count, column names, and order-insensitive values (columns
sorted by name, rows sorted by their stringified tuple — equivalent to the
driver's value-hash equality).
"""

from __future__ import annotations

import datetime as _dt
import decimal as _decimal
import hashlib
import math

import duckdb
import pandas as pd

from fxspark.session import TABLES

__all__ = ["duck_connect", "run_oracle", "compare", "vhash", "diff_report"]


def duck_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def run_oracle(con: duckdb.DuckDBPyConnection, sql: str) -> pd.DataFrame:
    return con.execute(sql).fetchdf()


def _norm_cell(v):
    if v is None:
        return "∅"
    if isinstance(v, _decimal.Decimal):
        v = float(v)  # DuckDB surfaces parquet decimals as float64
    if isinstance(v, float):
        if math.isnan(v):
            return "∅"
        # repr keeps full precision; -0.0 normalized
        return repr(v + 0.0)
    if isinstance(v, (pd.Timestamp, _dt.datetime)):
        ts = pd.Timestamp(v)
        if ts.tzinfo is not None:
            ts = ts.tz_convert("UTC").tz_localize(None)
        return ts.isoformat()
    if isinstance(v, _dt.date):
        return v.isoformat()
    return repr(v)


def _canon(df: pd.DataFrame) -> list[tuple]:
    cols = sorted(df.columns)
    rows = [
        tuple(_norm_cell(v) for v in row)
        for row in df[cols].itertuples(index=False, name=None)
    ]
    return sorted(rows)


def vhash(pdf):
    """Order-insensitive value hash of a frame: md5 over its rows, columns
    sorted by name and rows sorted by their repr'd tuple — the hash check
    the verify tools apply."""
    cols = sorted(pdf.columns)
    return hashlib.md5(repr(sorted(tuple(repr(v) for v in r)
        for r in pdf[cols].itertuples(index=False, name=None))).encode()).hexdigest()


def compare(spark_df: pd.DataFrame, oracle_df: pd.DataFrame) -> dict:
    res = {
        "rows_spark": len(spark_df),
        "rows_oracle": len(oracle_df),
        "cols_spark": sorted(spark_df.columns),
        "cols_oracle": sorted(oracle_df.columns),
    }
    res["rows_match"] = res["rows_spark"] == res["rows_oracle"]
    res["cols_match"] = res["cols_spark"] == res["cols_oracle"]
    if res["rows_match"] and res["cols_match"]:
        a, b = _canon(spark_df), _canon(oracle_df)
        res["values_match"] = a == b
        if not res["values_match"]:
            res["first_diff"] = next(
                ((x, y) for x, y in zip(a, b) if x != y), None
            )
    else:
        res["values_match"] = False
    res["ok"] = res["rows_match"] and res["cols_match"] and res["values_match"]
    return res


def diff_report(name: str, res: dict) -> str:
    if res["ok"]:
        return f"{name}: OK ({res['rows_spark']} rows)"
    lines = [f"{name}: MISMATCH"]
    if not res["rows_match"]:
        lines.append(f"  rows: spark={res['rows_spark']} oracle={res['rows_oracle']}")
    if not res["cols_match"]:
        lines.append(f"  cols: spark={res['cols_spark']} oracle={res['cols_oracle']}")
    if res.get("first_diff"):
        lines.append(f"  first diff: spark={res['first_diff'][0]}")
        lines.append(f"              oracle={res['first_diff'][1]}")
    return "\n".join(lines)
