#!/usr/bin/env python
"""Sharded driver-style oracle differential (verify skill step 1).

Usage: python tools/verify_shard.py <shard_idx> <n_shards> <sf_dir> [skip_file]
Runs every registry query whose sorted index % n_shards == shard_idx against
its DuckDB oracle (row count + order-insensitive value hash). Names listed in
skip_file (one per line, already verified) are skipped.
"""
import os
import sys

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from tests.oracle_diff import vhash  # noqa: E402


def main():
    shard, n_shards, sf = int(sys.argv[1]), int(sys.argv[2]), sys.argv[3]
    skip = set()
    if len(sys.argv) > 4:
        with open(sys.argv[4]) as fh:
            skip = {ln.strip() for ln in fh if ln.strip()}
    import __spark_entry__ as e
    from fxspark.session import get_spark, TABLES

    spark = get_spark(f"fxspark-verify-{shard}")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    qs, osql = e.queries(), e.oracle_sql()
    names = [n for i, n in enumerate(sorted(qs)) if i % n_shards == shard and n not in skip]
    fails = []
    for name in names:
        try:
            s = qs[name](spark, sf).toPandas()
            if name in osql:
                o = con.execute(osql[name]).fetchdf()
                ok = len(s) == len(o) and vhash(s) == vhash(o)
                print(name, "MATCH" if ok else "MISMATCH", len(s), flush=True)
                if not ok:
                    fails.append(name)
            else:
                print(name, "rows-only", len(s), flush=True)
        except Exception as ex:  # noqa: BLE001
            print(name, "ERR", repr(ex)[:200], flush=True)
            fails.append(name)
    print("SHARD", shard, "DONE", len(names), "FAILS:", fails, flush=True)


if __name__ == "__main__":
    main()
