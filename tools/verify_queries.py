#!/usr/bin/env python
"""Oracle-check specific queries: python tools/verify_queries.py <sf_dir> q1 q2 ..."""
import os
import sys

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from tests.oracle_diff import vhash  # noqa: E402


def main():
    sf = sys.argv[1]
    names = sys.argv[2:]
    from fxspark.queries import ORACLE, QUERIES
    from fxspark.session import TABLES, get_spark

    spark = get_spark("fxspark-verify-q")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    fails = []
    for name in names:
        try:
            s = QUERIES[name](spark, sf).toPandas()
            if name in ORACLE:
                o = con.execute(ORACLE[name]).fetchdf()
                ok = len(s) == len(o) and vhash(s) == vhash(o)
                print(name, "MATCH" if ok else "MISMATCH", len(s), flush=True)
                if not ok:
                    fails.append(name)
            else:
                print(name, "rows-only", len(s), flush=True)
        except Exception as ex:  # noqa: BLE001
            print(name, "ERR", repr(ex)[:300], flush=True)
            fails.append(name)
    print("FAILS:", fails, flush=True)
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
