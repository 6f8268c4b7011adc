"""Local mimic of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` twin on DuckDB at sf0.01, then compares row count, sorted
column names, and an order-insensitive value comparison (columns sorted by
name, rows sorted by all columns, exact equality after string normalization).

Usage: python tools/check_oracle.py [query_name ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.01"


def normalize(df):
    """pandas DataFrame → canonical sorted-rows/sorted-cols string frame."""
    import pandas as pd

    df = df.reindex(sorted(df.columns), axis=1)

    def canon(v):
        if v is None or (isinstance(v, float) and v != v):
            return "<null>"
        if isinstance(v, float):
            if v == int(v) and abs(v) < 1e15:
                return str(int(v))
            return repr(round(v, 9))
        if hasattr(v, "isoformat"):
            return v.isoformat()
        return str(v)

    out = df.apply(lambda col: col.map(canon))
    out = out.sort_values(by=list(out.columns)).reset_index(drop=True)
    return out


def main() -> int:
    import duckdb

    import __spark_entry__ as entrymod
    from changegen_spark.session import get_spark

    only = set(sys.argv[1:])
    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings".split()
    ):
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR).toPandas()
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            failures.append(name)
            continue
        t1 = time.time()
        if name not in oracles:
            print(f"skip  {name}: no oracle (rows={len(sdf)}, {t1-t0:.1f}s)")
            continue
        try:
            ddf = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            failures.append(name)
            continue
        sn, dn = normalize(sdf), normalize(ddf)
        if len(sn) != len(dn):
            print(f"FAIL  {name}: rowcount spark={len(sn)} duckdb={len(dn)}")
            failures.append(name)
            continue
        if list(sn.columns) != list(dn.columns):
            print(f"FAIL  {name}: columns spark={list(sn.columns)} duckdb={list(dn.columns)}")
            failures.append(name)
            continue
        if not sn.equals(dn):
            neq = (sn != dn).any(axis=1)
            print(f"FAIL  {name}: {int(neq.sum())}/{len(sn)} rows differ; first diffs:")
            print("  spark:", sn[neq].head(3).to_dict("records"))
            print("  duck :", dn[neq].head(3).to_dict("records"))
            failures.append(name)
            continue
        print(f"OK    {name}: rows={len(sn)} cols={len(sn.columns)} ({t1-t0:.1f}s)")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
