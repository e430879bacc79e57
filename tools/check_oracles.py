"""Local stand-in for the driver's correctness gate: run each
__spark_entry__.queries() entry and its oracle_sql() in DuckDB on the
same parquet dir, compare row count + column names + order-insensitive
values. Usage: python tools/check_oracles.py [sf_dir] [name ...]"""

from __future__ import annotations

import sys
from pathlib import Path

# the checkout this script lives in, not whatever copy sits elsewhere
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import duckdb
import pandas as pd

import __spark_entry__ as entrymod
from goskyr_spark.spark.session import build_session

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith("float"):
            df[c] = df[c].round(6)
        else:
            try:
                df[c] = df[c].astype("float64").round(6)
            except (TypeError, ValueError):
                df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    spark = build_session(app_name="oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            ours = fn(spark, sf_dir).toPandas()
        except Exception as e:
            failures.append((name, f"SPARK ERROR {type(e).__name__}: {e}"))
            print(f"FAIL  {name}: spark error {e}")
            continue
        sql = oracles.get(name)
        if sql is None:
            print(f"rows  {name}: {len(ours)} rows (no oracle)")
            continue
        try:
            want = con.execute(sql).df()
        except Exception as e:
            failures.append((name, f"DUCKDB ERROR: {e}"))
            print(f"FAIL  {name}: duckdb error {e}")
            continue
        a, b = normalize(ours.copy()), normalize(want.copy())
        if list(a.columns) != list(b.columns):
            failures.append((name, f"columns ours={list(a.columns)} want={list(b.columns)}"))
            print(f"FAIL  {name}: columns ours={list(a.columns)} want={list(b.columns)}")
            continue
        if len(a) != len(b):
            failures.append((name, f"rows ours={len(a)} want={len(b)}"))
            print(f"FAIL  {name}: rows ours={len(a)} want={len(b)}")
            continue
        if not a.equals(b):
            neq = (a != b) & ~(a.isna() & b.isna())
            bad = neq.any(axis=1)
            failures.append((name, f"{int(bad.sum())} mismatching rows"))
            print(f"FAIL  {name}: {int(bad.sum())}/{len(a)} rows differ")
            print("  ours:", a[bad].head(3).to_dict("records"))
            print("  want:", b[bad].head(3).to_dict("records"))
            continue
        print(f"OK    {name}: {len(a)} rows")
    print()
    if failures:
        print(f"{len(failures)} FAILURES:", [f[0] for f in failures])
        sys.exit(1)
    print("all oracle checks passed")
    spark.stop()


if __name__ == "__main__":
    main()
