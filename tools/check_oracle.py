"""Replicate the driver's correctness gate locally: run every queries()
entry and its oracle_sql() in DuckDB on the same parquet, compare
row-count, column names, and order-insensitive values.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys

import duckdb

from _root import use_checkout  # noqa: E402

use_checkout()

import __spark_entry__ as entry_mod  # noqa: E402
from duckpgq_extension_spark import get_spark  # noqa: E402
from duckpgq_extension_spark.sources.tables import TABLES  # noqa: E402


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.9g}"
    if isinstance(v, list):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def norm_rows(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = list(r)
        out.append(tuple(norm_cell(vals[i]) for i in idx))
    return sorted(out)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    unknown = sorted(only - set(qs))
    if unknown:
        sys.exit(f"unknown query name(s): {', '.join(unknown)}")
    spark = get_spark(cpus=8, shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, sf_dir)
            s_cols = [c.lower() for c in df.columns]
            s_rows = [tuple(r) for r in df.collect()]
        except Exception as e:
            failures.append((name, f"SPARK ERROR: {e}"))
            print(f"FAIL  {name}: spark error: {str(e)[:200]}")
            continue
        try:
            res = con.execute(oracles[name])
            d_cols = [d[0].lower() for d in res.description]
            d_rows = res.fetchall()
        except Exception as e:
            failures.append((name, f"ORACLE ERROR: {e}"))
            print(f"FAIL  {name}: oracle error: {str(e)[:200]}")
            continue
        if sorted(s_cols) != sorted(d_cols):
            failures.append((name, f"schema: {s_cols} vs {d_cols}"))
            print(f"FAIL  {name}: schema {s_cols} vs {d_cols}")
            continue
        if len(s_rows) != len(d_rows):
            failures.append((name, f"rowcount {len(s_rows)} vs {len(d_rows)}"))
            print(f"FAIL  {name}: rowcount {len(s_rows)} vs {len(d_rows)}")
            continue
        a = norm_rows(s_cols, s_rows)
        b = norm_rows(d_cols, d_rows)
        if a != b:
            diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
            failures.append((name, f"values differ, e.g. {diff}"))
            print(f"FAIL  {name}: values differ, e.g. {diff}")
            continue
        print(f"OK    {name}: {len(s_rows)} rows hash-match")
    print(f"\n{len(failures)} failures" if failures else "\nALL MATCH")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
