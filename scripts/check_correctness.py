"""Local mirror of the driver's correctness gate.

Runs every ``queries()[name]`` on Spark and the matching ``oracle_sql()[name]``
on DuckDB over the same parquet tables, then compares:
- row count
- schema (column names, sorted)
- order-insensitive value hash (columns sorted by name, rows sorted)

Usage: python scripts/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _norm_cell(v):
    if isinstance(v, str) or v is None:
        return v
    if hasattr(v, "tolist"):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return tuple(_norm_cell(x) for x in v)
    return v


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].apply(_norm_cell)
    return df.sort_values(by=list(df.columns), ignore_index=True, key=lambda s: s.astype(str))


def value_hash(df: pd.DataFrame) -> str:
    body = df.to_csv(index=False, float_format="%.9g").encode()
    return hashlib.sha256(body).hexdigest()[:16]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry_mod
    from go_log_forwarder_spark.session import get_spark

    spark = get_spark(app_name="correctness")
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"create view {t} as select * from read_parquet('{path}')")

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        try:
            spark_pdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"[FAIL] {name}: spark error: {e}")
            continue
        sql = oracles.get(name)
        if sql is None:
            print(f"[rows-only] {name}: {len(spark_pdf)} rows")
            if len(spark_pdf) == 0:
                print(f"  WARNING: zero rows")
            continue
        try:
            duck_pdf = con.execute(sql).df()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"[FAIL] {name}: duckdb error: {e}")
            continue
        a, b = normalize(spark_pdf), normalize(duck_pdf)
        problems = []
        if len(a) != len(b):
            problems.append(f"rows {len(a)} vs {len(b)}")
        if list(a.columns) != list(b.columns):
            problems.append(f"cols {list(a.columns)} vs {list(b.columns)}")
        elif value_hash(a) != value_hash(b):
            problems.append("value hash mismatch")
            merged = a.compare(b) if len(a) == len(b) else None
            if merged is not None and not merged.empty:
                print(merged.head(10))
            else:
                print("  spark head:", a.head(5).to_dict("records"))
                print("  duck  head:", b.head(5).to_dict("records"))
        if problems:
            failures.append(name)
            print(f"[FAIL] {name}: {'; '.join(problems)}")
        else:
            print(f"[OK]   {name}: {len(a)} rows, hash {value_hash(a)}")
    print(f"\n{len(queries) - len(failures)}/{len(queries)} matched")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
