"""Stricter mirror of the DRIVER's correctness gate (vs check_correctness.py).

The driver sorts columns by name, sorts rows, and value-hashes the rendered
cells WITHOUT tuple-izing object cells — so raw array cells crash it and
int64-vs-float64 dtype drift ("123" vs "123.0") hash-mismatches even when
values are numerically equal. This sim reproduces both behaviors so oracle
portability bugs surface locally before the round gate.

Usage: python scripts/driver_sim.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon(df):
    df = df[sorted(df.columns)].copy()
    df = df.sort_values(by=list(df.columns), ignore_index=True)  # no tuple-izing
    return df


def vhash(df) -> str:
    cells = df.astype(str).to_csv(index=False).encode()
    return hashlib.sha256(cells).hexdigest()[:16]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry_mod
    from go_log_forwarder_spark.session import get_spark

    spark = get_spark(app_name="driver_sim")
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
        sql = oracles.get(name)
        if sql is None:
            continue
        try:
            a = canon(fn(spark, sf_dir).toPandas())
            b = canon(con.execute(sql).df())
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"[FAIL] {name}: {type(e).__name__}: {e}")
            continue
        ok = len(a) == len(b) and list(a.columns) == list(b.columns) and vhash(a) == vhash(b)
        if ok:
            print(f"[OK]   {name}: {len(a)} rows")
        else:
            failures.append(name)
            print(f"[FAIL] {name}: rows {len(a)}/{len(b)}")
            print("  spark dtypes:", dict(a.dtypes.astype(str)))
            print("  duck  dtypes:", dict(b.dtypes.astype(str)))
            print("  spark head:", a.head(3).astype(str).to_dict("records"))
            print("  duck  head:", b.head(3).astype(str).to_dict("records"))
    print(f"\nfailures: {failures or 'none'}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
