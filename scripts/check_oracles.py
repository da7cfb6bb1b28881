#!/usr/bin/env python
"""Self-check: run every `queries()` entry against its `oracle_sql()` twin,
mirroring the driver's CORRECTNESS gate (row count + column names +
order-insensitive values, dtype-strict) at a given sf dir.

Usage: python scripts/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def duck_conn(sf_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as e
    from foundry_es_spark.queries.common import oracle_mismatches
    from foundry_es_spark.session import get_spark

    spark = get_spark(master="local[16]", shuffle_partitions=16)
    qs, os_ = e.queries(), e.oracle_sql()
    con = duck_conn(sf_dir)

    n_pass = n_fail = n_rowsonly = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as ex:
            print(f"FAIL {name}: spark raised {type(ex).__name__}: {ex}")
            n_fail += 1
            continue
        if name not in os_:
            print(f"rows-only {name}: {len(got)} rows")
            n_rowsonly += 1
            continue
        try:
            exp = con.execute(os_[name]).fetchdf()
        except Exception as ex:
            print(f"FAIL {name}: duckdb raised {type(ex).__name__}: {ex}")
            n_fail += 1
            continue
        problems = oracle_mismatches(got, exp)
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)}")
            n_fail += 1
        else:
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rowsonly} rows-only")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
