#!/usr/bin/env python3
"""Local mirror of the driver's t2 correctness gate: run every queries() entry
and compare against oracle_sql() via DuckDB (row count, column names,
order-insensitive values). The comparison lives in scripts/oracle.py;
tests/test_oracle_sweep.py runs the same sweep at sf0.001.

Usage: python scripts/verify_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402

from scripts.oracle import canon, connect, mismatch, oracle_result, spark_result  # noqa: E402,F401


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    import __spark_entry__ as entrymod

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("verify-oracle")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = connect(sf_dir)

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_pass = n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            got = spark_result(fn(spark, sf_dir))
        except Exception as e:
            print(f"FAIL {name}: spark error: {type(e).__name__}: {str(e)[:300]}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ok   {name}: rows={len(got[1])} (rows-only, no oracle) [{time.time()-t0:.1f}s]")
            n_pass += 1
            continue
        try:
            want = oracle_result(con, oracles[name])
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {str(e)[:300]}")
            n_fail += 1
            continue
        why = mismatch(got, want)
        if why is not None:
            print(f"FAIL {name}: {why}")
            n_fail += 1
        else:
            print(f"PASS {name}: rows={len(got[1])} [{time.time()-t0:.1f}s]")
            n_pass += 1
    print(f"\n{n_pass} passed, {n_fail} failed")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
