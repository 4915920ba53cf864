#!/usr/bin/env python
"""Check the ``__spark_entry__`` contract as its external caller does:
vanilla SparkSession, non-UTC host TZ, DuckDB oracle comparison.

Usage: python tools/drive_contract.py [--sf DIR] [query ...]

With no names: the re-entrant ``entry()`` check, then every query
(rows-only where a query has no oracle).  With names: only those
queries — the inner correctness loop for optimization work.  DIR
defaults to the sf0.01 fixture the correctness gate runs at.
"""
import os
import sys
import time
import traceback
from pathlib import Path

os.environ["TZ"] = "America/New_York"
time.tzset()

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import SparkSession  # noqa: E402
from tests.conftest import SF_CORRECT as SF  # noqa: E402

args = sys.argv[1:]
if args[:1] == ["--sf"]:
    SF, args = args[1], args[2:]

spark = (
    SparkSession.builder.master("local[4]")
    .appName("drive-contract")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

import __spark_entry__ as entrymod  # noqa: E402
from tests.oracle_harness import compare, duck_connection  # noqa: E402

if not args:
    # entry() twice (re-entrancy), rows >= 0
    n = entrymod.entry(spark).count()
    assert n >= 0, n
    assert entrymod.entry(spark).count() == n
    print(f"entry(): {n} rows OK")

con = duck_connection(SF)
qs = entrymod.queries()
oracles = entrymod.oracle_sql()
names = args or list(qs)
fails = []
t0 = time.time()
for name in names:
    try:
        sdf = qs[name](spark, SF)
        sql = oracles.get(name)
        if sql is None:
            print(f"{name:30s} rows-only: {sdf.count()} rows")
            continue
        compare(sdf, con, sql)
        print(f"{name:30s} OK")
    except Exception as e:  # noqa: BLE001 — one failure never stops the run
        fails.append(name)
        print(f"{name:30s} FAIL: {e}")
        traceback.print_exc(limit=3)
print(f"--- {len(names)} queries, {len(fails)} failures "
      f"({time.time() - t0:.0f}s): {fails}")
sys.exit(1 if fails else 0)
