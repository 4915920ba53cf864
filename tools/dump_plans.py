#!/usr/bin/env python
"""Dump .explain("formatted") for headline queries to plans/<tag>/.

Usage: python tools/dump_plans.py <tag> <suffix> [query ...]

With no query names, dumps every bench.py HEADLINE query.  Each file is
plans/<tag>/<query>_<suffix>.txt (suffix: before|after).  Uses
bench.py's session so the captured plans match what the bench
executes.
"""
from __future__ import annotations

import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))
import bench  # noqa: E402


def main() -> None:
    tag = sys.argv[1]
    suffix = sys.argv[2]
    names = sys.argv[3:]

    from level2_to_cassandra_spark.catalog import DEFAULT_SF_DIR as sf_dir
    from level2_to_cassandra_spark.registry import all_queries
    from level2_to_cassandra_spark.plans.inspect import plan_of

    spark = bench.open_session("l2c-plan-dump")
    qs = all_queries()
    if not names:
        names = [n for n in bench.HEADLINE if n in qs]
    out_dir = REPO / "plans" / tag
    out_dir.mkdir(parents=True, exist_ok=True)
    for name in names:
        try:
            df = qs[name].fn(spark, sf_dir)
            txt = plan_of(df, "formatted")
        except Exception as e:  # noqa: BLE001 — keep dumping the rest
            txt = f"ERROR: {e}\n"
        (out_dir / f"{name}_{suffix}.txt").write_text(txt)
        print(name)
        spark.catalog.clearCache()
    spark.stop()


if __name__ == "__main__":
    main()
