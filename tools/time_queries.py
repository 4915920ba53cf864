#!/usr/bin/env python
"""Time individual queries in isolation with the noop sink.

Usage: python tools/time_queries.py [-r REPS] query [query ...]

bench.py's session set-up (warm-ups, tiny-SF plan warmup, staging
prewarm for the named queries) and per-rep clearCache, but only for
the named queries — the fast inner loop for optimization work.
Prints per-rep seconds, min and median per query.
"""
from __future__ import annotations

import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
import bench  # noqa: E402


def main() -> None:
    reps, names = bench.tool_args(sys.argv[1:], 3)
    from level2_to_cassandra_spark.catalog import DEFAULT_SF_DIR as sf_dir
    from level2_to_cassandra_spark.registry import all_queries

    spark = bench.open_session("l2c-time-queries")
    bench.warm_session(spark, sf_dir)
    bench.warm_plans(spark, names)
    bench.prewarm(spark, sf_dir, names)

    qs = all_queries()
    samples: dict[str, list[float]] = {n: [] for n in names}
    for _ in range(reps):
        for name in names:
            spark.sparkContext.setJobDescription(name)
            t0 = time.perf_counter()
            bench.noop(qs[name].fn(spark, sf_dir))
            samples[name].append(time.perf_counter() - t0)
            spark.catalog.clearCache()
    for name, ts in samples.items():
        fmt = " ".join(f"{t:.3f}" for t in ts)
        print(f"{name:32s} min={min(ts):.3f} med="
              f"{statistics.median(ts):.3f}  [{fmt}]")
    spark.stop()


if __name__ == "__main__":
    main()
