#!/usr/bin/env python
"""Time individual queries in isolation with the noop sink.

Usage: python tools/time_queries.py [-r REPS] query [query ...]

Same session/staging discipline as bench.py (tiny-SF plan warmup,
staging prewarm for the named queries, per-rep clearCache), but only
for the named queries — the fast inner loop for optimization work.
Prints per-rep seconds, min and median per query.
"""
from __future__ import annotations

import statistics
import sys
import time

import _harness as h


def main() -> None:
    reps, names = h.parse_reps(sys.argv[1:], 3)
    spark = h.open_session("l2c-time-queries")
    h.warm_plans(spark, names)
    h.prewarm(spark, names)

    samples: dict[str, list[float]] = {n: [] for n in names}
    for _ in range(reps):
        for name in names:
            spark.sparkContext.setJobDescription(name)
            t0 = time.perf_counter()
            h.run(spark, name, h.SF_DIR)
            samples[name].append(time.perf_counter() - t0)
            spark.catalog.clearCache()
    for name, ts in samples.items():
        fmt = " ".join(f"{t:.3f}" for t in ts)
        print(f"{name:32s} min={min(ts):.3f} med="
              f"{statistics.median(ts):.3f}  [{fmt}]")
    spark.stop()


if __name__ == "__main__":
    main()
