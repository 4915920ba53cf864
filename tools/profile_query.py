#!/usr/bin/env python
"""Per-stage profile of one or more queries — the guide §1 empirical
loop without the (disabled) UI: run each named query with event
logging on, then print per-stage executor run time, task count and the
stage's callsite name, so the expensive operator is identifiable.

Above each stage table, the median split of the query's wall time:
plan construction (the query function's call), physical planning
(forcing ``queryExecution().executedPlan()``), execution (the ``noop``
write, which also plans its write command around the analyzed plan),
and the Spark jobs and completed stages per call — a fixed per-query
driver cost shows up in the first two, task time in the stage table.
The first call builds the plan in Python and Spark analyzes it; later
calls are served from the registry's plan memo, so the cold (first)
construction is printed next to the median served one.
Below it, the task count of every stage and the size of every
BroadcastExchange, per call.

Usage: python tools/profile_query.py [-r REPS] query [query ...]

bench.py's session set-up (warm-ups, tiny-SF plan warmup, staging
prewarm for the named queries), per-rep clearCache.  Reported stage
times are summed across reps for stability; divide by REPS mentally.
"""
from __future__ import annotations

import shutil
import statistics
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
import bench  # noqa: E402


def per_call(label: str, values: list, reps: int) -> None:
    """Print one call's ``values`` when every call repeated them."""
    one = values[:len(values) // reps]
    print(f"  {label} per call: {one}" if one * reps == values
          else f"  {label}, all {reps} calls: {values}")


def main() -> None:
    reps, names = bench.tool_args(sys.argv[1:], 3)
    from level2_to_cassandra_spark.catalog import DEFAULT_SF_DIR as sf_dir
    from level2_to_cassandra_spark.plans.profile import (
        event_log_conf,
        read_event_log,
    )
    from level2_to_cassandra_spark.registry import all_queries

    log_dir = tempfile.mkdtemp(prefix="l2c_profile_")
    spark = bench.open_session("l2c-profile", event_log_conf(log_dir))
    bench.warm_session(spark, sf_dir)
    bench.warm_plans(spark, names)
    bench.prewarm(spark, sf_dir, names)

    qs = all_queries()
    #: per query, per rep: (construct, plan, execute) seconds
    splits: dict[str, list[tuple[float, float, float]]] = {
        n: [] for n in names}
    for _ in range(reps):
        for name in names:
            spark.sparkContext.setJobDescription(f"profile:{name}")
            t0 = time.perf_counter()
            df = qs[name].fn(spark, sf_dir)
            t1 = time.perf_counter()
            df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            bench.noop(df)
            t3 = time.perf_counter()
            splits[name].append((t1 - t0, t2 - t1, t3 - t2))
            spark.sparkContext.setJobDescription(None)
            spark.catalog.clearCache()
    spark.stop()  # flushes the event log
    profile = read_event_log(log_dir, "profile:")
    shutil.rmtree(log_dir, ignore_errors=True)

    for name in names:
        rec = profile.get(name, {"jobs": 0, "stages": {},
                                 "broadcast_bytes": []})
        stages = rec["stages"]
        walls = [sum(parts) for parts in splits[name]]
        construct, plan, execute = (
            statistics.median(col) * 1e3 for col in zip(*splits[name]))
        print(f"\n=== {name}: walls "
              f"{[round(w, 3) for w in walls]} "
              f"(sum of stage numbers below covers all {reps} reps)")
        served = [parts[0] * 1e3 for parts in splits[name][1:]]
        print(f"  median split: construct={construct:.0f} ms "
              f"plan={plan:.0f} ms execute={execute:.0f} ms of "
              f"{statistics.median(walls) * 1e3:.0f} ms wall; "
              f"{rec['jobs'] / reps:g} jobs, {len(stages) / reps:g} "
              f"stages per call")
        print(f"  construct: cold={splits[name][0][0] * 1e3:.0f} ms, "
              "served median="
              + (f"{statistics.median(served):.0f} ms" if served
                 else "n/a (one call)"))
        rows = sorted(stages.values(), key=lambda s: -s["run_ms"])
        tot = sum(s["run_ms"] for s in rows)
        print(f"  total executor run {tot} ms over {len(rows)} stages")
        for s in rows[:14]:
            print(f"  run={s['run_ms']:>6} "
                  f"cpu={s['cpu_ns'] // 1_000_000:>6} "
                  f"wall={s['wall_ms']} fw={s['fetch_wait_ms']:>4} "
                  f"shR={s['shuffle_read_bytes'] / 1e6:>6.1f} "
                  f"shW={s['shuffle_write_bytes'] / 1e6:>6.1f} "
                  f"t={s['tasks']:>3} in={s['records_in']:>9} "
                  f"{s['name'][:90]}")
        per_call("tasks per stage",
                 [s["tasks"] for _, s in sorted(stages.items())], reps)
        per_call("broadcast bytes", rec["broadcast_bytes"], reps)


if __name__ == "__main__":
    main()
