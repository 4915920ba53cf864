#!/usr/bin/env python
"""Per-stage profile of one or more queries — the guide §1 empirical
loop without the (disabled) UI: run each named query with event
logging on, then print per-stage executor run time, task count and the
stage's callsite name, so the expensive operator is identifiable.

Above each stage table, the median split of the query's wall time:
plan construction (the query function's call, which builds the plan
in Python on the driver), physical planning (forcing
``queryExecution().executedPlan()``), execution (the ``noop`` write,
which also plans its write command around the analyzed plan), and
the Spark jobs and completed stages per call — a fixed per-query
driver cost shows up in the first two, task time in the stage table.

Usage: python tools/profile_query.py [-r REPS] query [query ...]

Same session/staging discipline as tools/time_queries.py (bench.py's
inner loop): tiny-SF plan warmup, staging prewarm for the named
queries, per-rep clearCache.  Reported stage times are summed across
reps for stability; divide by REPS mentally.
"""
from __future__ import annotations

import json
import statistics
import sys
import tempfile
import time
from pathlib import Path

import _harness as h


def main() -> None:
    reps, names = h.parse_reps(sys.argv[1:], 3)
    log_dir = tempfile.mkdtemp(prefix="l2c_profile_")
    spark = h.open_session("l2c-profile", {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.compress": "false",
        "spark.eventLog.dir": f"file://{log_dir}"})
    h.warm_plans(spark, names)
    h.prewarm(spark, names)

    from level2_to_cassandra_spark.registry import all_queries

    qs = all_queries()
    #: per query, per rep: (construct, plan, execute) seconds
    splits: dict[str, list[tuple[float, float, float]]] = {
        n: [] for n in names}
    for _ in range(reps):
        for name in names:
            spark.sparkContext.setJobDescription(f"profile:{name}")
            t0 = time.perf_counter()
            df = qs[name].fn(spark, h.SF_DIR)
            t1 = time.perf_counter()
            df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t3 = time.perf_counter()
            splits[name].append((t1 - t0, t2 - t1, t3 - t2))
            spark.sparkContext.setJobDescription(None)
            spark.catalog.clearCache()
    spark.stop()

    # parse the event log: per-description, per-stage
    jobs: dict[str, int] = {n: 0 for n in names}
    desc_of_stage: dict[int, str] = {}
    stages: dict[int, dict] = {}
    files = [p for p in Path(log_dir).rglob("events_*") if p.is_file()]
    for entry in files:
        with open(entry, errors="replace") as fh:
            for line in fh:
                if line.startswith('{"Event":"SparkListenerJobStart"'):
                    ev = json.loads(line)
                    desc = (ev.get("Properties") or {}).get(
                        "spark.job.description", "")
                    if not desc.startswith("profile:"):
                        continue
                    jobs[desc[8:]] += 1
                    for sid in ev.get("Stage IDs", []):
                        desc_of_stage.setdefault(sid, desc[8:])
    for entry in files:
        with open(entry, errors="replace") as fh:
            for line in fh:
                if line.startswith(
                        '{"Event":"SparkListenerStageCompleted"'):
                    ev = json.loads(line)
                    info = ev.get("Stage Info", {})
                    sid = info.get("Stage ID")
                    if sid not in desc_of_stage or sid in stages:
                        continue
                    run = cpu = srt = srb = swb = rows_in = 0
                    for acc in info.get("Accumulables", []):
                        nm = acc.get("Name")
                        if nm == "internal.metrics.executorRunTime":
                            run = acc.get("Value", 0)
                        elif nm == "internal.metrics.executorCpuTime":
                            cpu = acc.get("Value", 0) // 1_000_000
                        elif nm == ("internal.metrics.shuffle.read"
                                    ".fetchWaitTime"):
                            srt = acc.get("Value", 0)
                        elif nm == ("internal.metrics.shuffle.read"
                                    ".totalBytesRead"):
                            srb = acc.get("Value", 0)
                        elif nm == ("internal.metrics.shuffle.write"
                                    ".bytesWritten"):
                            swb = acc.get("Value", 0)
                        elif nm == "internal.metrics.input.recordsRead":
                            rows_in = acc.get("Value", 0)
                    stages[sid] = {
                        "q": desc_of_stage[sid],
                        "run_ms": run, "cpu_ms": cpu,
                        "fetchwait_ms": srt,
                        "sh_read_mb": round(srb / 1e6, 1),
                        "sh_write_mb": round(swb / 1e6, 1),
                        "rows_in": rows_in,
                        "tasks": info.get("Number of Tasks", 0),
                        "name": info.get("Stage Name", "")[:90],
                        "wall_ms": None,
                    }
                    st = info.get("Submission Time")
                    ct = info.get("Completion Time")
                    if st and ct:
                        stages[sid]["wall_ms"] = ct - st

    for name in names:
        walls = [sum(parts) for parts in splits[name]]
        rows = [s for s in stages.values() if s["q"] == name]
        construct, plan, execute = (
            statistics.median(col) * 1e3 for col in zip(*splits[name]))
        print(f"\n=== {name}: walls "
              f"{[round(w, 3) for w in walls]} "
              f"(sum of stage numbers below covers all {reps} reps)")
        print(f"  median split: construct={construct:.0f} ms "
              f"plan={plan:.0f} ms execute={execute:.0f} ms of "
              f"{statistics.median(walls) * 1e3:.0f} ms wall; "
              f"{jobs[name] / reps:g} jobs, {len(rows) / reps:g} stages "
              f"per call")
        rows.sort(key=lambda s: -s["run_ms"])
        tot = sum(s["run_ms"] for s in rows)
        print(f"  total executor run {tot} ms over {len(rows)} stages")
        for s in rows[:14]:
            print(f"  run={s['run_ms']:>6} cpu={s['cpu_ms']:>6} "
                  f"wall={s['wall_ms']} fw={s['fetchwait_ms']:>4} "
                  f"shR={s['sh_read_mb']:>6} shW={s['sh_write_mb']:>6} "
                  f"t={s['tasks']:>3} in={s['rows_in']:>9} {s['name']}")


if __name__ == "__main__":
    main()
