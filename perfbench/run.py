#!/usr/bin/env python3
"""End-to-end benchmark of the ingest daemon and the query engine.

Usage, from the root of a checkout::

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 \
        --trace 0

Workloads (see perfbench/README.md for sizes and rationale):

* ``ingest`` — the daemon's continuous trigger fed 500 msg/s by a
  separate publisher process (message freshness), then its ``--drain``
  path over a seeded capture (throughput) and per-symbol newest-first
  time-range reads of the sink;
* ``query_dedup`` — a closed loop over the six shingle-staging
  consumers after a cold staging build.

``--trace 0`` prints the end-to-end metrics of ``BENCHMARK.json``;
``--trace 1`` runs the same workload with tracing on and prints the
per-layer metrics.  Human-readable detail (per-workload figures with
sample counts, correctness counters) goes to the line before the last;
the last line of standard output is the result object.  Every file the
run writes stays under ``.perfbench_work/`` in the checkout, and is
removed at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import tempfile
import time
import traceback
from pathlib import Path

import measure

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
WORKLOADS = ("ingest", "query_dedup")
#: driver JVM heap for every workload, fixed (-Xms = -Xmx) so the
#: JVM's resident size does not follow its heap-growth decisions
DRIVER_HEAP = "2g"


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description="Run one benchmark workload.")
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="length of the measured window")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def isolate(work: Path) -> Path:
    """Keep every file the run writes (Spark scratch, staging tables,
    JVM temp files) under ``work``, and pin the clock zone to UTC so
    collected timestamps read as UTC."""
    tmp = work / "tmp"
    local = work / "spark-local"
    tmp.mkdir(parents=True)
    local.mkdir()
    java_opts = os.environ.get("JAVA_TOOL_OPTIONS", "")
    os.environ.update({
        "TMPDIR": str(tmp),
        "SPARK_LOCAL_DIRS": str(local),
        "JAVA_TOOL_OPTIONS": f"{java_opts} -Djava.io.tmpdir={tmp}".strip(),
        "SPARK_LOCAL_IP": "127.0.0.1",
        "TZ": "UTC",
    })
    time.tzset()
    tempfile.tempdir = str(tmp)
    os.chdir(work)
    return tmp


class Context:
    """What a workload gets: the session, its directories, the run's
    arguments, and the two clock marks it must set — ``ready()`` when
    set-up ends and ``measured()`` when the measured window ends."""

    def __init__(self, args, work: Path, tmp: Path, rss) -> None:
        self.seed, self.seconds, self.trace = args.seed, args.seconds, \
            bool(args.trace)
        self.work, self.tmp, self.rss = work, tmp, rss
        self.spark = None
        self.session_start_s = 0.0
        self.untimed_s = 0.0
        self.setup_s = self.warmup_s = self.peak_rss_mb = None
        self._session_ready_at = 0.0
        #: process age at each phase end, for sizing the run
        self.marks: dict[str, float] = {}

    def start_session(self, extra_conf: dict[str, str]) -> None:
        from level2_to_cassandra_spark.session import get_spark

        t0 = time.perf_counter()
        cores = len(os.sched_getaffinity(0))
        conf = {"spark.ui.enabled": "false",
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.memory": DRIVER_HEAP,
                "spark.driver.extraJavaOptions": f"-Xms{DRIVER_HEAP}",
                **extra_conf}
        self.spark = get_spark(app_name="perfbench",
                               master=f"local[{cores}]", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_start_s = time.perf_counter() - t0
        self._session_ready_at = time.perf_counter()
        self.marks["session"] = measure.process_age_s()
        # fork the Python worker pool on every core before anything runs
        n = int(self.spark.sparkContext.defaultParallelism)
        self.spark.range(10_000, numPartitions=n).mapInPandas(
            lambda it: it, schema="id long").write.format("noop").mode(
            "overwrite").save()

    @contextlib.contextmanager
    def untimed(self):
        """Input generation inside set-up: excluded from ``setup_s``."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.untimed_s += time.perf_counter() - t0

    def ready(self) -> None:
        self.setup_s = measure.process_age_s() - self.untimed_s
        self.warmup_s = (time.perf_counter() - self._session_ready_at
                         - self.untimed_s)
        self.marks["ready"] = measure.process_age_s()

    def measured(self) -> None:
        self.peak_rss_mb = self.rss.stop()
        self.marks["measured"] = measure.process_age_s()

    def stop_session(self) -> None:
        """Stop Spark and wait for the JVM (and its workers) to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                with contextlib.suppress(OSError, ValueError):
                    proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except Exception:  # noqa: BLE001 — last resort
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = SparkContext._jvm = None


def load_contract() -> dict:
    return json.loads((REPO / "BENCHMARK.json").read_text())


def run(args: argparse.Namespace, work: Path) -> tuple[dict, dict]:
    """Run the workload; returns (result line, detail line)."""
    contract = load_contract()
    tmp = isolate(work)
    sys.path[:0] = [str(REPO), str(REPO / "tests")]
    rss = measure.RssSampler().start()
    ctx = Context(args, work, tmp, rss)
    extra: dict[str, str] = {}
    eventlog = work / "eventlog"
    if args.workload == "ingest":
        # one shuffle partition (= one state store) per core: at the
        # 200-partition default one trigger costs ~35 s on 4 cores
        extra["spark.sql.shuffle.partitions"] = str(
            len(os.sched_getaffinity(0)))
        # keep every trigger's progress: the live tick query runs
        # no-data triggers back to back, which would push data
        # triggers out of the default 100-entry history
        extra["spark.sql.streaming.numRecentProgressUpdates"] = "100000"
    if args.trace and args.workload == "query_dedup":
        eventlog.mkdir()
        extra.update({"spark.eventLog.enabled": "true",
                      "spark.eventLog.compress": "false",
                      "spark.eventLog.dir": f"file://{eventlog}"})
    try:
        ctx.start_session(extra)
        if args.workload == "query_dedup":
            import dedup
            out = dedup.query_dedup(ctx)
        else:
            import ingest
            out = ingest.ingest(ctx)
    finally:
        ctx.stop_session()
        if ctx.peak_rss_mb is None:
            ctx.measured()

    ctx.marks["end"] = measure.process_age_s()
    metrics = {"setup_s": ctx.setup_s, "peak_rss_mb": ctx.peak_rss_mb,
               **out["metrics"]}
    detail = {"workload": args.workload, "seed": args.seed,
              "trace": args.trace, **out["detail"],
              "phase_end_s": ctx.marks,
              "setup_s": {"value": ctx.setup_s, "unit": "s", "n": 1},
              "peak_rss_mb": {"value": ctx.peak_rss_mb, "unit": "MB",
                              "n": 1},
              "peak_rss_parts_mb": {k: v / 1024.0 for k, v in
                                    ctx.rss.peak_parts_kb.items()},
              "ops_failed_frac": {
                  "value": out["failed"] / max(out["attempted"], 1),
                  "unit": "1", "n": out["attempted"]}}
    if args.trace:
        layers = dict(out.get("layers", {}))
        if args.workload == "query_dedup":
            import dedup
            ev_layers, detail["queries"] = dedup.event_log_layers(
                str(eventlog), out["n_passes"])
            layers.update(ev_layers)
        layers.update({
            "session.start_s": ctx.session_start_s,
            "session.warmup_s": ctx.warmup_s,
            "trace.latency_ms": metrics["latency_ms"],
            "trace.throughput_per_s": metrics["throughput_per_s"],
        })
        wanted = contract["per_layer"]
        values = {m["name"]: float(layers.get(m["name"], 0.0))
                  for m in wanted}
    else:
        wanted = contract["end_to_end"]
        missing = [m["name"] for m in wanted if m["name"] not in metrics]
        if missing:
            raise RuntimeError(f"workload produced no {missing}")
        values = {m["name"]: float(metrics[m["name"]]) for m in wanted}
    result = {
        "correct": out["failed"] == 0,
        "attempted": int(out["attempted"]),
        "failed": int(out["failed"]),
        "metrics": {m["name"]: {"value": values[m["name"]],
                                "unit": m["unit"]} for m in wanted},
    }
    return result, detail


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if args.seconds <= 0:
        print("error: --seconds must be positive", file=sys.stderr)
        return 2
    base = REPO / ".perfbench_work"
    work = base / f"{args.workload}-{args.seed}-{os.getpid()}"
    cwd = os.getcwd()
    try:
        result, detail = run(args, work)
    except Exception:  # noqa: BLE001 — report and fail without a result
        traceback.print_exc()
        return 1
    finally:
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            base.rmdir()
    print(json.dumps(detail, default=float))
    print(json.dumps(result))
    return 0

if __name__ == "__main__":
    sys.exit(main())
