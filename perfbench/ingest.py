"""The ``ingest`` workload, in two phases on one session:

* live — the daemon's continuous trigger with the production audit
  config, fed 500 msg/s by a separate publisher process on a fixed
  schedule (an open loop); gives message freshness;
* backfill — the daemon's ``--drain`` path over a bounded capture,
  then per-symbol newest-first time-range reads of the sink; gives
  drain throughput and read latency.

Ingest goes through the calls ``python -m level2_to_cassandra_spark``
makes: ``PipelineConfig.from_env``, ``sources.file_envelope_stream`` and
``build_streaming_pipeline``.
"""

from __future__ import annotations

import json
import math
import signal
import subprocess
import sys
import time
from collections import Counter
from pathlib import Path

import gen
import measure

#: backfill capture: 8,000 messages in 8 files, 4 files per trigger
BACKFILL_MESSAGES = 8_000
BACKFILL_FILES = 8
BACKFILL_MAX_FILES = 4
#: live publisher: one file every PERIOD_S seconds at RATE msg/s
PERIOD_S = 0.5
RATE = 500
#: data triggers each live query runs on the publisher's feed before
#: timing starts
WARM_TRIGGERS = 1
#: give up when the live queries are not warm after this long
WARMUP_MAX_S = 90
#: --drain runs per measured window, at least (drains of one run
#: agree closely; the spread of this figure is between runs)
MIN_DRAINS = 2
#: symbols read back, by popularity rank (one hot, one cold)
READ_RANKS = (1, 200)
#: read window: +-2 h around the capture's UTC day boundary
READ_HALF_WINDOW_S = 7200
#: the Arrow batch bound above which one (symbol, day) key's rows are
#: cumulated per chunk (spark.sql.execution.arrow.maxRecordsPerBatch)
ARROW_MAX_RECORDS = 10_000
SUFFIXES = ("book", "tick")


def _env(root: Path, max_files: int | None, metrics: bool) -> dict:
    env = {"APP_MODE": "full", "KEYSPACE": str(root / "sink"),
           "CHECKPOINT_DIR": str(root / "ckpt")}
    if max_files:
        env["TRIGGER_MAX_FILES"] = str(max_files)
    if metrics:
        env["APP_METRICS"] = "1"
    return env


def _progress(q) -> list[dict]:
    return [json.loads(p.json) for p in q.recentProgress]


def start_pipeline(spark, src: Path, root: Path, max_files: int | None,
                   metrics: bool, available_now: bool):
    """Start the daemon's queries; returns (cfg, {suffix: query})."""
    from level2_to_cassandra_spark import sources
    from level2_to_cassandra_spark.streaming.pipeline import (
        PipelineConfig,
        build_streaming_pipeline,
    )

    cfg = PipelineConfig.from_env(_env(root, max_files, metrics))
    envelope = sources.file_envelope_stream(
        spark, str(src), max_files_per_trigger=cfg.max_files_per_trigger)
    qs = build_streaming_pipeline(envelope, cfg,
                                  trigger_available_now=available_now)
    return cfg, dict(zip(SUFFIXES, qs))


def drain(spark, src: Path, root: Path, max_files: int | None,
          metrics: bool = False) -> tuple[float, object, dict]:
    """One ``--drain``: returns (wall s, cfg, {suffix: progress})."""
    t0 = time.perf_counter()
    cfg, qs = start_pipeline(spark, src, root, max_files, metrics, True)
    for q in qs.values():
        q.awaitTermination()
    wall = time.perf_counter() - t0
    return wall, cfg, {s: _progress(q) for s, q in qs.items()}


# ------------------------------------------------------------ oracle

def expected_rows(msgs, suffix: str, symbol: str, lo: int, hi: int):
    """Pure-Python model of one sink read: last write wins per
    (symbol, time, price); tick running sums per (symbol, UTC day) in
    (time, seq) order."""
    rows: dict = {}
    cum: dict = {}
    for m in msgs:
        if m.symbol != symbol or m.levels is None:
            continue
        if suffix == "tick" and m.kind == "TICK":
            bid, price, ask, vol, side = m.levels
            c = cum.setdefault(m.time // 86400, [0, 0])
            c[0 if side == "B" else 1] += vol
            rows[(m.time, price)] = (m.time, price, bid, ask, vol, side,
                                     c[0], c[1], c[0] - c[1])
        elif suffix == "book" and m.kind == "BOOK":
            for price, vol, typ in m.levels:
                rows[(m.time, price)] = (m.time, price, vol,
                                         typ.replace("BOOK_TYPE_", ""))
    return sorted(r for r in rows.values() if lo <= r[0] < hi)


def read_set(seed: int, center: int) -> list[tuple[str, str, int, int]]:
    names = gen.symbol_ranks(seed)
    lo, hi = center - READ_HALF_WINDOW_S, center + READ_HALF_WINDOW_S
    return [(suffix, names[r - 1], lo, hi)
            for r in READ_RANKS for suffix in SUFFIXES]


def sink_read(spark, sink: str, suffix: str, symbol: str, lo: int, hi: int):
    """One newest-first time-range read through ``read_sink_latest``."""
    from pyspark.sql import functions as F

    from level2_to_cassandra_spark.streaming.sink import read_sink_latest

    t = F.col("time")
    cols = ((t.cast("long").alias("t"), "price", "bid", "ask", "volume",
             "trade_type", "cumbuy", "cumsell", "cumdelta")
            if suffix == "tick" else
            (t.cast("long").alias("t"), "price", "volume", "order_type"))
    df = (read_sink_latest(spark, sink, suffix)
          .where((F.col("symbol") == symbol)
                 & (t >= F.timestamp_seconds(F.lit(lo)))
                 & (t < F.timestamp_seconds(F.lit(hi))))
          .orderBy(t.desc())
          .select(*cols))
    return [tuple(r) for r in df.collect()]


def read_pass(spark, sink: str, reads) -> tuple[float, list, list[float]]:
    t0 = time.perf_counter()
    results, each = [], []
    for r in reads:
        t1 = time.perf_counter()
        results.append(sink_read(spark, sink, *r))
        each.append(time.perf_counter() - t1)
    return time.perf_counter() - t0, results, each


def check_reads(msgs, reads, results) -> int:
    """Number of reads whose rows or order differ from the model."""
    bad = 0
    for (suffix, sym, lo, hi), got in zip(reads, results):
        times = [r[0] for r in got]
        if times != sorted(times, reverse=True) or \
                sorted(got) != expected_rows(msgs, suffix, sym, lo, hi):
            bad += 1
    return bad


def reconcile(spark, src: Path, cfg) -> tuple[int, int, dict]:
    """``streaming.reconcile.reconcile_sink`` on both tables: returns
    (rows checked, rows missing/extra/mismatched, per-table counters)."""
    from level2_to_cassandra_spark.streaming.reconcile import reconcile_sink

    checked = bad = 0
    out = {}
    for suffix in SUFFIXES:
        r = reconcile_sink(spark, str(src), cfg, suffix)
        out[suffix] = r
        n_bad = r["missing"] + r["extra"] + r["mismatch"]
        checked += r["matched"] + n_bad
        bad += n_bad
    return checked, bad, out


def delivered_rows(msgs) -> dict[str, int]:
    """Rows the sink callbacks receive: one per tick, one per level."""
    out = {"book": 0, "tick": 0}
    for m in msgs:
        if m.levels is not None:
            out[m.kind.lower()] += len(m.levels) if m.kind == "BOOK" else 1
    return out


def file_batches(cfg, suffix: str, progress: list[dict]) -> dict[str, int]:
    """File → trigger id of the ``suffix`` query (its checkpoint's
    source log joined with its progress)."""
    return measure.file_batches(measure.source_log_offsets(
        str(Path(cfg.checkpoint) / suffix / "sources" / "0")), progress)


def max_key_rows_per_trigger(chunks, batch_of: dict[str, int]) -> int:
    """Largest number of tick rows one (symbol, day) key gets in one
    trigger of the stateful operator."""
    per: Counter = Counter()
    for i, chunk in enumerate(chunks):
        b = batch_of.get(gen.file_name(i))
        for m in chunk:
            if m.kind == "TICK" and m.levels is not None:
                per[(b, m.symbol, m.time // 86400)] += 1
    return max(per.values(), default=0)


# ----------------------------------------------------------- tracing

class CallbackTimer:
    """Times the daemon's public foreachBatch callbacks by wrapping
    ``pipeline.foreach_batch_upsert`` and
    ``monitor.foreach_batch_with_metrics`` for the life of a traced run."""

    def __init__(self) -> None:
        self.write_s: list[float] = []    # per sink write
        self.monitor_s: list[float] = []  # per audit wrapper, minus write
        self._saved: list = []

    def install(self) -> None:
        from level2_to_cassandra_spark.streaming import monitor, pipeline

        upsert = pipeline.foreach_batch_upsert
        with_metrics = monitor.foreach_batch_with_metrics

        def timed(fn, sink: list):
            def _call(df, batch_id):
                t0 = time.perf_counter()
                try:
                    fn(df, batch_id)
                finally:
                    sink.append(time.perf_counter() - t0)
            return _call

        def timed_upsert(*a, **k):
            return timed(upsert(*a, **k), self.write_s)

        def timed_metrics(inner, *a, **k):
            inner_s: list[float] = []
            outer = with_metrics(timed(inner, inner_s), *a, **k)

            def _call(df, batch_id):
                t0 = time.perf_counter()
                outer(df, batch_id)
                self.monitor_s.append(
                    time.perf_counter() - t0 - sum(inner_s))
                inner_s.clear()
            return _call

        self._saved = [(pipeline, "foreach_batch_upsert", upsert),
                       (monitor, "foreach_batch_with_metrics", with_metrics)]
        pipeline.foreach_batch_upsert = timed_upsert
        monitor.foreach_batch_with_metrics = timed_metrics

    def uninstall(self) -> None:
        for mod, name, fn in self._saved:
            setattr(mod, name, fn)


def prefix_drains(spark, src: Path, work: Path, max_files: int | None
                  ) -> dict[str, tuple[float, int]]:
    """Drain the capture into a ``noop`` sink through growing prefixes
    of the pipeline: source only, + decode without state, + state.
    Returns stage → (wall s, rows out)."""
    from level2_to_cassandra_spark import sources
    from level2_to_cassandra_spark.streaming import ingest
    from level2_to_cassandra_spark.streaming.pipeline import (
        PipelineConfig,
        book_rows,
        tick_rows_streaming,
    )

    cfg = PipelineConfig.from_env({"APP_MODE": "full"})
    out = {}
    for stage in ("sources", "ingest", "state"):
        env = sources.file_envelope_stream(spark, str(src),
                                           max_files_per_trigger=max_files)
        if stage == "sources":
            dfs = [env]
        elif stage == "ingest":
            _, tick_raw, _ = ingest.demux(env)
            dfs = [book_rows(env, cfg),
                   ingest.parse_tick(tick_raw, extra_cols=("seq",))]
        else:
            dfs = [book_rows(env, cfg),
                   tick_rows_streaming(env, cfg, state_ttl_hours=None)]
        t0 = time.perf_counter()
        qs = [df.writeStream.format("noop").outputMode("update")
              .option("checkpointLocation", str(work / f"noop_{stage}_{i}"))
              .trigger(availableNow=True).start()
              for i, df in enumerate(dfs)]
        for q in qs:
            q.awaitTermination()
        wall = time.perf_counter() - t0
        rows = sum(max(p["sink"]["numOutputRows"], 0)
                   for q in qs for p in _progress(q))
        out[stage] = (wall, rows)
    return out


def _median_or0(xs) -> float:
    return measure.median(xs) if xs else 0.0


def progress_layers(progress: dict[str, list[dict]]) -> dict[str, float]:
    """Per-data-trigger phase figures of the pipeline's two queries."""
    out: dict[str, float] = {}
    for suffix in SUFFIXES:
        ps = [p for p in progress.get(suffix, ()) if p["numInputRows"] > 0]
        d = [p["durationMs"] for p in ps]
        pre = f"streaming.pipeline.{suffix}"
        out[f"{pre}.trigger_ms"] = _median_or0(
            [x.get("triggerExecution", 0) for x in d])
        out[f"{pre}.planning_ms"] = _median_or0(
            [x.get("queryPlanning", 0) for x in d])
        out[f"{pre}.commit_ms"] = _median_or0(
            [x.get("walCommit", 0) + x.get("commitOffsets", 0) for x in d])
        out[f"{pre}.triggers"] = float(len(ps))
    ticks = [p for p in progress.get("tick", ()) if p["numInputRows"] > 0]
    out["sources.get_batch_ms"] = _median_or0(
        [p["durationMs"].get("latestOffset", 0)
         + p["durationMs"].get("getBatch", 0) for p in ticks])
    out["sources.rows_per_trigger"] = _median_or0(
        [p["numInputRows"] for p in ticks])
    ops = [p["stateOperators"][0] for p in ticks if p.get("stateOperators")]
    out["streaming.state.commit_ms"] = _median_or0(
        [o.get("commitTimeMs", 0) for o in ops])
    out["streaming.state.store_instances"] = float(
        max((o.get("numStateStoreInstances", 0) for o in ops), default=0))
    out["streaming.state.rows_total"] = float(
        ops[-1].get("numRowsTotal", 0) if ops else 0)
    out["streaming.state.memory_bytes"] = float(
        max((o.get("memoryUsedBytes", 0) for o in ops), default=0))
    return out


def sink_files(sink: str) -> int:
    return sum(1 for _ in Path(sink).rglob("*.parquet"))


def dead_letter_count(spark, src: Path) -> int:
    """Malformed payloads as the engine classifies them."""
    from pyspark.sql import functions as F

    from level2_to_cassandra_spark.sources import file_envelope_batch
    from level2_to_cassandra_spark.streaming import ingest

    env = file_envelope_batch(spark, str(src))
    return sum(ingest.dead_letters(
        env.where(F.col("msg_type") == kind), kind).count()
        for kind in (ingest.BOOK, ingest.TICK))


# ---------------------------------------------------------- workload

def _committed(qs: dict, ckpt: Path, name: str) -> bool:
    """Whether every query has finished the trigger that read ``name``."""
    for suffix, q in qs.items():
        k = measure.source_log_offsets(
            str(ckpt / suffix / "sources" / "0")).get(name)
        if k is None or not measure.file_batches({name: k}, _progress(q)):
            return False
    return True


def _wait(cond, timeout_s: float, what: str) -> None:
    deadline = time.time() + timeout_s
    while not cond():
        if time.time() > deadline:
            raise RuntimeError(f"{what} not reached in {timeout_s:g} s")
        time.sleep(0.1)


class LivePhase:
    """The daemon's continuous trigger with the production audit config
    (``APP_METRICS=1``), fed at RATE msg/s by the publisher process.

    Set-up commits one primer file (the cold trigger compiles the whole
    path), starts the publisher, and ends once each query has run
    WARM_TRIGGERS more data triggers on its steady feed; the files due
    in the following ``seconds`` are the measured window."""

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.per_file = round(RATE * PERIOD_S)
        self.max_files = int((WARMUP_MAX_S + ctx.seconds) / PERIOD_S) + 1
        with ctx.untimed():
            self.chunks = gen.live_chunks(ctx.seed, self.max_files,
                                          self.per_file)
        self.src = ctx.work / "live_src"
        self.log_path = ctx.work / "publish_log.jsonl"
        self.cfg = self.qs = self.pub = None
        self.window = (0.0, 0.0)

    def start(self) -> None:
        """Start the queries and the publisher; return when warm."""
        self.src.mkdir()
        self.cfg, self.qs = start_pipeline(
            self.ctx.spark, self.src, self.ctx.work / "live", None, True,
            False)
        gen.publish(str(self.src), 0, self.chunks[0], time.time_ns())
        _wait(lambda: _committed(self.qs, Path(self.cfg.checkpoint),
                                 gen.file_name(0)),
              WARMUP_MAX_S, "primer commit")
        self.pub = subprocess.Popen(
            [sys.executable, str(Path(gen.__file__)), "publish",
             "--dir", str(self.src), "--log", str(self.log_path),
             "--seed", str(self.ctx.seed), "--files", str(self.max_files),
             "--per-file", str(self.per_file), "--first", "1",
             "--period", str(PERIOD_S)],
            stdin=subprocess.DEVNULL)
        # the publisher is the load generator, not the program
        self.ctx.rss.skip.add(self.pub.pid)

        def warm() -> bool:
            if self.pub.poll() is not None:
                raise RuntimeError("publisher ended before warm-up did")
            return all(sum(p["numInputRows"] > 0 for p in _progress(q))
                       >= 1 + WARM_TRIGGERS for q in self.qs.values())

        _wait(warm, WARMUP_MAX_S, "warm-up")
        t = time.time()
        self.window = (t, t + self.ctx.seconds)

    def run(self) -> dict[str, list[dict]]:
        """Publish through the window, stop the publisher, wait for the
        last file's commit; returns each query's progress."""
        try:
            time.sleep(max(0.0, self.window[1] - time.time()))
            self._stop_publisher()
            if self.pub.returncode not in (0, -signal.SIGTERM):
                raise RuntimeError(
                    f"publisher exited with {self.pub.returncode}")
            last = gen.read_log(str(self.log_path))[-1]["file"]
            _wait(lambda: _committed(self.qs, Path(self.cfg.checkpoint),
                                     last), 60, "live catch-up")
            return {s: _progress(q) for s, q in self.qs.items()}
        finally:
            self.stop()

    def _stop_publisher(self) -> None:
        if self.pub is not None and self.pub.poll() is None:
            self.pub.terminate()
            try:
                self.pub.wait(timeout=10)
            except subprocess.TimeoutExpired:
                self.pub.kill()
                self.pub.wait()

    def stop(self) -> None:
        self._stop_publisher()
        for q in (self.qs or {}).values():
            q.stop()

    def published_chunks(self) -> list[list]:
        """The primer and every file the publisher logged."""
        return self.chunks[:1 + len(gen.read_log(str(self.log_path)))]

    def figures(self, progress: dict[str, list[dict]]) -> dict:
        """Freshness per message of the window's files, generator
        lateness, backlog and the window's validity."""
        log = gen.read_log(str(self.log_path))
        lo, hi = self.window
        in_window = [e for e in log if lo <= e["due"] < hi]
        published = {e["file"]: e["published"] for e in in_window}
        batch_of = {s: file_batches(self.cfg, s, progress[s])
                    for s in SUFFIXES}
        end_of = {s: {p["batchId"]: measure.trigger_end(p)
                      for p in progress[s] if p["numInputRows"] > 0}
                  for s in SUFFIXES}
        chunks = self.published_chunks()
        counts = {
            gen.file_name(i): {
                s: sum(1 for m in chunk
                       if m.levels is not None and m.kind.lower() == s)
                for s in SUFFIXES}
            for i, chunk in enumerate(chunks)}
        fresh = measure.freshness(published, counts, batch_of, end_of)
        fresh_by = {s: measure.freshness(
            published, {f: {s: c[s]} for f, c in counts.items()},
            batch_of, end_of) for s in SUFFIXES}
        # a file counts as committed once its slower query commits it
        committed = {f: max(end_of[s].get(batch_of[s].get(f), math.inf)
                            for s in SUFFIXES)
                     for f in batch_of["tick"]}
        in_triggers = {s: [p for p in progress[s] if p["numInputRows"] > 0
                           and lo <= measure.trigger_end(p)]
                       for s in SUFFIXES}
        trigger_ms = {s: [p["durationMs"].get("triggerExecution", 0)
                          for p in v] for s, v in in_triggers.items()}
        starts = [measure.epoch_of(p["timestamp"]) for p in progress["tick"]
                  if p["numInputRows"] > 0
                  and lo <= measure.epoch_of(p["timestamp"]) < hi]
        check = measure.live_window_check(
            log, committed, starts, lo, hi, PERIOD_S,
            max(max(v, default=0) for v in trigger_ms.values()) / 1000.0)
        return {
            "fresh": fresh,
            "fresh_by": fresh_by,
            "files": len(in_window),
            "messages": sum(sum(counts[f].values()) for f in published),
            "triggers": {s: len(v) for s, v in in_triggers.items()},
            "trigger_ms": trigger_ms,
            **check,
            "key_max": max_key_rows_per_trigger(chunks, batch_of["tick"]),
            "window": self.window,
        }


def ingest(ctx) -> dict:
    spark, work, seed = ctx.spark, ctx.work, ctx.seed
    timer = CallbackTimer()
    if ctx.trace:
        timer.install()
    try:
        with ctx.untimed():
            msgs = gen.messages(seed, BACKFILL_MESSAGES)
            chunks = gen.split(msgs, BACKFILL_FILES)
            src = work / "backfill_src"
            gen.write_capture(str(src), chunks)
        live = LivePhase(ctx)
        try:
            live.start()
            ctx.ready()
            live_progress = live.run()
        finally:
            live.stop()

        # backfill: --drain of a bounded capture, then sink reads
        walls: list[float] = []
        drain_until = time.perf_counter() + ctx.seconds / 2
        while len(walls) < MIN_DRAINS or time.perf_counter() < drain_until:
            wall, cfg, progress = drain(
                spark, src, work / f"backfill{len(walls)}",
                BACKFILL_MAX_FILES)
            walls.append(wall)
        # one pass of the read set; the drains have warmed the read path
        reads = read_set(seed, gen.BASE_EPOCH + 86400)
        scan_s, results, read_each = read_pass(spark, cfg.out_path, reads)
        ctx.measured()
    finally:
        timer.uninstall()

    lv = live.figures(live_progress)
    if not lv["valid"]:
        # its freshness is not a measurement at the intended load
        print("error: live window invalid (publisher late by "
              f"{lv['lateness_max_s']:.3f} s, backlog grew by "
              f"{lv['backlog_growth']:.0f} messages)", file=sys.stderr)
    checked_l, bad_l, recon_l = reconcile(spark, live.src, live.cfg)
    journal = journal_rows(spark, live.cfg.out_path)
    expect = delivered_rows(m for c in live.published_chunks() for m in c)
    bad_journal = sum(1 for s in SUFFIXES if journal[s] != expect[s])
    checked_b, bad_b, recon_b = reconcile(spark, src, cfg)
    bad_reads = check_reads(msgs, reads, results)
    key_max = max(lv["key_max"], max_key_rows_per_trigger(
        chunks, file_batches(cfg, "tick", progress["tick"])))
    fresh, drain_s = lv["fresh"], measure.median(walls)
    out = {
        "metrics": {
            "latency_ms": measure.median(fresh) * 1000.0,
            "throughput_per_s": BACKFILL_MESSAGES / drain_s,
        },
        # the live window's validity is one more operation
        "attempted": checked_l + checked_b + len(SUFFIXES) + len(reads) + 1,
        "failed": bad_l + bad_b + bad_journal + bad_reads
        + (not lv["valid"]),
        "detail": {
            "freshness_p50_s": {"value": measure.median(fresh),
                                "unit": "s", "n": len(fresh)},
            "freshness_p90_s": {"value": measure.percentile(fresh, 90),
                                "unit": "s", "n": len(fresh)},
            "freshness_s": measure.summarize(fresh, "s"),
            "freshness_by_table_s": {
                s: measure.summarize(v, "s")
                for s, v in lv["fresh_by"].items()},
            "live_files": lv["files"],
            "live_messages": lv["messages"],
            "live_triggers": lv["triggers"],
            "live_trigger_ms": lv["trigger_ms"],
            "drain_s": walls,
            "generator_lateness_max_s": lv["lateness_max_s"],
            "backlog_msgs_max": lv["backlog_max"],
            "backlog_growth_msgs": lv["backlog_growth"],
            "backlog_growing": lv["backlog_growing"],
            "live_valid": lv["valid"],
            "backfill_msg_per_s": {"value": BACKFILL_MESSAGES / drain_s,
                                   "unit": "msg/s", "n": len(walls)},
            "sink_scan_s": {"value": scan_s, "unit": "s", "n": 1},
            "read_s": measure.summarize(read_each, "s"),
            "reconcile": {"live": recon_l, "backfill": recon_b},
            "journal_rows": journal,
            "delivered_rows": expect,
            "reads_mismatched": bad_reads,
            "max_key_rows_per_trigger": key_max,
            "hot_key_margin_ok": key_max < ARROW_MAX_RECORDS,
        },
    }
    if ctx.trace:
        out["layers"] = trace_layers(ctx, timer, live_progress, src,
                                     drain_s, read_each, cfg.out_path,
                                     lv, key_max)
    return out


def trace_layers(ctx, timer: CallbackTimer, live_progress, src: Path,
                 drain_s: float, read_each, sink: str, lv: dict,
                 key_max: int) -> dict[str, float]:
    """Per-layer figures: per-trigger phases from the live run, self
    times from prefix drains of the backfill capture."""
    lo = lv["window"][0]
    layers = progress_layers({
        s: [p for p in ps if measure.trigger_end(p) >= lo]
        for s, ps in live_progress.items()})
    pre = prefix_drains(ctx.spark, src, ctx.work, BACKFILL_MAX_FILES)
    layers.update({
        "sources.self_s": pre["sources"][0],
        "sources.backlog_msgs_max": float(lv["backlog_max"]),
        "streaming.ingest.self_s": pre["ingest"][0] - pre["sources"][0],
        "streaming.ingest.rows_out": float(pre["ingest"][1]),
        "streaming.ingest.dead_letters": float(
            dead_letter_count(ctx.spark, src)),
        "streaming.state.self_s": pre["state"][0] - pre["ingest"][0],
        "streaming.state.max_key_rows_per_trigger": float(key_max),
        "streaming.sink.self_s": drain_s - pre["state"][0],
        "streaming.sink.write_s": _median_or0(timer.write_s),
        "streaming.sink.files": float(sink_files(sink)),
        "streaming.sink.read_latest_s": _median_or0(read_each),
        "streaming.monitor.metrics_s": _median_or0(timer.monitor_s),
    })
    return layers


def journal_rows(spark, sink: str) -> dict[str, int]:
    """Rows the APP_METRICS audit journal says each table received
    (one row per batch id; a replayed batch may be journaled twice)."""
    from pyspark.sql import functions as F

    from level2_to_cassandra_spark.streaming.monitor import read_metrics

    out = {}
    for s in SUFFIXES:
        r = (read_metrics(spark, sink, s).dropDuplicates(["batch_id"])
             .agg(F.sum("n_rows").alias("n")).first())
        out[s] = int(r["n"] or 0)
    return out
