"""Measurement helpers: process-tree RSS, percentiles with their sample
rule, the freshness join, and extraction from streaming progress, the
file source's checkpoint log and Spark event logs.  Nothing here
imports pyspark, so the self-tests run without a session."""

from __future__ import annotations

import json
import math
import os
import statistics
import threading
from datetime import datetime
from pathlib import Path

#: Percentiles considered for a timing, highest first.
PERCENTILES = (99.9, 99.0, 90.0, 50.0)
#: RSS sampling period
RSS_PERIOD_S = 0.5
#: job description prefix of the timed query executions
TAG_PREFIX = "bench:"


def median(values) -> float:
    return float(statistics.median(values))


def _rank(p: float, n: int) -> int:
    """Nearest rank of percentile ``p`` among ``n`` samples (rounded
    first, so 99.9 % of 10,000 is rank 9,990, not 9,991)."""
    return max(1, math.ceil(round(p / 100.0 * n, 9)))


def percentile(values, p: float) -> float:
    """Nearest-rank percentile of a non-empty sequence."""
    xs = sorted(values)
    return float(xs[_rank(p, len(xs)) - 1])


def highest_supported(n: int) -> float | None:
    """Highest percentile in ``PERCENTILES`` with at least ten of ``n``
    samples beyond it, or None when even the median has fewer."""
    for p in PERCENTILES:
        if n - _rank(p, n) >= 10:
            return p
    return None


def summarize(values, unit: str) -> dict:
    """Median plus the highest supported percentile, with the count."""
    xs = list(values)
    out = {"unit": unit, "n": len(xs),
           "p50": median(xs) if xs else None}
    p = highest_supported(len(xs))
    if p is not None and p > 50:
        out[f"p{p:g}"] = percentile(xs, p)
    return out


# --------------------------------------------------------------- RSS

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii",
                      errors="replace") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces: fields resume after ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids(root: int, skip: frozenset[int] = frozenset()) -> list[int]:
    """``root`` and its descendants, less the subtrees rooted at ``skip``."""
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in skip:
            continue
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm", encoding="ascii",
                  errors="replace") as fh:
            return fh.read().strip()
    except OSError:
        return ""


def rss_kb(pid: int) -> int:
    """Resident kB of one process with shared pages split among their
    sharers (``Pss``), so the forked Python workers' copy-on-write pages
    count once across the tree; ``VmRSS`` where no rollup exists."""
    for path, key in ((f"/proc/{pid}/smaps_rollup", "Pss:"),
                      (f"/proc/{pid}/status", "VmRSS:")):
        try:
            with open(path, encoding="ascii") as fh:
                for line in fh:
                    if line.startswith(key):
                        return int(line.split()[1])
        except OSError:
            continue
    return 0


class RssSampler:
    """Peak resident memory of this process and all its descendants
    (the JVM and its Python workers), sampled on a background thread.
    Processes of the harness itself (the live publisher) are left out
    through ``skip``."""

    def __init__(self) -> None:
        self.peak_kb = 0
        self.skip: set[int] = set()
        #: the tree's split at its peak: this process, the JVM, the rest
        self.peak_parts_kb: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        parts = {"driver": 0, "jvm": 0, "other": 0}
        me = os.getpid()
        for p in tree_pids(me, frozenset(self.skip)):
            kind = "driver" if p == me else (
                "jvm" if _comm(p) == "java" else "other")
            parts[kind] += rss_kb(p)
        total = sum(parts.values())
        if total > self.peak_kb:
            self.peak_kb, self.peak_parts_kb = total, parts

    def _run(self) -> None:
        while not self._stop.wait(RSS_PERIOD_S):
            self.sample()

    def start(self) -> "RssSampler":
        self.sample()
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling; returns the peak in MB."""
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
        return self.peak_kb / 1024.0


def process_age_s() -> float:
    """Seconds since this process started (from /proc, so it counts
    interpreter start-up too)."""
    with open("/proc/self/stat", encoding="ascii", errors="replace") as fh:
        stat = fh.read()
    start_ticks = int(stat[stat.rindex(")") + 2:].split()[19])
    with open("/proc/uptime", encoding="ascii") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


# ------------------------------------------------- streaming progress

def epoch_of(ts: str) -> float:
    """StreamingQueryProgress ``timestamp`` (ISO-8601 UTC) → epoch s."""
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def trigger_end(progress: dict) -> float:
    """End of a trigger: its start timestamp + triggerExecution."""
    return (epoch_of(progress["timestamp"])
            + progress["durationMs"].get("triggerExecution", 0) / 1000.0)


def source_log_offsets(source_log_dir: str) -> dict[str, int]:
    """File name → source log offset, from a file stream source's
    checkpoint metadata log (``<checkpoint>/sources/0``; batch files
    and their ``.compact`` roll-ups list ``{"path", "batchId"}``
    entries, where ``batchId`` is the source's own log offset)."""
    out: dict[str, int] = {}
    d = Path(source_log_dir)
    if not d.is_dir():
        return out
    for f in d.iterdir():
        if f.name.startswith(".") or f.name.endswith(".tmp"):
            continue
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if not line.startswith("{"):
                    continue
                e = json.loads(line)
                out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def _log_offset(offset) -> int:
    return -1 if not offset else int(offset["logOffset"])


def file_batches(log_offsets: dict[str, int],
                 progress: list[dict]) -> dict[str, int]:
    """File → id of the query trigger that read it.  A data trigger
    reads the log offsets in (startOffset, endOffset]; the two ids
    differ once a query runs triggers without new files."""
    ranges = [(_log_offset(p["sources"][0].get("startOffset")),
               _log_offset(p["sources"][0].get("endOffset")), p["batchId"])
              for p in progress if p["numInputRows"] > 0]
    out = {}
    for f, k in log_offsets.items():
        for lo, hi, b in ranges:
            if lo < k <= hi:
                out[f] = b
                break
    return out


def freshness(published: dict[str, float],
              counts: dict[str, dict[str, int]],
              batch_of: dict[str, dict[str, int]],
              end_of: dict[str, dict[int, float]]) -> list[float]:
    """Per-message freshness: end of the trigger that committed the
    message minus its file's publish time.

    ``published``: file → publish time; ``counts``: file → {query:
    well-formed messages that query delivers}; ``batch_of``: query →
    file → batch id; ``end_of``: query → batch id → trigger end.
    A file a query has not committed contributes nothing."""
    out: list[float] = []
    for f, t_pub in published.items():
        for q, n in counts.get(f, {}).items():
            b = batch_of.get(q, {}).get(f)
            if b is None or b not in end_of.get(q, {}) or n <= 0:
                continue
            out.extend([end_of[q][b] - t_pub] * n)
    return out


def backlog_at(t: float, published: dict[str, float],
               sizes: dict[str, int], committed: dict[str, float]) -> int:
    """Messages published by ``t`` whose committing trigger has not
    ended by ``t`` (``committed``: file → that trigger's end; a file
    missing from it never committed)."""
    return sum(n for f, n in sizes.items()
               if published.get(f, math.inf) <= t
               < committed.get(f, math.inf))


def live_window_check(log: list[dict], committed: dict[str, float],
                      starts: list[float], lo: float, hi: float,
                      period_s: float, max_trigger_s: float) -> dict:
    """Whether a live window measured the daemon at the intended load,
    and the largest backlog a trigger found at its start (``starts``).

    ``log``: the publisher's entries (``file``, ``due``, ``published``,
    ``n``).  The window is invalid when a file of it was published half
    a period or more after its due time, or when the backlog grew
    across it.  A daemon that keeps up saw-tooths between one and two
    triggers' intake; the mean over each half of the window spans
    about one tooth, so the two means differ by much less than half a
    trigger's intake unless the backlog grows."""
    in_window = [e for e in log if lo <= e["due"] < hi]
    late = max((e["published"] - e["due"] for e in in_window), default=0.0)
    published = {e["file"]: e["published"] for e in log}
    sizes = {e["file"]: e["n"] for e in log}

    def mean_backlog(a: float, b: float) -> float:
        n = 100  # evenly spaced samples
        return sum(backlog_at(a + (i + 0.5) * (b - a) / n, published,
                              sizes, committed) for i in range(n)) / n

    mid = (lo + hi) / 2
    growth = mean_backlog(mid, hi) - mean_backlog(lo, mid)
    rate = sum(e["n"] for e in in_window) / (hi - lo)
    growing = growth > rate * max_trigger_s / 2
    return {"lateness_max_s": late, "backlog_growth": growth,
            "backlog_growing": growing,
            "backlog_max": max((backlog_at(t, published, sizes, committed)
                                for t in starts), default=0),
            "valid": late < period_s / 2 and not growing}


# ---------------------------------------------------------- event log

def _plan_nodes(info: dict):
    yield info
    for c in info.get("children", ()):
        yield from _plan_nodes(c)


def event_log_extras(log_dir: str) -> dict:
    """Per tagged query: shuffle bytes written, BroadcastExchange data
    sizes, and the task count of every stage.  Complements
    ``bench._parse_event_log`` (task/CPU time, tasks, stages) with the
    two figures it does not extract."""
    files = sorted(p for p in Path(log_dir).rglob("events_*") if p.is_file())
    stage_q: dict[int, str] = {}
    exec_q: dict[int, str] = {}
    bcast_ids: dict[int, set[int]] = {}
    accum: dict[int, dict[int, int]] = {}
    stages: dict[int, dict] = {}
    for f in files:
        with open(f, encoding="utf-8", errors="replace") as fh:
            for line in fh:
                if '"SparkListenerJobStart"' in line[:40]:
                    ev = json.loads(line)
                    desc = (ev.get("Properties") or {}).get(
                        "spark.job.description") or ""
                    if desc.startswith(TAG_PREFIX):
                        for sid in ev.get("Stage IDs", []):
                            stage_q.setdefault(sid, desc[len(TAG_PREFIX):])
                elif '"SparkListenerStageCompleted"' in line[:50]:
                    info = json.loads(line).get("Stage Info", {})
                    stages[info.get("Stage ID")] = info
                elif "SparkListenerSQLExecutionStart" in line[:90] or \
                        "SparkListenerSQLAdaptiveExecutionUpdate" in line[:90]:
                    ev = json.loads(line)
                    eid = ev["executionId"]
                    desc = ev.get("description") or ""
                    if desc.startswith(TAG_PREFIX):
                        exec_q[eid] = desc[len(TAG_PREFIX):]
                    ids = bcast_ids.setdefault(eid, set())
                    for node in _plan_nodes(ev.get("sparkPlanInfo", {})):
                        if node.get("nodeName") == "BroadcastExchange":
                            ids.update(m["accumulatorId"]
                                       for m in node.get("metrics", ())
                                       if m.get("name") == "data size")
                elif "SparkListenerDriverAccumUpdates" in line[:90]:
                    ev = json.loads(line)
                    acc = accum.setdefault(ev["executionId"], {})
                    for aid, v in ev.get("accumUpdates", ()):
                        acc[aid] = v
    out: dict[str, dict] = {}

    def entry(q: str) -> dict:
        return out.setdefault(q, {"shuffle_bytes": 0, "broadcast_bytes": [],
                                  "stage_tasks": []})

    for sid in sorted(stages):
        q = stage_q.get(sid)
        if q is None:
            continue
        info = stages[sid]
        d = entry(q)
        d["stage_tasks"].append(info.get("Number of Tasks", 0))
        for acc in info.get("Accumulables", ()):
            if acc.get("Name") == "internal.metrics.shuffle.write.bytesWritten":
                d["shuffle_bytes"] += int(acc.get("Value", 0))
    for eid, q in sorted(exec_q.items()):
        d = entry(q)
        vals = accum.get(eid, {})
        d["broadcast_bytes"].extend(
            int(vals[a]) for a in sorted(bcast_ids.get(eid, ())) if a in vals)
    return out
