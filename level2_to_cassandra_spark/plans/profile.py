"""Per-query figures from a Spark event log: stages, jobs and
BroadcastExchange sizes, for runs without a Spark UI.

A query is a job-description tag: every job whose
``spark.job.description`` is ``<prefix><tag>`` belongs to ``tag``, and
so do its stages and the SQL executions started under it.  Write the
log with :func:`event_log_conf`, stop the session to flush it, then
read it with :func:`read_event_log`.
"""

from __future__ import annotations

import json
import re
from pathlib import Path

_SQL_UI = "org.apache.spark.sql.execution.ui."
#: The five event kinds read.  A line is chosen by its prefix, so the
#: task-end lines that make up most of a log are never JSON-parsed.
_PREFIXES = tuple(f'{{"Event":"{kind}"' for kind in (
    "SparkListenerJobStart",
    "SparkListenerStageCompleted",
    _SQL_UI + "SparkListenerSQLExecutionStart",
    _SQL_UI + "SparkListenerSQLAdaptiveExecutionUpdate",
    _SQL_UI + "SparkListenerDriverAccumUpdates",
))
#: Stage accumulable → stage-record key.
_STAGE_METRICS = {
    "internal.metrics.executorRunTime": "run_ms",
    "internal.metrics.executorCpuTime": "cpu_ns",
    "internal.metrics.shuffle.read.totalBytesRead": "shuffle_read_bytes",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.shuffle.read.fetchWaitTime": "fetch_wait_ms",
    "internal.metrics.input.recordsRead": "records_in",
}


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Session settings that write an uncompressed event log under
    ``log_dir``, the form :func:`read_event_log` reads."""
    return {"spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": f"file://{log_dir}"}


def _log_order(path: Path) -> tuple:
    # Spark 4 rolls its log into <dir>/eventlog_v2_<app>/events_<n>_<app>:
    # read each application's files by n, not by name or listing order.
    m = re.match(r"events_(\d+)_", path.name)
    return str(path.parent), int(m.group(1)) if m else 0, path.name


def _events(log_dir: str):
    files = sorted((p for p in Path(log_dir).rglob("events_*")
                    if p.is_file()), key=_log_order)
    for path in files:
        with open(path, encoding="utf-8", errors="replace") as fh:
            for line in fh:
                if line.startswith(_PREFIXES):
                    yield json.loads(line)


def _plan_nodes(info: dict):
    yield info
    for child in info.get("children", ()):
        yield from _plan_nodes(child)


def _stage_record(info: dict) -> dict:
    rec = dict.fromkeys(_STAGE_METRICS.values(), 0)
    for acc in info.get("Accumulables", ()):
        key = _STAGE_METRICS.get(acc.get("Name"))
        if key is not None:
            rec[key] = int(acc.get("Value", 0))
    start, end = info.get("Submission Time"), info.get("Completion Time")
    rec.update(tasks=info.get("Number of Tasks", 0),
               name=info.get("Stage Name", ""),
               wall_ms=end - start if start and end else None)
    return rec


def read_event_log(log_dir: str, prefix: str) -> dict[str, dict]:
    """``{tag: {"jobs": n, "stages": {stage_id: record},
    "broadcast_bytes": [...]}}`` for every tag under ``prefix`` in the
    event log at ``log_dir``.

    A stage record holds ``tasks``, ``name``, ``wall_ms``, ``run_ms``,
    ``cpu_ns``, ``shuffle_read_bytes``, ``shuffle_write_bytes``,
    ``fetch_wait_ms`` and ``records_in``; ``stages`` is in completion
    order, and a stage that completes again (a retried attempt) is
    counted at its first completion only.  ``broadcast_bytes`` holds
    the ``data size`` of each BroadcastExchange in the tag's SQL
    executions, in execution order, a reused exchange once.  All
    events are read before any is attributed, so a job that starts in
    a later log file still claims its stages."""
    jobs: dict[str, int] = {}
    stage_tag: dict[int, str] = {}
    completed: dict[int, dict] = {}
    exec_tag: dict[int, str] = {}
    bcast_accums: dict[int, set[int]] = {}
    accums: dict[int, dict[int, int]] = {}
    for ev in _events(log_dir):
        kind = ev["Event"].rsplit(".", 1)[-1]
        if kind == "SparkListenerJobStart":
            desc = (ev.get("Properties") or {}).get(
                "spark.job.description") or ""
            if desc.startswith(prefix):
                tag = desc[len(prefix):]
                jobs[tag] = jobs.get(tag, 0) + 1
                for sid in ev.get("Stage IDs", ()):
                    stage_tag.setdefault(sid, tag)
        elif kind == "SparkListenerStageCompleted":
            info = ev.get("Stage Info", {})
            completed.setdefault(info.get("Stage ID"), info)
        elif kind == "SparkListenerDriverAccumUpdates":
            accums.setdefault(ev["executionId"], {}).update(
                (aid, v) for aid, v in ev.get("accumUpdates", ()))
        else:  # an SQL execution's start or adaptive re-plan
            eid = ev["executionId"]
            desc = ev.get("description") or ""
            if desc.startswith(prefix):
                exec_tag[eid] = desc[len(prefix):]
            bcast_accums.setdefault(eid, set()).update(
                m["accumulatorId"]
                for node in _plan_nodes(ev.get("sparkPlanInfo", {}))
                if node.get("nodeName") == "BroadcastExchange"
                for m in node.get("metrics", ())
                if m.get("name") == "data size")

    out: dict[str, dict] = {}

    def entry(tag: str) -> dict:
        return out.setdefault(tag, {"jobs": jobs.get(tag, 0), "stages": {},
                                    "broadcast_bytes": []})

    for sid, info in completed.items():
        if sid in stage_tag:
            entry(stage_tag[sid])["stages"][sid] = _stage_record(info)
    for eid, tag in sorted(exec_tag.items()):
        values = accums.get(eid, {})
        entry(tag)["broadcast_bytes"].extend(
            int(values[a]) for a in sorted(bcast_accums[eid]) if a in values)
    for tag in jobs:
        entry(tag)
    return out
