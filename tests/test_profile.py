"""The measurement core: the package's event-log reader, bench.py's fold
over it, and bench.py's checks that run before any session starts."""

from __future__ import annotations

import importlib.util
import json
from pathlib import Path

import pytest

import bench
from level2_to_cassandra_spark.plans.profile import read_event_log

REPO = Path(__file__).resolve().parent.parent
RECORDED_LOG = str(REPO / "perfbench" / "testdata" / "eventlog")


def _perfbench_measure():
    """perfbench's own event-log reader, kept frozen with the benchmark
    and loaded by path (perfbench is not a package)."""
    spec = importlib.util.spec_from_file_location(
        "perfbench_measure", REPO / "perfbench" / "measure.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_bench_fold_reproduces_recorded_figures():
    assert bench._parse_event_log(RECORDED_LOG) == {"q_sketch_error": {
        "task_time_sec": 3.665, "cpu_time_sec": 1.094,
        "n_tasks": 45, "n_stages": 14}}


def test_reader_agrees_with_perfbench_extras():
    rec = read_event_log(RECORDED_LOG, "bench:")["q_sketch_error"]
    extras = _perfbench_measure().event_log_extras(RECORDED_LOG)
    want = extras["q_sketch_error"]
    assert set(extras) == {"q_sketch_error"}
    assert rec["jobs"] == 14
    assert rec["broadcast_bytes"] == want["broadcast_bytes"]
    assert len(rec["broadcast_bytes"]) == 8
    assert max(rec["broadcast_bytes"]) == 17_825_776
    stages = rec["stages"]
    assert [stages[sid]["tasks"] for sid in sorted(stages)] == \
        want["stage_tasks"]
    assert len(stages) == 14
    shuffle = sum(s["shuffle_write_bytes"] for s in stages.values())
    assert shuffle == want["shuffle_bytes"] == 8_344


def test_stage_completed_twice_across_files_counts_once(tmp_path):
    # A rolling log built from the recorded log's first job: its stage's
    # first completion is in events_9; the job start and a retried
    # completion are in events_10, which sorts first by name.  The
    # task-end line is not JSON: only the five event kinds read are
    # parsed.
    job, done = (Path(RECORDED_LOG) / "events_1_recorded").read_text(
        ).splitlines()[:2]
    again = json.loads(done)
    again["Stage Info"]["Number of Tasks"] = 9
    app = tmp_path / "eventlog_v2_app"
    app.mkdir()
    (app / "events_9_app").write_text(
        done + '\n{"Event":"SparkListenerTaskEnd", not json\n')
    (app / "events_10_app").write_text(
        f"{job}\n{json.dumps(again, separators=(',', ':'))}\n")
    rec = read_event_log(str(tmp_path), "bench:")
    assert list(rec) == ["q_sketch_error"]
    assert rec["q_sketch_error"]["jobs"] == 1
    assert list(rec["q_sketch_error"]["stages"]) == [19]
    stage = rec["q_sketch_error"]["stages"][19]
    assert (stage["tasks"], stage["run_ms"], stage["cpu_ns"]) == \
        (1, 7, 2_271_635)
    assert bench._parse_event_log(str(tmp_path)) == {"q_sketch_error": {
        "task_time_sec": 0.007, "cpu_time_sec": 0.002,
        "n_tasks": 1, "n_stages": 1}}


@pytest.mark.parametrize("reps", ["0", "x", "-2"])
def test_bench_rejects_bad_rep_count_before_session(monkeypatch, reps):
    from level2_to_cassandra_spark import session

    def no_session(*args, **kwargs):
        raise AssertionError("a session was built")

    monkeypatch.setattr(session, "get_spark", no_session)
    monkeypatch.setenv("SPARK_GRAFT_BENCH_REPS", reps)
    with pytest.raises(SystemExit) as exc:
        bench.main()
    assert exc.value.code not in (0, None)
    assert "SPARK_GRAFT_BENCH_REPS" in str(exc.value.code)
