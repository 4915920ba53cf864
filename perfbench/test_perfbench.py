"""Self-tests of the benchmark's own logic; no Spark session needed.

Run from the repository root: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import json
import signal
import subprocess
import sys
import time
from datetime import datetime, timezone
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE), str(HERE.parent)]

import gen  # noqa: E402
import ingest  # noqa: E402
import measure  # noqa: E402

RECORDED_LOG = HERE / "testdata" / "eventlog"


def _progress(batch: int, start: float, dur_ms: int, rows: int,
              lo: int | None, hi: int) -> dict:
    ts = datetime.fromtimestamp(start, timezone.utc)
    return {
        "batchId": batch,
        "timestamp": ts.isoformat(timespec="milliseconds").replace(
            "+00:00", "Z"),
        "numInputRows": rows,
        "durationMs": {"triggerExecution": dur_ms},
        "sources": [{"startOffset": None if lo is None else {"logOffset": lo},
                     "endOffset": {"logOffset": hi}}],
    }


def test_trigger_end_is_start_plus_trigger_execution():
    p = _progress(0, 1_700_000_000.25, 1500, 10, None, 0)
    assert measure.trigger_end(p) == pytest.approx(1_700_000_001.75)


def test_file_batches_maps_log_offsets_through_data_triggers():
    # offsets 0..2; trigger 1 is a no-data trigger, so query trigger
    # ids run ahead of the source's log offsets
    progress = [
        _progress(0, 100.0, 1000, 5, None, 0),
        _progress(1, 101.0, 200, 0, 0, 0),
        _progress(2, 102.0, 1000, 9, 0, 2),
    ]
    offsets = {"a": 0, "b": 1, "c": 2, "d": 3}
    assert measure.file_batches(offsets, progress) == {"a": 0, "b": 2,
                                                       "c": 2}


def test_freshness_join_weights_messages_and_skips_uncommitted():
    published = {"f0": 10.0, "f1": 10.5, "f2": 11.0}
    counts = {"f0": {"book": 1, "tick": 3}, "f1": {"book": 0, "tick": 2},
              "f2": {"book": 2, "tick": 2}}
    batch_of = {"book": {"f0": 0, "f2": 1},
                "tick": {"f0": 0, "f1": 1, "f2": 1}}
    end_of = {"book": {0: 12.0, 1: 14.0}, "tick": {0: 13.0}}
    got = sorted(measure.freshness(published, counts, batch_of, end_of))
    # f0: book 1 x 2.0, tick 3 x 3.0; tick batch 1 never committed;
    # f2's book rows commit at 14.0 -> 3.0 each
    assert got == [2.0, 3.0, 3.0, 3.0, 3.0, 3.0]


def test_backlog_counts_published_files_not_yet_committed():
    published = {"f0": 0.0, "f1": 0.5, "f2": 1.0, "f3": 1.5}
    sizes = dict.fromkeys(published, 10)
    committed = {"f0": 1.1, "f1": 2.0, "f2": 2.0}  # f3 never commits
    at = [measure.backlog_at(t, published, sizes, committed)
          for t in (0.1, 1.2, 1.6, 2.5)]
    assert at == [10, 20, 30, 10]


def _publish_log(n_files: int, period: float, late_s: float = 0.0,
                 late_at: int = -1) -> list[dict]:
    return [{"file": f"f{i}", "due": i * period,
             "published": i * period + (late_s if i == late_at else 0.01),
             "n": 100} for i in range(n_files)]


def test_live_window_is_valid_when_the_daemon_keeps_up():
    log = _publish_log(40, 0.5)
    # one 2 s trigger after another, each taking what was published
    # before it started
    committed = {e["file"]: (e["published"] // 2.0 + 2) * 2.0 for e in log}
    got = measure.live_window_check(log, committed, [6.0, 8.0], 5.0, 15.0,
                                    0.5, 2.0)
    assert got["valid"] and not got["backlog_growing"]
    assert got["lateness_max_s"] == pytest.approx(0.01)
    # a trigger starting at 6 s takes the four files published from 4 s
    assert got["backlog_max"] == 400


def test_live_window_is_invalid_when_the_publisher_runs_late():
    log = _publish_log(40, 0.5, late_s=0.3, late_at=12)
    committed = {e["file"]: (e["published"] // 2.0 + 2) * 2.0 for e in log}
    got = measure.live_window_check(log, committed, [], 5.0, 15.0, 0.5,
                                    2.0)
    assert got["lateness_max_s"] == pytest.approx(0.3)
    assert not got["valid"] and not got["backlog_growing"]


def test_live_window_is_invalid_when_the_backlog_grows():
    log = _publish_log(40, 0.5)
    # the daemon commits one file per second against two published
    committed = {e["file"]: 1.0 + i for i, e in enumerate(log)}
    got = measure.live_window_check(log, committed, [], 5.0, 15.0, 0.5,
                                    1.0)
    assert got["backlog_growth"] > 0
    assert got["backlog_growing"] and not got["valid"]


@pytest.mark.parametrize("n,p", [(10, None), (19, None), (20, 50.0),
                                 (99, 50.0), (100, 90.0), (1000, 99.0),
                                 (9999, 99.0), (10_000, 99.9)])
def test_highest_supported_percentile_keeps_ten_samples_beyond(n, p):
    assert measure.highest_supported(n) == p


def test_percentile_is_nearest_rank_and_summary_reports_count():
    xs = list(range(1, 101))
    assert measure.percentile(xs, 50) == 50
    assert measure.percentile(xs, 90) == 90
    assert measure.percentile([7.0], 99) == 7.0
    s = measure.summarize(xs, "s")
    assert s == {"unit": "s", "n": 100, "p50": 50.5, "p90": 90.0}
    assert "p90" not in measure.summarize(range(30), "s")


def test_event_log_extras_on_recorded_log():
    extras = measure.event_log_extras(str(RECORDED_LOG))
    assert set(extras) == {"q_sketch_error"}
    q = extras["q_sketch_error"]
    # every BroadcastExchange of the execution, a reused one once
    assert len(q["broadcast_bytes"]) == 8
    assert max(q["broadcast_bytes"]) == 17_825_776
    assert q["shuffle_bytes"] > 0
    assert len(q["stage_tasks"]) == 14 and sum(q["stage_tasks"]) == 45


def test_bench_parser_and_extras_agree_on_stages():
    import bench

    base = bench._parse_event_log(str(RECORDED_LOG))["q_sketch_error"]
    extras = measure.event_log_extras(str(RECORDED_LOG))["q_sketch_error"]
    assert base["n_stages"] == len(extras["stage_tasks"])
    assert base["n_tasks"] == sum(extras["stage_tasks"])


def test_source_log_offsets_reads_batches_and_compactions(tmp_path):
    (tmp_path / "0").write_text(
        'v1\n{"path":"file:///x/part-00000.json","batchId":0}\n')
    (tmp_path / "1.compact").write_text(
        'v1\n{"path":"file:///x/part-00000.json","batchId":0}\n'
        '{"path":"file:///x/part-00001.json","batchId":1}\n')
    (tmp_path / ".0.crc").write_bytes(b"\x00")
    assert measure.source_log_offsets(str(tmp_path)) == {
        "part-00000.json": 0, "part-00001.json": 1}


def test_generator_is_seeded_and_shaped():
    a = gen.messages(5, 2000)
    assert a == gen.messages(5, 2000)
    assert a != gen.messages(6, 2000)
    assert [m.seq for m in a] == list(range(2000))
    assert all(x.time <= y.time for x, y in zip(a, a[1:]))
    assert a[-1].time - a[0].time > 86400 - 100
    books = sum(m.kind == "BOOK" for m in a)
    assert 120 < books < 280
    for m in a:
        json.loads(m.envelope())
        if m.kind == "BOOK" and m.levels:
            prices = [p for p, _, _ in m.levels]
            assert len(set(prices)) == len(prices) == gen.BOOK_LEVELS


def test_publish_is_write_then_rename_with_rising_mtimes(tmp_path):
    chunks = gen.split(gen.messages(1, 30), 3)
    gen.write_capture(str(tmp_path), chunks)
    files = sorted(tmp_path.iterdir())
    assert [f.name for f in files] == [gen.file_name(i) for i in range(3)]
    mtimes = [f.stat().st_mtime_ns for f in files]
    assert mtimes == sorted(set(mtimes))
    assert sum(len(f.read_text().splitlines()) for f in files) == 30


def test_publisher_logs_each_file_and_stops_on_sigterm(tmp_path):
    log = tmp_path / "log.jsonl"
    src = tmp_path / "src"
    src.mkdir()
    pub = subprocess.Popen(
        [sys.executable, str(HERE / "gen.py"), "publish", "--dir", str(src),
         "--log", str(log), "--seed", "3", "--files", "1000",
         "--per-file", "5", "--period", "0.02"])
    try:
        deadline = time.time() + 30
        while len(list(src.glob("part-*"))) < 5 and time.time() < deadline:
            time.sleep(0.01)
        pub.send_signal(signal.SIGTERM)
        assert pub.wait(timeout=10) == 0
    finally:
        if pub.poll() is None:
            pub.kill()
            pub.wait()
    entries = gen.read_log(str(log))
    files = sorted(src.iterdir())
    assert 5 <= len(entries) < 1000
    assert [e["file"] for e in entries] == [f.name for f in files]
    assert all(e["published"] >= e["due"] for e in entries)
    chunks = gen.live_chunks(3, 1000, 5)
    assert files[0].read_text() == "\n".join(
        m.envelope() for m in chunks[0]) + "\n"


def test_read_model_applies_last_write_wins_and_daily_running_sums():
    m = gen.Msg
    msgs = [
        m(0, "TICK", "S1", 86399, (0.99, 1.0, 1.01, 5, "B")),
        m(1, "TICK", "S1", 86399, (0.99, 1.0, 1.01, 7, "S")),
        m(2, "TICK", "S1", 86400, (1.99, 2.0, 2.01, 3, "B")),
        m(3, "TICK", "S2", 86400, (0.99, 1.0, 1.01, 9, "B")),
        m(4, "TICK", "S1", 86401, None),
    ]
    assert ingest.expected_rows(msgs, "tick", "S1", 0, 10**6) == [
        (86399, 1.0, 0.99, 1.01, 7, "S", 5, 7, -2),
        (86400, 2.0, 1.99, 2.01, 3, "B", 3, 0, 3),
    ]
