"""End-to-end daemon entry (`__main__.py`): env-configured pipeline
run, wire-capture source, availableNow drain, parquet LWW sink."""

from __future__ import annotations

import json

import pytest

from level2_to_cassandra_spark.__main__ import main
from level2_to_cassandra_spark.streaming.sink import read_sink_latest


@pytest.fixture()
def capture_dir(tmp_path):
    d = tmp_path / "capture"
    d.mkdir()
    tick = {"symbol": "EURUSD", "bid": 1.09, "price": 1.1, "ask": 1.11,
            "time": 1700000000, "volume": 5, "type": "B"}
    book = [{"symbol": "EURUSD", "price": 1.1, "time": 1700000000,
             "volume": 3, "type": "BOOK_TYPE_BID"}]
    lines = [
        f"eurusd\tTICK\t{json.dumps(tick)}",
        f"eurusd\tBOOK\t{json.dumps(book)}",
        f"eurusd\tTICK\t{json.dumps(dict(tick, time=1700000060, type='S'))}",
    ]
    (d / "000.cap").write_text("".join(x + "\n" for x in lines))
    return d


def test_daemon_drains_wire_capture_to_sinks(
        spark, capture_dir, tmp_path, monkeypatch):
    out = tmp_path / "keyspace"
    monkeypatch.setenv("APP_MODE", "full")
    monkeypatch.setenv("KEYSPACE", str(out))
    monkeypatch.setenv("CHECKPOINT_DIR", str(tmp_path / "ckpt"))
    monkeypatch.delenv("API_ADDRESS", raising=False)

    rc = main(["--source", "wire", "--input", str(capture_dir), "--drain"])
    assert rc == 0

    ticks = read_sink_latest(spark, str(out), "tick")
    books = read_sink_latest(spark, str(out), "book")
    assert ticks.count() == 2  # one row per (symbol, time) after LWW
    assert books.count() == 1
    row = ticks.orderBy("time").collect()[-1]
    # stateful cumsum ran: second tick is a sell of volume 5
    assert row.cumsell == 5.0 and row.cumdelta == 0.0


def test_daemon_requires_input_for_bounded_sources(monkeypatch, tmp_path):
    monkeypatch.setenv("KEYSPACE", str(tmp_path / "k"))
    monkeypatch.delenv("L2C_INPUT", raising=False)
    assert main(["--source", "file", "--drain"]) == 2


def test_daemon_restart_recovers_state_from_checkpoint(
        spark, tmp_path, monkeypatch):
    """Kill-and-restart semantics: a second daemon run with the same
    checkpoint must (a) NOT reprocess the already-committed capture
    file and (b) resume the per-(symbol, day) cumsum from recovered
    state — the recovery story the reference lacks entirely (its
    in-memory HashMap dies with the process, main.rs:51-58)."""
    cap = tmp_path / "capture"
    cap.mkdir()
    out = tmp_path / "keyspace"
    monkeypatch.setenv("APP_MODE", "tick")
    monkeypatch.setenv("KEYSPACE", str(out))
    monkeypatch.setenv("CHECKPOINT_DIR", str(tmp_path / "ckpt"))
    monkeypatch.delenv("API_ADDRESS", raising=False)

    def tick(t, vol):
        return ("eurusd\tTICK\t" + json.dumps(
            {"symbol": "EURUSD", "bid": 1.0, "price": 1.1, "ask": 1.2,
             "time": t, "volume": vol, "type": "B"}) + "\n")

    (cap / "000.cap").write_text(tick(1700000000, 5))
    assert main(["--source", "wire", "--input", str(cap), "--drain"]) == 0
    (cap / "001.cap").write_text(tick(1700000060, 7))
    assert main(["--source", "wire", "--input", str(cap), "--drain"]) == 0

    raw = spark.read.parquet(f"{out}/tick")
    # one appended row per drain — file 000 was not reprocessed
    assert raw.count() == 2
    rows = {r.time.isoformat(): r.cumbuy
            for r in read_sink_latest(spark, str(out), "tick").collect()}
    # second run resumed the day's state: 5 then 5+7
    assert rows == {"2023-11-14T22:13:20": 5.0, "2023-11-14T22:14:20": 12.0}


def test_daemon_compact_mode(spark, tmp_path, monkeypatch):
    """`--compact` maintenance mode: folds both sink tables to their
    winning rows and exits 0 without needing a source; results stay
    reader-identical and the file sets shrink."""
    import glob

    from pyspark.sql import functions as F

    from level2_to_cassandra_spark.streaming.sink import (
        write_upsert_parquet,
    )

    out = tmp_path / "keyspace"
    monkeypatch.setenv("APP_MODE", "full")
    monkeypatch.setenv("KEYSPACE", str(out))
    for b in range(3):
        df = spark.createDataFrame(
            [("btcusd", "AAA", "2024-01-01 00:00:00", 1.0, 10 + b, b)],
            "topic string, symbol string, time string, price double, "
            "volume int, seq long",
        ).withColumn("time", F.to_timestamp("time"))
        write_upsert_parquet(df, str(out), "tick", batch_id=b)
    want = {
        (r.symbol, str(r.time), r.price): r.volume
        for r in read_sink_latest(spark, str(out), "tick").collect()
    }
    n_files = len(glob.glob(f"{out}/tick/**/*.parquet", recursive=True))
    assert main(["--compact"]) == 0       # book table absent → skipped
    got = {
        (r.symbol, str(r.time), r.price): r.volume
        for r in read_sink_latest(spark, str(out), "tick").collect()
    }
    assert got == want
    assert len(glob.glob(f"{out}/tick/**/*.parquet",
                         recursive=True)) < n_files
    # no shingle-df journal: the fold leaves the sink untouched
    assert not (out / "_shingle_df").exists()


def test_daemon_reconcile_clean_and_tampered(
        spark, capture_dir, tmp_path, monkeypatch):
    """--reconcile: a sink produced by draining the capture reconciles
    clean (rc 0, every key matched); after tampering (drop a key,
    mutate a payload, add a foreign row) the audit classifies each
    corruption and the daemon exits 1."""
    import pyspark.sql.functions as F

    from level2_to_cassandra_spark.streaming.pipeline import PipelineConfig
    from level2_to_cassandra_spark.streaming.reconcile import reconcile_sink

    out = tmp_path / "keyspace"
    monkeypatch.setenv("APP_MODE", "full")
    monkeypatch.setenv("KEYSPACE", str(out))
    monkeypatch.setenv("CHECKPOINT_DIR", str(tmp_path / "ckpt"))
    monkeypatch.delenv("API_ADDRESS", raising=False)

    assert main(["--source", "wire", "--input", str(capture_dir),
                 "--drain"]) == 0
    assert main(["--source", "wire", "--input", str(capture_dir),
                 "--reconcile"]) == 0

    # tamper with the tick table: drop one key, corrupt another's
    # payload, inject a foreign key
    cfg = PipelineConfig.from_env()
    tick = read_sink_latest(spark, str(out), "tick").collect()
    assert len(tick) == 2
    keep = [r.asDict() for r in sorted(tick, key=lambda r: r.time)]
    corrupted = dict(keep[0], volume=999)           # mismatch
    foreign = dict(keep[0], symbol="XXXYYY")        # extra
    rows = [corrupted, foreign]                     # keep[1] dropped → missing
    import shutil
    tick_dir = f"{out}/tick"
    shutil.rmtree(tick_dir)
    spark.createDataFrame(rows).write.parquet(tick_dir)

    r = reconcile_sink(spark, str(capture_dir), cfg, "tick", source="wire")
    assert not r["ok"]
    assert (r["missing"], r["extra"], r["mismatch"]) == (1, 1, 1)
    # book table untouched — still clean
    assert reconcile_sink(spark, str(capture_dir), cfg, "book",
                          source="wire")["ok"]
    assert main(["--source", "wire", "--input", str(capture_dir),
                 "--reconcile"]) == 1


def test_daemon_soak_ingest_compact_reconcile(
        spark, tmp_path, monkeypatch):
    """Reconcile-audit soak under live ingest (VERDICT r08 task #6):
    repeated drains interleaved with --compact maintenance runs — one
    of them with a drain landing new data MID-COMPACTION (between the
    fold's snapshot and its pointer flip, via the pre-flip hook) — must
    end with a clean audit: every captured key accounted for in the
    sink, rc 0, and the compaction flock created, enforced against a
    racing compact, and released on exit (the sentinel file itself
    persists by design)."""
    import json as _json
    import os

    import pytest as _pytest

    from level2_to_cassandra_spark.streaming.sink import (
        CompactionLockHeld,
        compact_sink,
    )

    cap = tmp_path / "capture"
    cap.mkdir()
    out = tmp_path / "keyspace"
    monkeypatch.setenv("APP_MODE", "full")
    monkeypatch.setenv("KEYSPACE", str(out))
    monkeypatch.setenv("CHECKPOINT_DIR", str(tmp_path / "ckpt"))
    monkeypatch.delenv("API_ADDRESS", raising=False)

    def write_batch(i):
        tick = {"symbol": "EURUSD", "bid": 1.0, "price": 1.1, "ask": 1.2,
                "time": 1700000000 + 60 * i, "volume": 5 + i, "type": "B"}
        book = [{"symbol": "EURUSD", "price": 1.1 + i,
                 "time": 1700000000 + 60 * i, "volume": 3,
                 "type": "BOOK_TYPE_BID"}]
        (cap / f"{i:03d}.cap").write_text(
            f"eurusd\tTICK\t{_json.dumps(tick)}\n"
            f"eurusd\tBOOK\t{_json.dumps(book)}\n"
        )

    drain = ["--source", "wire", "--input", str(cap), "--drain"]

    # micro-batches 0-1, then a maintenance compact, then more ingest
    write_batch(0)
    assert main(drain) == 0
    write_batch(1)
    assert main(drain) == 0
    assert main(["--compact"]) == 0
    write_batch(2)
    assert main(drain) == 0

    # compact WHILE ingest lands: the pre-flip hook runs a full drain
    # of a new capture file inside the compaction window and proves
    # the lock sentinel serializes a racing compact
    lock = os.path.join(str(out), "tick", "_COMPACT_LOCK")

    def ingest_mid_compact():
        assert os.path.exists(lock)
        with open(lock, encoding="ascii") as fh:
            assert f"pid {os.getpid()}" in fh.read()
        write_batch(3)
        assert main(drain) == 0
        with _pytest.raises(CompactionLockHeld, match="last recorded as pid"):
            compact_sink(spark, str(out), "tick")

    compact_sink(spark, str(out), "tick",
                 _test_hook_pre_flip=ingest_mid_compact)
    # the flock released on exit (the sentinel FILE persists by
    # design); proven by the follow-up compacts below succeeding

    # post-soak: one more ingest-and-compact cycle, then the audit —
    # all 4 batches' keys must reconcile clean against the capture
    write_batch(4)
    assert main(drain) == 0
    assert main(["--compact"]) == 0
    assert main(["--source", "wire", "--input", str(cap),
                 "--reconcile"]) == 0
    ticks = read_sink_latest(spark, str(out), "tick")
    assert ticks.count() == 5  # every batch's row survived every fold


def test_reconcile_time_bounds_scope_the_audit(
        spark, capture_dir, tmp_path, monkeypatch):
    """since/until push into both the replay and the sink scan: an
    audit scoped to a window that excludes a lost row reports clean,
    the full audit does not — the nightly partition-scoped pattern."""
    import datetime

    from level2_to_cassandra_spark.streaming.pipeline import PipelineConfig
    from level2_to_cassandra_spark.streaming.reconcile import reconcile_sink

    out = tmp_path / "keyspace"
    monkeypatch.setenv("APP_MODE", "tick")
    monkeypatch.setenv("KEYSPACE", str(out))
    monkeypatch.setenv("CHECKPOINT_DIR", str(tmp_path / "ckpt"))
    monkeypatch.delenv("API_ADDRESS", raising=False)
    assert main(["--source", "wire", "--input", str(capture_dir),
                 "--drain"]) == 0

    cfg = PipelineConfig.from_env()
    # drop the LATER tick (time=1700000060) from the sink
    import shutil
    rows = [r.asDict() for r in read_sink_latest(spark, str(out), "tick")
            .where("time = to_timestamp(1700000000)").collect()]
    shutil.rmtree(f"{out}/tick")
    spark.createDataFrame(rows).write.parquet(f"{out}/tick")

    cut = datetime.datetime(2023, 11, 14, 22, 14, 0)  # between the two ticks
    scoped = reconcile_sink(spark, str(capture_dir), cfg, "tick",
                            source="wire", until=cut)
    assert scoped["ok"] and scoped["matched"] == 1
    full = reconcile_sink(spark, str(capture_dir), cfg, "tick",
                          source="wire")
    assert not full["ok"] and full["missing"] == 1


def test_query_cli_runs_and_lists(capsys):
    """--query NAME runs a registered query against --sf-dir; --query
    list prints the registry; unknown names exit 2."""
    assert main(["--query", "list"]) == 0
    out = capsys.readouterr().out
    assert "q_agg_basic" in out and "q_window_cumulative" in out
    assert main(["--query", "q_agg_basic",
                 "--sf-dir", "/root/testdata/sf0.001"]) == 0
    out = capsys.readouterr().out
    assert "l_returnflag" in out
    assert main(["--query", "nope"]) == 2


def test_query_cli_explain(capsys):
    assert main(["--query", "q_join_broadcast", "--explain",
                 "--sf-dir", "/root/testdata/sf0.001"]) == 0
    out = capsys.readouterr().out
    assert "broadcast" in out.lower()


def test_metrics_report_cli(spark, capture_dir, tmp_path, monkeypatch,
                            capsys):
    """--metrics-report summarizes the audit table written by an
    APP_METRICS run (per table: deduped batches, rows, null keys,
    event-time span); exit 1 would flag null upsert keys."""
    out = tmp_path / "keyspace"
    monkeypatch.setenv("APP_MODE", "full")
    monkeypatch.setenv("KEYSPACE", str(out))
    monkeypatch.setenv("CHECKPOINT_DIR", str(tmp_path / "ckpt"))
    monkeypatch.setenv("APP_METRICS", "1")
    monkeypatch.delenv("API_ADDRESS", raising=False)
    assert main(["--source", "wire", "--input", str(capture_dir),
                 "--drain"]) == 0
    assert main(["--metrics-report"]) == 0
    rep = capsys.readouterr().out
    assert "metrics tick:" in rep and "rows=2" in rep
    assert "null_keys=0" in rep


def test_reconcile_cli_time_bounds(spark, capture_dir, tmp_path,
                                   monkeypatch):
    """--since/--until scope the CLI audit: after dropping the later
    tick from the sink, an --until cut before it reports clean while
    the unbounded audit exits 1."""
    import shutil

    out = tmp_path / "keyspace"
    monkeypatch.setenv("APP_MODE", "tick")
    monkeypatch.setenv("KEYSPACE", str(out))
    monkeypatch.setenv("CHECKPOINT_DIR", str(tmp_path / "ckpt"))
    monkeypatch.delenv("API_ADDRESS", raising=False)
    assert main(["--source", "wire", "--input", str(capture_dir),
                 "--drain"]) == 0
    rows = [r.asDict() for r in read_sink_latest(spark, str(out), "tick")
            .where("time = to_timestamp(1700000000)").collect()]
    shutil.rmtree(f"{out}/tick")
    spark.createDataFrame(rows).write.parquet(f"{out}/tick")

    base = ["--source", "wire", "--input", str(capture_dir), "--reconcile"]
    assert main(base + ["--until", "2023-11-14T22:14:00"]) == 0
    assert main(base) == 1


def test_reconcile_diff_classification_arithmetic(spark):
    """Randomized insurance for the diff classifier: for random keyed
    relations with random tampering, the four statuses must equal the
    set arithmetic computed driver-side (missing = E\\A, extra = A\\E,
    and payload comparison null-safe)."""
    import datetime as dt
    import random

    from level2_to_cassandra_spark.streaming.reconcile import reconcile_diff

    rng = random.Random(0xD1FF)
    base = dt.datetime(2024, 1, 1)
    for trial in range(3):
        keys = [(f"S{i}", base + dt.timedelta(minutes=i), float(i % 7))
                for i in range(30)]
        payload = {k: (rng.randint(1, 9),
                       rng.choice(["B", "S", None]))
                   for k in keys}
        expected_keys = set(rng.sample(keys, 24))
        actual_keys = set(rng.sample(keys, 24))
        both = expected_keys & actual_keys
        mismatched = set(rng.sample(sorted(both, key=str),
                                    min(5, len(both))))

        def rows(keyset, tamper):
            out = []
            for k in keyset:
                vol, typ = payload[k]
                if tamper and k in mismatched:
                    vol += 100
                out.append((k[0], k[1], k[2], vol, typ))
            return spark.createDataFrame(
                out, "symbol string, time timestamp, price double, "
                     "volume long, trade_type string")

        diff = reconcile_diff(rows(expected_keys, False),
                              rows(actual_keys, True))
        counts = {}
        for r in diff.collect():
            counts[r["status"]] = counts.get(r["status"], 0) + 1
        assert counts.get("missing", 0) == len(expected_keys - actual_keys)
        assert counts.get("extra", 0) == len(actual_keys - expected_keys)
        assert counts.get("mismatch", 0) == len(mismatched)
        assert counts.get("matched", 0) == len(both) - len(mismatched)


def test_daemon_compact_folds_shingle_df_journal(
        spark, tmp_path, monkeypatch):
    """`--compact` also folds the shingle-df monitor journal (r14):
    the maintenance window is exactly the quiescence the fold's VACUUM
    contract requires.  Hot-set observations must be identical before
    and after, and a second --compact is a journal no-op."""
    from pyspark.sql import functions as F

    from level2_to_cassandra_spark.streaming.monitor import (
        gate_chain,
        read_hot_shingles,
        shingle_df_step,
    )
    from level2_to_cassandra_spark.streaming.sink import (
        write_upsert_parquet,
    )

    out = tmp_path / "keyspace"
    monkeypatch.setenv("APP_MODE", "full")
    monkeypatch.setenv("KEYSPACE", str(out))
    # one sink table so the sink-compaction leg has something to fold
    df = spark.createDataFrame(
        [("btcusd", "AAA", "2024-01-01 00:00:00", 1.0, 10, 0)],
        "topic string, symbol string, time string, price double, "
        "volume int, seq long",
    ).withColumn("time", F.to_timestamp("time"))
    write_upsert_parquet(df, str(out), "tick", batch_id=0)
    # a shingle-df journal beside it, two delivered batches
    cb = gate_chain(lambda d, b: None, shingle_df_step(str(out)))
    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta") for i in range(6)],
        "doc_id long, text string",
    )
    cb(docs.where(F.col("doc_id") < 3), 0)
    cb(docs.where(F.col("doc_id") >= 3), 1)
    before = {r.g3 for r in read_hot_shingles(spark, str(out)).collect()}
    assert before  # 6 docs share every 3-gram → corpus-hot

    assert main(["--compact"]) == 0
    after = {r.g3 for r in read_hot_shingles(spark, str(out)).collect()}
    assert after == before
    # the raw journal is reclaimed; a second maintenance run no-ops
    import glob as globmod
    assert not globmod.glob(f"{out}/_shingle_df/dfs/*.parquet")
    assert main(["--compact"]) == 0
