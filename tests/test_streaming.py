"""Reference-parity streaming tests (SURVEY.md §5.2.3-4).

Micro-fixtures shaped exactly like the reference's wire format
(FIXTURES.md §2): BOOK = JSON array with BOOK_TYPE_ prefixes, TICK =
JSON object with B/S types, epoch-second times.  The batch pipeline is
the oracle for the streaming pipeline (identical transformations by
construction; the stateful cumsum is the part under real test).
"""

from __future__ import annotations

import json
import shutil

import pytest
from pyspark.sql import functions as F

from level2_to_cassandra_spark.sources import (
    file_envelope_batch,
    file_envelope_stream,
)
from level2_to_cassandra_spark.streaming import ingest
from level2_to_cassandra_spark.streaming.pipeline import (
    PipelineConfig,
    build_batch_pipeline,
    build_streaming_pipeline,
    tick_rows_batch,
    tick_rows_streaming,
)
from level2_to_cassandra_spark.streaming.sink import read_sink_latest

# Epoch seconds: 2024-01-01 00:00:00 UTC and +1 day.
DAY1 = 1704067200
DAY2 = DAY1 + 86400


def _tick(symbol, t, volume, ttype, price=100.0, bid=99.9, ask=100.1):
    return json.dumps(
        {"symbol": symbol, "bid": bid, "price": price, "ask": ask,
         "time": t, "volume": volume, "type": ttype}
    )


def _book(levels):
    return json.dumps(
        [
            {"symbol": s, "price": p, "time": t, "volume": v,
             "type": f"BOOK_TYPE_{side}"}
            for (s, p, t, v, side) in levels
        ]
    )


#: (file, topic, msg_type, payload) — two files so maxFilesPerTrigger=1
#: forces cross-micro-batch state carry-over.
def _fixture_messages():
    f1 = [
        ("btcusd", "TICK", _tick("AAA", DAY1 + 0, 10, "B")),
        ("btcusd", "TICK", _tick("AAA", DAY1 + 60, 4, "S")),
        ("btcusd", "TICK", _tick("BBB", DAY1 + 120, 7, "B")),
        ("btcusd", "BOOK", _book([
            ("AAA", 100.5, DAY1, 3, "BID"),
            ("AAA", 100.6, DAY1, 5, "ASK"),
        ])),
        ("ethusd", "BOOK", _book([("CCC", 42.0, DAY1, 9, "BID")])),
        ("btcusd", "HEARTBEAT", "{}"),          # unknown tag → dropped
        ("btcusd", "TICK", "{not json"),        # malformed → isolated
        ("btcusd", "BOOK", "[{bad"),            # malformed → isolated
    ]
    f2 = [
        ("btcusd", "TICK", _tick("AAA", DAY2 + 0, 1, "B")),   # day rollover
        ("btcusd", "TICK", _tick("BBB", DAY2 + 60, 2, "S")),
        ("btcusd", "TICK", _tick("AAA", DAY1 + 180, 6, "X")),  # unknown type
        # duplicate upsert key (AAA, DAY2+120, 55.0): LWW keeps vol 21
        ("btcusd", "TICK", _tick("AAA", DAY2 + 120, 20, "B", price=55.0)),
        ("btcusd", "TICK", _tick("AAA", DAY2 + 120, 21, "B", price=55.0)),
    ]
    return f1, f2


@pytest.fixture()
def fixture_dir(tmp_path):
    import os
    import time as _time

    d = tmp_path / "wire"
    d.mkdir()
    seq = 0
    now = _time.time()
    for i, msgs in enumerate(_fixture_messages()):
        lines = []
        for topic, mt, payload in msgs:
            lines.append(json.dumps(
                {"topic": topic, "msg_type": mt, "payload": payload,
                 "seq": seq}))
            seq += 1
        p = d / f"part-{i:03d}.jsonl"
        p.write_text("\n".join(lines))
        # FileStreamSource orders micro-batches by modification time;
        # pin distinct mtimes so file i arrives strictly before i+1.
        os.utime(p, (now + i * 10, now + i * 10))
    return str(d)


def test_book_flatten_and_prefix_strip(spark, fixture_dir):
    env = file_envelope_batch(spark, fixture_dir)
    cfg = PipelineConfig(mode="book", out_path="", checkpoint="")
    out = build_batch_pipeline(env, cfg)["book"]
    rows = {(r.symbol, r.price): r for r in out.collect()}
    assert len(rows) == 3  # 2 btcusd levels + 1 ethusd level
    assert rows[("AAA", 100.5)].order_type == "BID"      # prefix stripped
    assert rows[("AAA", 100.6)].order_type == "ASK"
    assert rows[("CCC", 42.0)].topic == "ethusd"
    # epoch seconds decoded as proper UTC timestamp (§1.4 quirk 1)
    assert str(rows[("AAA", 100.5)].time) == "2024-01-01 00:00:00"


def test_demux_drops_unknown_and_counts(spark, fixture_dir):
    env = file_envelope_batch(spark, fixture_dir)
    book, tick, other = ingest.demux(env)
    assert other.count() == 1  # HEARTBEAT
    assert other.first().msg_type == "HEARTBEAT"


def test_malformed_payloads_isolated(spark, fixture_dir):
    env = file_envelope_batch(spark, fixture_dir)
    book_raw, tick_raw, _ = ingest.demux(env)
    bad_ticks = ingest.dead_letters(tick_raw, ingest.TICK)
    bad_books = ingest.dead_letters(book_raw, ingest.BOOK)
    assert bad_ticks.count() == 1
    assert bad_books.count() == 1
    # good rows survive: 9 tick-tagged messages - 1 malformed = 8 parsed
    assert ingest.parse_tick(tick_raw).count() == 8


def test_daily_reset_multi_symbol_cumsum(spark, fixture_dir):
    """Hand-computed expectations for the reference's core semantics:
    per-symbol state, B adds to cumbuy, S to cumsell, other types
    leave state untouched but still emit, day rollover resets."""
    env = file_envelope_batch(spark, fixture_dir)
    cfg = PipelineConfig(mode="tick", out_path="", checkpoint="")
    out = tick_rows_batch(env, cfg)
    got = {
        (r.symbol, str(r.day), int(r["seq"])): (r.cumbuy, r.cumsell, r.cumdelta)
        for r in out.withColumn("day", F.to_date("time")).collect()
    }
    expect = {
        ("AAA", "2024-01-01", 0): (10, 0, 10),
        ("AAA", "2024-01-01", 1): (10, 4, 6),
        ("BBB", "2024-01-01", 2): (7, 0, 7),
        ("AAA", "2024-01-02", 8): (1, 0, 1),    # reset on rollover
        ("BBB", "2024-01-02", 9): (0, 2, -2),   # independent per symbol
        ("AAA", "2024-01-01", 10): (10, 4, 6),  # unknown type: no change
        ("AAA", "2024-01-02", 11): (21, 0, 21),
        ("AAA", "2024-01-02", 12): (42, 0, 42),
    }
    assert got == expect


def test_arrival_order_invariance(spark, fixture_dir, tmp_path):
    """Same messages, shuffled across files → identical batch results
    (the determinism fix for SURVEY.md §1.4 quirk 2)."""
    import random

    env1 = file_envelope_batch(spark, fixture_dir)
    cfg = PipelineConfig(mode="tick", out_path="", checkpoint="")
    ref = sorted(
        (r.symbol, str(r.time), r["seq"], r.cumbuy, r.cumsell, r.cumdelta)
        for r in tick_rows_batch(env1, cfg).collect()
    )

    lines = []
    for f in sorted(__import__("pathlib").Path(fixture_dir).glob("*.jsonl")):
        lines += f.read_text().splitlines()
    random.Random(7).shuffle(lines)
    d2 = tmp_path / "shuffled"
    d2.mkdir()
    (d2 / "part-a.jsonl").write_text("\n".join(lines[: len(lines) // 2]))
    (d2 / "part-b.jsonl").write_text("\n".join(lines[len(lines) // 2:]))

    env2 = file_envelope_batch(spark, str(d2))
    got = sorted(
        (r.symbol, str(r.time), r["seq"], r.cumbuy, r.cumsell, r.cumdelta)
        for r in tick_rows_batch(env2, cfg).collect()
    )
    assert got == ref


def test_available_now_drain_terminates(spark, fixture_dir, tmp_path):
    """A bounded availableNow drain must actually TERMINATE, not idle
    in empty micro-batches (a stateful tick query with a processing-time
    timeout armed would wait on timeouts hours away)."""
    import time

    cfg = PipelineConfig(mode="full", out_path=str(tmp_path / "sink"),
                         checkpoint=str(tmp_path / "ckpt"))
    queries = build_streaming_pipeline(
        file_envelope_stream(spark, fixture_dir), cfg,
        trigger_available_now=True,
    )
    t0 = time.monotonic()
    for q in queries:
        assert q.awaitTermination(90), "drain did not terminate"
    assert time.monotonic() - t0 < 90
    assert not any(q.isActive for q in queries)


def test_stream_batch_parity_full_mode(spark, fixture_dir, tmp_path):
    """The streaming pipeline (stateful applyInPandasWithState cumsum,
    cross-micro-batch state, upsert sink) must produce exactly the
    batch pipeline's tables."""
    out_path = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    cfg = PipelineConfig(mode="full", out_path=out_path, checkpoint=ckpt)

    env_stream = file_envelope_stream(spark, fixture_dir,
                                      max_files_per_trigger=1)
    queries = build_streaming_pipeline(env_stream, cfg)
    for q in queries:
        assert q.awaitTermination(120), "stream did not finish within 120s"

    env_batch = file_envelope_batch(spark, fixture_dir)
    batch = build_batch_pipeline(env_batch, cfg)

    # --- tick table: compare full rows incl. cum columns ---
    def tick_key(r):
        return (r.symbol, str(r.time), float(r.price))

    got = {
        tick_key(r): (r.volume, r.trade_type, r.cumbuy, r.cumsell, r.cumdelta)
        for r in read_sink_latest(spark, out_path, "tick").collect()
    }
    want = {
        tick_key(r): (r.volume, r.trade_type, r.cumbuy, r.cumsell, r.cumdelta)
        for r in batch["tick"].collect()
    }
    assert got == want
    # LWW on the duplicate key kept the later write (vol 21 → cum 42)
    assert got[("AAA", "2024-01-02 00:02:00", 55.0)][0] == 21

    # --- book table ---
    got_b = {
        (r.symbol, str(r.time), float(r.price)): (r.volume, r.order_type, r.topic)
        for r in read_sink_latest(spark, out_path, "book").collect()
    }
    want_b = {
        (r.symbol, str(r.time), float(r.price)): (r.volume, r.order_type, r.topic)
        for r in batch["book"].collect()
    }
    assert got_b == want_b

    shutil.rmtree(out_path, ignore_errors=True)


def test_drop_duplicates_within_watermark(spark, fixture_dir, tmp_path):
    """Streaming keyed dedup (the upsert-key semantic, SURVEY A10):
    dropDuplicatesWithinWatermark on (symbol,time,price) collapses the
    duplicate-key ticks while the stream runs."""
    env = file_envelope_stream(spark, fixture_dir)
    _, tick_raw, _ = ingest.demux(env)
    ticks = ingest.parse_tick(tick_raw)
    deduped = ticks.withWatermark("time", "1 hour").dropDuplicatesWithinWatermark(
        ["symbol", "time", "price"]
    )
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_sink")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_dedup"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream did not finish within 120s"
    rows = spark.sql("SELECT * FROM dedup_sink").collect()
    keys = [(r.symbol, str(r.time), r.price) for r in rows]
    assert len(keys) == len(set(keys))          # no duplicate keys survive
    assert len(keys) == 7                       # 8 parsed ticks - 1 dup
    # exactly one row for the duplicated key remains
    assert keys.count(("AAA", "2024-01-02 00:02:00", 55.0)) == 1


def test_sink_file_layout_contract(spark, fixture_dir, tmp_path):
    """The parquet sink must materialize the reference's physical
    contract (main.rs:87-88): directory partition per topic."""
    from level2_to_cassandra_spark.streaming.sink import write_upsert_parquet
    import pathlib

    env = file_envelope_batch(spark, fixture_dir)
    cfg = PipelineConfig(mode="book", out_path="", checkpoint="")
    out = build_batch_pipeline(env, cfg)["book"]
    path = str(tmp_path / "layout")
    write_upsert_parquet(out, path, "book")
    topics = {
        p.name for p in pathlib.Path(path, "book").iterdir() if p.is_dir()
    }
    assert topics == {"topic=btcusd", "topic=ethusd"}
    # clustering time DESC (main.rs:87-88): newest first in every file
    import pyarrow.parquet as pq

    for f in pathlib.Path(path, "book").glob("topic=*/*.parquet"):
        times = pq.read_table(f).column("time").to_pylist()
        assert times == sorted(times, reverse=True), f


def test_observe_ingest_metrics_batch(spark, fixture_dir):
    """Drop/malformed accounting (SURVEY §1.4 quirk 5): observed
    metrics ride the plan, no second scan."""
    from pyspark.sql import Observation

    env = file_envelope_batch(spark, fixture_dir)
    obs = Observation("ingest")
    observed = ingest.observe_ingest(env, obs)
    cfg = PipelineConfig(mode="tick", out_path="", checkpoint="")
    tick_rows_batch(observed, cfg).collect()  # any action materializes
    m = obs.get
    assert m["n_messages"] == 13
    assert m["n_book"] == 3 and m["n_tick"] == 9
    assert m["n_unknown_dropped"] == 1     # the HEARTBEAT frame
    assert m["n_malformed_tick"] == 1      # the '{not json' payload


def test_observe_ingest_metrics_streaming(spark, fixture_dir, tmp_path):
    """Streaming metrics surface: observed counters appear in each
    StreamingQueryProgress (attached to the stateless book path — the
    envelope is shared, so the accounting covers all message types)."""
    from level2_to_cassandra_spark.streaming.pipeline import book_rows

    env = file_envelope_stream(spark, fixture_dir)
    observed = ingest.observe_ingest(env, "ingest_stream")
    cfg = PipelineConfig(mode="book", out_path="", checkpoint="")
    out = book_rows(observed, cfg)
    q = (
        out.writeStream.format("memory")
        .queryName("obs_sink")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "obs_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream did not finish within 120s"
    totals: dict[str, int] = {}
    for p in q.recentProgress:
        om = p["observedMetrics"].get("ingest_stream") if p["observedMetrics"] else None
        if om:
            for k in ("n_messages", "n_unknown_dropped", "n_malformed_tick"):
                totals[k] = totals.get(k, 0) + om[k]
    assert totals.get("n_messages") == 13
    assert totals.get("n_unknown_dropped") == 1
    assert totals.get("n_malformed_tick") == 1


def test_hot_key_running_sums_span_arrow_batches(spark, tmp_path):
    """One (symbol, day) key with more rows in a trigger than
    ``spark.sql.execution.arrow.maxRecordsPerBatch``: the tick
    callback's running sums must follow event time across the whole
    trigger, however the batch is chunked.  Arrival order is the
    reverse of event time, so summing chunk by chunk gives wrong
    values."""
    import os

    from level2_to_cassandra_spark.streaming.state import (
        foreach_batch_running_sums,
    )

    d = tmp_path / "hot"
    d.mkdir()
    lines = [
        json.dumps({"topic": "btcusd", "msg_type": "TICK", "seq": seq,
                    "payload": _tick("AAA", DAY1 + 60 * (30 - seq),
                                     seq + 1, "BS"[seq % 3 == 0])})
        for seq in range(30)
    ]
    (d / "part-000.jsonl").write_text("\n".join(lines))
    os.utime(d / "part-000.jsonl")
    cfg = PipelineConfig(mode="tick", out_path="", checkpoint="")
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    saved = spark.conf.get(key)
    spark.conf.set(key, "4")
    rows = []
    try:
        q = (
            tick_rows_streaming(file_envelope_stream(spark, str(d)), cfg,
                                state_ttl_hours=None)
            .writeStream.foreachBatch(foreach_batch_running_sums(
                lambda df, _: rows.extend(df.collect()),
                str(tmp_path / "hot_carry")))
            .option("checkpointLocation", str(tmp_path / "hot_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120), "stream did not finish within 120s"
    finally:
        spark.conf.set(key, saved)
    got = {
        int(r["seq"]): (r.cumbuy, r.cumsell, r.cumdelta)
        for r in rows
    }
    want = {
        int(r["seq"]): (r.cumbuy, r.cumsell, r.cumdelta)
        for r in tick_rows_batch(file_envelope_batch(spark, str(d)),
                                 cfg).collect()
    }
    assert len(want) == 30
    assert got == want


@pytest.mark.parametrize("ttl_hours", [None, 36])
def test_late_tick_continues_day_sums(spark, tmp_path, ttl_hours):
    """A tick 25 h behind the stream is neither dropped nor reset: it
    continues its (symbol, day) running sums exactly as the batch
    oracle computes them, whether or not the idle-key TTL is armed."""
    import os
    import time as _time

    from level2_to_cassandra_spark.streaming.sink import (
        foreach_batch_upsert,
    )
    from level2_to_cassandra_spark.streaming.state import (
        foreach_batch_running_sums,
    )

    d = tmp_path / "wire"
    d.mkdir()
    files = [
        [_tick("AAA", DAY1, 10, "B"), _tick("AAA", DAY1 + 60, 4, "S")],
        [_tick("AAA", DAY2 + 3600, 1, "B")],
        [_tick("AAA", DAY1 + 120, 5, "B")],   # late by 25 h
    ]
    now, seq = _time.time(), 0
    for i, ticks in enumerate(files):
        lines = []
        for payload in ticks:
            lines.append(json.dumps({"topic": "btcusd", "msg_type": "TICK",
                                     "payload": payload, "seq": seq}))
            seq += 1
        p = d / f"part-{i:03d}.jsonl"
        p.write_text("\n".join(lines))
        os.utime(p, (now + i * 10, now + i * 10))
    out = str(tmp_path / "sink")
    cfg = PipelineConfig(mode="tick", out_path=out, checkpoint="")
    q = (
        tick_rows_streaming(file_envelope_stream(
            spark, str(d), max_files_per_trigger=1), cfg)
        .writeStream.foreachBatch(foreach_batch_running_sums(
            foreach_batch_upsert(out, "tick"), str(tmp_path / "carry"),
            ttl_hours=ttl_hours))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream did not finish within 120s"
    assert q.lastProgress["batchId"] == 2

    def sums(df):
        return {int(r["seq"]): (r.cumbuy, r.cumsell, r.cumdelta)
                for r in df.collect()}

    got = sums(read_sink_latest(spark, out, "tick"))
    assert got == sums(tick_rows_batch(file_envelope_batch(spark, str(d)),
                                       cfg))
    assert got[3] == (15, 4, 11)


def _tick_batch(spark, rows):
    """Parsed ticks as the tick callback receives them, from
    (symbol, epoch s, volume, type, seq) rows."""
    import pandas as pd

    pdf = pd.DataFrame(rows, columns=["symbol", "t", "volume",
                                      "trade_type", "seq"])
    return spark.createDataFrame(
        pdf, "symbol string, t long, volume int, trade_type string, "
        "seq long",
    ).selectExpr(
        "'btcusd' AS topic", "seq", "symbol", "1.0 AS bid",
        "CAST(seq AS double) AS price", "1.1 AS ask",
        "timestamp_seconds(t) AS time", "volume", "trade_type",
        "to_date(timestamp_seconds(t)) AS day",
    )


def _carry_rows(carry_dir, batch_id):
    from level2_to_cassandra_spark.streaming.state import read_carry

    return sorted(
        (r["symbol"], str(r["day"]), r["cumbuy"], r["cumsell"])
        for r in read_carry(carry_dir, batch_id).to_pylist()
    )


def _write_carry_version(carry_dir, version, rows):
    """Write carry version ``version`` from (symbol, day, buy, sell,
    seen_ms) rows, bypassing the writer's pruning."""
    import datetime
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from level2_to_cassandra_spark.streaming.state import CARRY_SCHEMA

    os.makedirs(carry_dir, exist_ok=True)
    pq.write_table(pa.Table.from_pylist([
        {"symbol": s, "day": datetime.date.fromisoformat(d), "cumbuy": b,
         "cumsell": c, "seen_ms": ms} for s, d, b, c, ms in rows
    ], schema=CARRY_SCHEMA), f"{carry_dir}/{version}.parquet")


def test_tick_callback_replay_is_idempotent(spark, tmp_path):
    """A crash after the sink write and before the commit replays the
    micro-batch under the same id: the replay hands the sink the same
    rows (continuing the carry it read, not its own totals) and leaves
    the same sink table and the same carry."""
    from level2_to_cassandra_spark.streaming.sink import (
        foreach_batch_upsert,
    )
    from level2_to_cassandra_spark.streaming.state import (
        foreach_batch_running_sums,
    )

    carry, out = str(tmp_path / "carry"), str(tmp_path / "sink")
    _write_carry_version(carry, 4, [("AAA", "2024-01-01", 5, 3, 0)])
    write = foreach_batch_upsert(out, "tick")
    delivered = []

    def inner(df, batch_id):
        delivered.append(sorted(map(tuple, df.drop("time").collect())))
        write(df, batch_id)

    step = foreach_batch_running_sums(inner, carry)
    batch = _tick_batch(spark, [("AAA", DAY1 + 60, 2, "B", 0),
                                ("AAA", DAY1, 1, "S", 1),
                                ("BBB", DAY1, 7, "S", 2)])
    after = []
    for _ in range(2):
        step(batch, 5)
        after.append((
            sorted(map(tuple, read_sink_latest(spark, out, "tick")
                       .drop("time").collect())),
            _carry_rows(carry, 6),
        ))
    assert delivered[0] == delivered[1]
    assert after[0] == after[1]
    assert after[0][1] == [("AAA", "2024-01-01", 7, 4),
                           ("BBB", "2024-01-01", 0, 7)]
    assert {(r[1], r[2], r[-3:]) for r in delivered[0]} == {
        (0, "AAA", (7, 4, 3)), (1, "AAA", (5, 4, 1)),
        (2, "BBB", (0, 7, -7)),
    }


def test_tick_callback_drops_idle_keys(spark, tmp_path):
    """With the TTL armed, a (symbol, day) key idle past it leaves the
    carry before the join: its next tick starts from zero, while a
    recently seen key continues, and an idle key with no tick is not
    written back."""
    import time as _time

    from level2_to_cassandra_spark.streaming.state import (
        foreach_batch_running_sums,
    )

    carry = str(tmp_path / "carry")
    now_ms = _time.time_ns() // 1_000_000
    hour = 3_600_000
    _write_carry_version(carry, 0, [
        ("AAA", "2024-01-01", 5, 3, now_ms - 37 * hour),
        ("BBB", "2024-01-01", 2, 1, now_ms - hour),
        ("CCC", "2024-01-01", 9, 9, now_ms - 37 * hour),
    ])
    rows = []
    foreach_batch_running_sums(
        lambda df, _: rows.extend(df.collect()), carry, ttl_hours=36,
    )(_tick_batch(spark, [("AAA", DAY1, 2, "B", 0),
                          ("BBB", DAY1, 1, "S", 1)]), 1)
    assert {r.symbol: (r.cumbuy, r.cumsell) for r in rows} == {
        "AAA": (2, 0), "BBB": (2, 2)}
    assert _carry_rows(carry, 2) == [("AAA", "2024-01-01", 2, 0),
                                     ("BBB", "2024-01-01", 2, 2)]


def test_tick_callback_keeps_two_carry_versions(spark, tmp_path):
    """Writing version N keeps N and N-1 only: older versions go, and
    so does a stale version above N left by an earlier checkpoint."""
    import os

    from level2_to_cassandra_spark.streaming.state import (
        foreach_batch_running_sums,
    )

    carry = str(tmp_path / "carry")
    for v in (0, 1, 2, 3, 7):
        _write_carry_version(carry, v, [("AAA", "2024-01-01", v, 0, 0)])
    rows = []
    foreach_batch_running_sums(lambda df, _: rows.extend(df.collect()),
                               carry)(
        _tick_batch(spark, [("AAA", DAY1, 2, "B", 0)]), 4)
    assert [(r.cumbuy, r.cumsell) for r in rows] == [(5, 0)]
    assert sorted(os.listdir(carry)) == ["3.parquet", "4.parquet"]


def test_tick_callback_over_cassandra_sink_with_metrics(spark, monkeypatch,
                                                        tmp_path):
    """Under the APP_METRICS wrapper and the Cassandra sink (which
    caches its batch and runs one action per topic), the sink still
    receives the running sums, the audit row counts the batch and the
    carry receives the batch's totals."""
    from level2_to_cassandra_spark.streaming import sink as S
    from level2_to_cassandra_spark.streaming.monitor import (
        foreach_batch_with_metrics,
        read_metrics,
    )
    from level2_to_cassandra_spark.streaming.state import (
        foreach_batch_running_sums,
    )

    written = []
    monkeypatch.setattr(
        S, "write_upsert_cassandra",
        lambda df, ks, topic, suffix, connector=None: written.extend(
            df.select("seq", "cumbuy", "cumsell").collect()),
    )
    out, carry = str(tmp_path / "sink"), str(tmp_path / "carry")
    _write_carry_version(carry, 2, [("AAA", "2024-01-01", 5, 3, 0)])
    foreach_batch_with_metrics(
        foreach_batch_running_sums(S.foreach_batch_cassandra("ks", "tick"),
                                   carry),
        out, "tick",
    )(_tick_batch(spark, [("AAA", DAY1, 2, "B", 0),
                          ("AAA", DAY1 + 60, 4, "S", 1)]), 3)
    assert sorted(map(tuple, written)) == [(0, 7, 3), (1, 7, 7)]
    [m] = read_metrics(spark, out, "tick").collect()
    assert (m.batch_id, m.n_rows) == (3, 2)
    assert _carry_rows(carry, 4) == [("AAA", "2024-01-01", 7, 7)]


def test_rate_source_smoke(spark, tmp_path):
    """The rate envelope source emits valid TICK messages the full
    pipeline can parse — load-generation path stays wired."""
    from level2_to_cassandra_spark.sources import rate_envelope
    from level2_to_cassandra_spark.streaming.state import (
        foreach_batch_running_sums,
    )

    env = rate_envelope(spark, rows_per_second=50)
    _, tick_raw, _ = ingest.demux(env)
    ticks = ingest.parse_tick(tick_raw, extra_cols=("seq",))
    out = ticks.withColumn("day", F.to_date("time"))
    rows = []
    q = (
        out.writeStream.foreachBatch(foreach_batch_running_sums(
            lambda df, _: rows.extend(df.collect()),
            str(tmp_path / "rate_carry"), ttl_hours=36))
        .option("checkpointLocation", str(tmp_path / "rate_ckpt"))
        .start()
    )
    try:
        import time as _t

        # NB: processAllAvailable() never returns on an unbounded rate
        # source — poll the sink instead.
        deadline = _t.time() + 90
        n = 0
        while _t.time() < deadline:
            n = len(rows)
            if n >= 20:
                break
            _t.sleep(2)
        assert n >= 20
        row = rows[0]
        assert row.symbol.startswith("SYM")
        assert row.cumdelta == row.cumbuy - row.cumsell
    finally:
        q.stop()


def test_topic_prefix_filter(spark, fixture_dir):
    """ZMQ prefix subscription semantics (set_subscribe, main.rs:204)."""
    env = file_envelope_batch(spark, fixture_dir)
    cfg = PipelineConfig(mode="book", topic_filter="eth",
                         out_path="", checkpoint="")
    out = build_batch_pipeline(env, cfg)["book"]
    assert [r.topic for r in out.collect()] == ["ethusd"]


def test_cassandra_sink_topic_routing_bounded(spark, monkeypatch):
    """The per-batch driver collect in foreach_batch_cassandra is
    bounded by MAX_SINK_TOPICS (VERDICT r04 #6): routing loops over
    the few configured topics, and an unbounded/corrupt topic column
    raises instead of silently pulling unbounded rows to the driver."""
    import pytest as _pytest
    from level2_to_cassandra_spark.streaming import sink as S

    written = []
    monkeypatch.setattr(
        S, "write_upsert_cassandra",
        lambda df, ks, topic, suffix, connector=None: written.append(topic),
    )

    def batch(n_topics):
        return spark.range(n_topics).selectExpr(
            "concat('t', id) AS topic", "'BTC' AS symbol",
            "CAST(id AS double) AS time", "1.0 AS price", "id AS seq",
        )

    cb = S.foreach_batch_cassandra("ks", "tick")
    cb(batch(3), batch_id=1)
    assert sorted(written) == ["t0", "t1", "t2"]

    monkeypatch.setattr(S, "MAX_SINK_TOPICS", 10)
    with _pytest.raises(ValueError, match="distinct topics"):
        cb(batch(11), batch_id=2)


def test_classifier_inference_on_stream_matches_batch(spark, tmp_path):
    """Batch operators that are stateless and shuffle-free must run on
    a stream UNCHANGED — the unified-API property the engine's
    map-side curation/scoring stages rely on to serve both the bulk
    corpus pass and the live ingest path.  Score the documents fixture
    through the same classifier transform via readStream (availableNow
    drain to a memory sink) and via batch; results must be identical."""
    import shutil

    from level2_to_cassandra_spark.queries.traindata import (
        classifier_transform,
    )

    from tests.conftest import SF_SMOKE

    src = f"{SF_SMOKE}/documents.parquet"
    d = tmp_path / "docs_stream"
    d.mkdir()
    shutil.copy(src, d / "part-0.parquet")

    batch = classifier_transform(spark.read.parquet(str(d))).collect()
    stream = spark.readStream.schema(
        spark.read.parquet(str(d)).schema
    ).parquet(str(d))
    q = (
        classifier_transform(stream)
        .writeStream.format("memory")
        .queryName("clf_stream")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream did not finish within 120s"
    got = spark.table("clf_stream").collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, batch))
    assert len(got) > 0


def test_streaming_incremental_dedup_parity(spark, tmp_path):
    """The foreachBatch incremental-dedup sink must admit exactly the
    docs the sequential batch spec admits: first arrival batch wins,
    lowest doc_id within that batch wins — across THREE micro-batches
    with overlapping content (maxFilesPerTrigger=1 forces one batch
    per file; mtimes pin the file order)."""
    import json as _json
    import os
    import time as _time

    from level2_to_cassandra_spark.operators.dedup import (
        incremental_dedup_step,
    )
    from level2_to_cassandra_spark.streaming.monitor import gate_chain

    batches = [
        # (doc_id, text)
        [(1, "alpha"), (2, "alpha"), (3, "beta")],          # b0
        [(10, "alpha"), (11, "gamma"), (12, "gamma")],      # b1
        [(20, "beta"), (21, "gamma"), (22, "delta")],       # b2
    ]
    src = tmp_path / "src"
    src.mkdir()
    now = _time.time()
    for i, rows in enumerate(batches):
        p = src / f"b{i}.jsonl"
        p.write_text("\n".join(
            _json.dumps({"doc_id": d, "text": t}) for d, t in rows))
        os.utime(p, (now + i * 10, now + i * 10))

    admitted_path = str(tmp_path / "admitted")
    store_path = str(tmp_path / "store")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = (
        stream.writeStream.foreachBatch(
            gate_chain(
                lambda df, bid: df.write.mode("append").parquet(
                    admitted_path),
                incremental_dedup_step(store_path),
            )
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream did not finish within 120s"

    got = {
        (r.doc_id, r.text)
        for r in spark.read.parquet(admitted_path).collect()
    }
    # sequential spec: alpha first in b0 (id 1), beta in b0 (id 3),
    # gamma first in b1 (id 11), delta in b2 (id 22)
    assert got == {(1, "alpha"), (3, "beta"), (11, "gamma"),
                   (22, "delta")}
    # the store holds exactly the admitted contents' hashes
    n_hashes = spark.read.parquet(store_path).distinct().count()
    assert n_hashes == 4


def test_pipeline_checkpoint_restart_incremental(spark, tmp_path):
    """Kill-and-restart contract (SURVEY A2's micro-batch runtime):
    draining, stopping, and restarting over the SAME checkpoint must
    (a) read ONLY files that arrived since the first drain, (b)
    resume the keyed cumulative-sum state from the state store rather
    than recomputing from zero, and (c) leave the upsert sink equal
    to the batch pipeline over everything — the exactly-once resume
    story a production deployment depends on."""
    import os
    import time as _time

    d = tmp_path / "wire"
    d.mkdir()
    f1, f2 = _fixture_messages()
    seq = 0
    now = _time.time()

    def write_file(i, msgs):
        nonlocal seq
        lines = []
        for topic, mt, payload in msgs:
            lines.append(json.dumps(
                {"topic": topic, "msg_type": mt, "payload": payload,
                 "seq": seq}))
            seq += 1
        p = d / f"part-{i:03d}.jsonl"
        p.write_text("\n".join(lines))
        os.utime(p, (now + i * 10, now + i * 10))

    out_path = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    cfg = PipelineConfig(mode="full", out_path=out_path, checkpoint=ckpt)

    write_file(0, f1)
    run1 = build_streaming_pipeline(file_envelope_stream(spark, str(d)), cfg)
    for q in run1:
        assert q.awaitTermination(120), "run 1 did not finish"
    n_tick_run1 = read_sink_latest(spark, out_path, "tick").count()
    assert n_tick_run1 > 0

    write_file(1, f2)
    run2 = build_streaming_pipeline(file_envelope_stream(spark, str(d)), cfg)
    n_in_total = 0
    for q in run2:
        assert q.awaitTermination(120), "run 2 did not finish"
        for p in q.recentProgress:
            n_in_total += int(p["numInputRows"])
            # batch ids CONTINUE from run 1's checkpoint (no batch 0
            # replay)
            assert p["batchId"] >= 1, p["batchId"]
    # only the NEW file's envelopes were read after the restart (the
    # demux filter reaches the scans, so input rows split per-type
    # across the sink queries: f2 is all TICKs → 0 book + 5 tick)
    assert n_in_total == len(f2), n_in_total

    batch = build_batch_pipeline(file_envelope_batch(spark, str(d)), cfg)

    def tick_key(r):
        return (r.symbol, str(r.time), float(r.price))

    got = {
        tick_key(r): (r.volume, r.trade_type, r.cumbuy, r.cumsell,
                      r.cumdelta)
        for r in read_sink_latest(spark, out_path, "tick").collect()
    }
    want = {
        tick_key(r): (r.volume, r.trade_type, r.cumbuy, r.cumsell,
                      r.cumdelta)
        for r in batch["tick"].collect()
    }
    # equality INCLUDING the cum columns proves the keyed state
    # survived the restart: f2's day-1 "AAA" rows continue f1's sums
    assert got == want
    got_b = {
        (r.symbol, str(r.time), float(r.price)): (r.volume, r.order_type)
        for r in read_sink_latest(spark, out_path, "book").collect()
    }
    want_b = {
        (r.symbol, str(r.time), float(r.price)): (r.volume, r.order_type)
        for r in batch["book"].collect()
    }
    assert got_b == want_b


def test_compact_sink_preserves_lww_and_future_wins(spark, tmp_path):
    """compact_sink must (a) shrink the file set, (b) leave
    read_sink_latest byte-identical, and (c) stay ordered UNDER later
    appends: a batch written after compaction still shadows compacted
    rows (the winner keeps its original batch id through the
    rewrite)."""
    import glob

    from level2_to_cassandra_spark.streaming.sink import (
        compact_sink,
        write_upsert_parquet,
    )

    out = str(tmp_path / "sink")

    def batch(rows, batch_id):
        df = spark.createDataFrame(
            rows,
            "topic string, symbol string, time string, price double, "
            "volume int, seq long",
        ).withColumn("time", F.to_timestamp("time"))
        write_upsert_parquet(df, out, "tick", batch_id=batch_id)

    t = "2024-01-01 00:00:00"
    batch([("btcusd", "AAA", t, 1.0, 10, 0),
           ("btcusd", "BBB", t, 2.0, 11, 1)], 0)
    batch([("btcusd", "AAA", t, 1.0, 20, 2)], 1)   # shadows vol 10
    batch([("btcusd", "AAA", t, 1.0, 30, 3)], 2)   # shadows vol 20

    def latest():
        return {
            (r.symbol, str(r.time), r.price): r.volume
            for r in read_sink_latest(spark, out, "tick").collect()
        }

    want = latest()
    assert want[("AAA", t, 1.0)] == 30
    files_before = len(glob.glob(f"{out}/tick/**/*.parquet",
                                 recursive=True))
    n = compact_sink(spark, out, "tick")
    assert n == 2                              # one row per live key
    files_after = len(glob.glob(f"{out}/tick/**/*.parquet",
                                recursive=True))
    assert files_after < files_before
    assert latest() == want                    # reader-invisible
    # a post-compaction append still wins over the compacted survivor
    batch([("btcusd", "AAA", t, 1.0, 40, 4)], 3)
    assert latest()[("AAA", t, 1.0)] == 40
    # and compacting again folds it in
    assert compact_sink(spark, out, "tick") == 2
    assert latest()[("AAA", t, 1.0)] == 40


def _mk_tick_batch(spark, rows):
    return spark.createDataFrame(
        rows,
        "topic string, symbol string, time string, price double, "
        "volume int, seq long",
    ).withColumn("time", F.to_timestamp("time"))


def test_compact_sink_concurrent_writer_safe(spark, tmp_path):
    """A micro-batch appended AFTER compaction captured its snapshot
    but BEFORE the pointer flip must survive (not be deleted) and must
    still shadow the compacted base — the writer-safety guarantee of
    the snapshot-file deletion design (ADVICE r06 medium finding)."""
    from level2_to_cassandra_spark.streaming.sink import (
        compact_sink,
        read_sink_latest,
        write_upsert_parquet,
    )

    out = str(tmp_path / "sink")
    t = "2024-01-01 00:00:00"
    write_upsert_parquet(
        _mk_tick_batch(spark, [("btcusd", "AAA", t, 1.0, 10, 0)]),
        out, "tick", batch_id=0)
    write_upsert_parquet(
        _mk_tick_batch(spark, [("btcusd", "AAA", t, 1.0, 20, 1)]),
        out, "tick", batch_id=1)

    def concurrent_append():
        # lands after the snapshot listing, before the pointer flip
        write_upsert_parquet(
            _mk_tick_batch(spark, [("btcusd", "AAA", t, 1.0, 99, 2)]),
            out, "tick", batch_id=2)

    n = compact_sink(spark, out, "tick",
                     _test_hook_pre_flip=concurrent_append)
    # the fold covered only the snapshot (batches 0,1 → 1 live key)
    assert n == 1
    # the concurrently-appended batch survived the cleanup and shadows
    got = {(r.symbol, str(r.time), r.price): r.volume
           for r in read_sink_latest(spark, out, "tick").collect()}
    assert got[("AAA", t, 1.0)] == 99
    # a second compaction folds it into the next version
    assert compact_sink(spark, out, "tick") == 1
    got = {(r.symbol, str(r.time), r.price): r.volume
           for r in read_sink_latest(spark, out, "tick").collect()}
    assert got[("AAA", t, 1.0)] == 99


def test_compact_sink_reader_atomic_and_locked(spark, tmp_path):
    """(a) At the pre-flip instant a reader still resolves the OLD
    state (pointer flip is the commit point — no missing-table
    window); (b) the published state carries a ``_CURRENT`` pointer to
    an existing version dir; (c) a concurrent compaction is refused
    via the lock sentinel."""
    import os

    import pytest

    from level2_to_cassandra_spark.streaming.sink import (
        CompactionLockHeld,
        compact_sink,
        read_sink_latest,
        write_upsert_parquet,
    )

    out = str(tmp_path / "sink")
    t = "2024-01-01 00:00:00"
    write_upsert_parquet(
        _mk_tick_batch(spark, [("btcusd", "AAA", t, 1.0, 10, 0)]),
        out, "tick", batch_id=0)
    write_upsert_parquet(
        _mk_tick_batch(spark, [("btcusd", "AAA", t, 1.0, 20, 1)]),
        out, "tick", batch_id=1)

    seen_pre_flip = {}

    def reader_mid_compact():
        # new version dir is fully written, pointer NOT yet flipped:
        # the reader must see the exact pre-compaction LWW state
        seen_pre_flip.update({
            (r.symbol, str(r.time), r.price): r.volume
            for r in read_sink_latest(spark, out, "tick").collect()
        })
        # and a racing compaction is refused while the LIVE lock is
        # held (our own pid is the recorded holder → named error,
        # NOT a stale-reclaim)
        with pytest.raises(CompactionLockHeld, match="last recorded as pid"):
            compact_sink(spark, out, "tick")

    compact_sink(spark, out, "tick",
                 _test_hook_pre_flip=reader_mid_compact)
    assert seen_pre_flip[("AAA", t, 1.0)] == 20
    ptr = os.path.join(out, "tick", "_CURRENT")
    assert os.path.exists(ptr)
    with open(ptr, encoding="utf-8") as fh:
        version = fh.read().strip()
    assert os.path.isdir(os.path.join(out, "tick", version))
    # post-flip reader: same rows, served from the compacted base
    got = {(r.symbol, str(r.time), r.price): r.volume
           for r in read_sink_latest(spark, out, "tick").collect()}
    assert got == seen_pre_flip


def test_compact_sink_dead_holder_lock_is_inert(spark, tmp_path):
    """A compaction killed mid-run must not brick later --compact runs
    (ADVICE r07 low).  Under the kernel-flock protocol there is no
    stale state AT ALL: a dead holder's flock released with its
    process, so a leftover sentinel file — whether it carries a dead
    pid payload or legacy/corrupt bytes — is simply acquired over, no
    reclaim, no by-hand recovery, nothing deleted."""
    import os
    import subprocess

    from level2_to_cassandra_spark.streaming.sink import (
        compact_sink,
        write_upsert_parquet,
    )

    out = str(tmp_path / "sink")
    t = "2024-01-01 00:00:00"
    write_upsert_parquet(
        _mk_tick_batch(spark, [("btcusd", "AAA", t, 1.0, 10, 0)]),
        out, "tick", batch_id=0)
    lock = os.path.join(out, "tick", "_COMPACT_LOCK")

    # a real pid that is guaranteed dead: a reaped child process
    child = subprocess.Popen(["true"])
    child.wait()
    with open(lock, "w", encoding="ascii") as fh:
        fh.write(f"pid {child.pid} ts 0.000")
    assert compact_sink(spark, out, "tick") == 1  # dead lock is inert
    assert os.path.exists(lock)  # sentinel file persists BY DESIGN
    with open(lock, encoding="ascii") as fh:
        assert f"pid {os.getpid()}" in fh.read()  # ours was the last run

    # legacy/corrupt sentinel (pre-flock empty file): equally inert
    with open(lock, "w", encoding="ascii"):
        pass
    assert compact_sink(spark, out, "tick") == 1


def test_ingest_metrics_audit_table(spark, fixture_dir, tmp_path):
    """APP_METRICS=1: every micro-batch appends one audit row per sink
    table, its counters observed on the sink write's own job
    (monitor.py) — the per-batch n_rows must sum
    to the batch pipeline's pre-dedup input count, event-time bounds
    must match, and no upsert key is null."""
    from level2_to_cassandra_spark.streaming.monitor import read_metrics

    out_path = str(tmp_path / "sink")
    cfg = PipelineConfig(
        mode="full", out_path=out_path,
        checkpoint=str(tmp_path / "ckpt"), metrics=True,
    )
    env_stream = file_envelope_stream(spark, fixture_dir,
                                      max_files_per_trigger=1)
    for q in build_streaming_pipeline(env_stream, cfg):
        assert q.awaitTermination(120), "stream did not finish within 120s"

    env_batch = file_envelope_batch(spark, fixture_dir)
    from level2_to_cassandra_spark.streaming.pipeline import (
        book_rows,
        tick_rows_batch,
    )
    raw = {"book": book_rows(env_batch, cfg),
           "tick": tick_rows_batch(env_batch, cfg)}
    for suffix, rows_df in raw.items():
        m = read_metrics(spark, out_path, suffix).collect()
        assert m, f"no metrics rows for {suffix}"
        assert len({r.batch_id for r in m}) == len(m)  # one row per batch
        assert sum(r.n_rows for r in m) == rows_df.count()
        assert all(r.n_null_key == 0 for r in m)
        lo = min(r.min_event_ts for r in m if r.min_event_ts)
        hi = max(r.max_event_ts for r in m if r.max_event_ts)
        want = rows_df.agg(F.min("time"), F.max("time")).first()
        assert (lo, hi) == (want[0], want[1])


def _static_batch(spark, rows):
    return spark.createDataFrame(
        rows, "topic string, symbol string, t long, price double, "
        "volume long, seq long",
    ).selectExpr("topic", "symbol", "timestamp_seconds(t) AS time",
                 "price", "volume", "seq")


def test_metrics_wrapper_observes_batch_before_dedup(spark, tmp_path):
    """The audit counters ride the sink write as observed metrics: the
    wrapped sink runs once, and the journal row counts the batch as
    delivered — the duplicate upsert key twice, the null symbol once —
    with its event-time range; the sink itself keeps the LWW winner."""
    from level2_to_cassandra_spark.streaming.monitor import (
        foreach_batch_with_metrics,
        read_metrics,
    )
    from level2_to_cassandra_spark.streaming.sink import (
        foreach_batch_upsert,
    )

    out = str(tmp_path / "sink")
    batch = _static_batch(spark, [
        ("btcusd", "AAA", DAY1, 1.0, 5, 0),
        ("btcusd", "AAA", DAY1, 1.0, 6, 1),      # same key, later write
        ("btcusd", None, DAY1 + 60, 2.0, 7, 2),  # broken upsert key
        ("btcusd", "BBB", DAY2, 3.0, 8, 3),
    ])
    calls = []
    write = foreach_batch_upsert(out, "tick")

    def inner(df, batch_id):
        calls.append(batch_id)
        write(df, batch_id)

    foreach_batch_with_metrics(inner, out, "tick")(batch, 7)
    assert calls == [7]
    [m] = read_metrics(spark, out, "tick").collect()
    assert (m.batch_id, m.table_suffix, m.n_rows, m.n_null_key) == (
        7, "tick", 4, 1)
    want = batch.agg(F.min("time"), F.max("time")).first()
    assert (m.min_event_ts, m.max_event_ts) == (want[0], want[1])
    sink = read_sink_latest(spark, out, "tick")
    assert sink.where("symbol = 'AAA'").first().volume == 6
    assert sink.count() == 3


def test_metrics_wrapper_over_cassandra_sink(spark, monkeypatch,
                                             tmp_path):
    """The Cassandra callback caches its deduped batch and runs one
    action per topic; the observed counters still arrive once, from
    the job that fills the cache."""
    from level2_to_cassandra_spark.streaming import sink as S
    from level2_to_cassandra_spark.streaming.monitor import (
        foreach_batch_with_metrics,
        read_metrics,
    )

    written = {}
    monkeypatch.setattr(
        S, "write_upsert_cassandra",
        lambda df, ks, topic, suffix, connector=None:
        written.setdefault(topic, df.count()),
    )
    out = str(tmp_path / "sink")
    batch = _static_batch(spark, [
        ("btcusd", "AAA", DAY1, 1.0, 5, 0),
        ("btcusd", "AAA", DAY1, 1.0, 6, 1),
        ("ethusd", None, DAY2, 2.0, 7, 2),
    ])
    foreach_batch_with_metrics(
        S.foreach_batch_cassandra("ks", "tick"), out, "tick"
    )(batch, 4)
    assert written == {"btcusd": 1, "ethusd": 1}
    [m] = read_metrics(spark, out, "tick").collect()
    assert (m.batch_id, m.n_rows, m.n_null_key) == (4, 3, 1)


def test_metrics_wrapper_empty_batch(spark, tmp_path):
    """An empty batch still journals one row: zero counts, no event
    time (the optimizer prunes the observed node of a provably empty
    relation, which completes the Observation with an empty row)."""
    from level2_to_cassandra_spark.streaming.monitor import (
        foreach_batch_with_metrics,
        read_metrics,
    )
    from level2_to_cassandra_spark.streaming.sink import (
        foreach_batch_upsert,
    )

    out = str(tmp_path / "sink")
    foreach_batch_with_metrics(
        foreach_batch_upsert(out, "tick"), out, "tick"
    )(_static_batch(spark, []), 0)
    [m] = read_metrics(spark, out, "tick").collect()
    assert (m.batch_id, m.n_rows, m.n_null_key) == (0, 0, 0)
    assert m.min_event_ts is None and m.max_event_ts is None


def _spark_metrics_append(spark, path, rows):
    """Append audit rows the way the journal was written before the
    driver-side writer: a one-file Spark parquet append (part file and
    ``_SUCCESS`` marker)."""
    from level2_to_cassandra_spark.streaming.monitor import METRICS_SCHEMA

    spark.createDataFrame(rows, METRICS_SCHEMA).coalesce(1).write.mode(
        "append").parquet(path)


def test_metrics_journal_round_trip(spark, tmp_path):
    """The driver-written journal file reads back through read_metrics
    with METRICS_SCHEMA's types and the values a Spark append of the
    same row reads back with: counts, UTC event-time bounds, and zeros
    with null bounds for an empty batch.  Every append is a new file
    (no tmp file stays visible), so a replayed batch id leaves two
    files whose rows collapse on batch_id; a directory mixing a legacy
    Spark-written part file with driver-written files reads as one
    table."""
    import datetime
    import os

    from level2_to_cassandra_spark.streaming.monitor import (
        METRICS_SCHEMA,
        _read_journal,
        foreach_batch_with_metrics,
        metrics_path,
        read_metrics,
    )
    from level2_to_cassandra_spark.streaming.sink import (
        foreach_batch_upsert,
    )

    out = str(tmp_path / "sink")
    journal = f"{metrics_path(out)}/tick"
    callback = foreach_batch_with_metrics(
        foreach_batch_upsert(out, "tick"), out, "tick")
    callback(_static_batch(spark, [
        ("btcusd", "AAA", DAY1, 1.0, 5, 0),
        ("btcusd", None, DAY2 + 61, 2.0, 7, 1),
    ]), 3)
    callback(_static_batch(spark, []), 4)
    got = read_metrics(spark, out, "tick")
    assert got.schema == spark.createDataFrame([], METRICS_SCHEMA).schema

    utc = datetime.timezone.utc

    def ts(epoch_s):
        # a naive UTC wall time, as the UTC-pinned session collects it
        return datetime.datetime.fromtimestamp(epoch_s, utc).replace(
            tzinfo=None)

    want = [(3, "tick", 2, 1, ts(DAY1), ts(DAY2 + 61)),
            (4, "tick", 0, 0, None, None)]
    legacy = str(tmp_path / "legacy")
    _spark_metrics_append(spark, legacy, want)
    spark_rows = _read_journal(spark, legacy, METRICS_SCHEMA).collect()
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, spark_rows)) == want

    # a replay of batch 4 appends a second file; nothing is overwritten
    callback(_static_batch(spark, []), 4)
    names = sorted(os.listdir(journal))
    assert len(names) == 3
    assert all(n.startswith("batch-") and n.endswith(".parquet")
               for n in names)
    replayed = read_metrics(spark, out, "tick")
    assert replayed.count() == 3
    assert replayed.dropDuplicates(["batch_id"]).count() == 2

    # a legacy Spark append into the same directory reads as one table
    _spark_metrics_append(spark, journal,
                          [(5, "tick", 9, 0, ts(DAY2), ts(DAY2 + 1))])
    assert "_SUCCESS" in os.listdir(journal)
    mixed = read_metrics(spark, out, "tick").dropDuplicates(["batch_id"])
    assert sorted((r.batch_id, r.n_rows) for r in mixed.collect()) == [
        (3, 2), (4, 0), (5, 9)]


def test_publish_parquet_local_paths_only(spark, tmp_path):
    """The driver-side writer takes a plain path or a file:// URI, makes
    the directory, leaves no tmp file behind, and refuses any other
    scheme rather than write a local directory named after it (the
    metrics wrapper refuses one when the query is built).  The
    tick carry resolves a file:// carry directory the same way for its
    reads and its writes, so the sums continue across batches and the
    versions land inside that directory."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from level2_to_cassandra_spark.streaming.monitor import (
        foreach_batch_with_metrics,
        publish_parquet,
    )
    from level2_to_cassandra_spark.streaming.state import (
        foreach_batch_running_sums,
    )

    t = pa.table({"x": [1, 2]})
    publish_parquet(t, str(tmp_path / "a" / "b"), "one.parquet")
    publish_parquet(t, f"file://{tmp_path}/c", "two.parquet")
    assert os.listdir(tmp_path / "a" / "b") == ["one.parquet"]
    assert pq.read_table(tmp_path / "c" / "two.parquet").equals(t)
    with pytest.raises(ValueError, match="not a local path"):
        publish_parquet(t, "hdfs://nn/x", "three.parquet")
    with pytest.raises(ValueError, match="not a local path"):
        foreach_batch_with_metrics(lambda df, bid: None, "hdfs://nn/x",
                                   "tick")

    rows = []
    step = foreach_batch_running_sums(
        lambda df, _: rows.extend(df.collect()), f"file://{tmp_path}/carry")
    for bid, volume in ((0, 2), (1, 3)):
        step(_tick_batch(spark, [("AAA", DAY1 + bid, volume, "B", bid)]),
             bid)
    assert [r.cumbuy for r in rows] == [2, 5]
    assert sorted(os.listdir(tmp_path / "carry")) == [
        "0.parquet", "1.parquet"]


def _capture(tmp_path, n_files):
    """A wire capture of ``n_files`` files, one tick and one one-level
    book per file, on successive minutes of DAY1, with distinct mtimes
    so file i arrives strictly before file i+1."""
    import os
    import time as _time

    d = tmp_path / "capture"
    d.mkdir()
    now = _time.time()
    for i in range(n_files):
        t = DAY1 + 60 * i
        msgs = [("btcusd", "TICK", _tick("AAA", t, i + 1, "B")),
                ("btcusd", "BOOK", _book([("AAA", 100.0 + i, t, 2, "BID")]))]
        p = d / f"part-{i:03d}.jsonl"
        p.write_text("\n".join(
            json.dumps({"topic": tp, "msg_type": mt, "payload": pl,
                        "seq": 2 * i + j})
            for j, (tp, mt, pl) in enumerate(msgs)))
        os.utime(p, (now + i * 10, now + i * 10))
    return str(d)


def test_metrics_journal_adds_no_job(spark, tmp_path):
    """APP_METRICS adds no Spark job: an availableNow full-mode drain of
    a 4-file capture runs the same number of jobs per query with the
    audit on as with it off (the counters ride the sink write, and the
    journal row is written by the driver)."""
    from level2_to_cassandra_spark.streaming.monitor import read_metrics

    src = _capture(tmp_path, 4)
    tracker = spark.sparkContext.statusTracker()
    jobs = {}
    for metrics in (False, True):
        out = str(tmp_path / f"sink_{metrics}")
        cfg = PipelineConfig(mode="full", out_path=out, metrics=metrics,
                             checkpoint=str(tmp_path / f"ckpt_{metrics}"))
        qs = build_streaming_pipeline(
            file_envelope_stream(spark, src, max_files_per_trigger=1), cfg)
        for q in qs:
            assert q.awaitTermination(120), "stream did not finish"
        jobs[metrics] = [len(tracker.getJobIdsForGroup(str(q.runId)))
                         for q in qs]
        if metrics:
            for suffix in ("book", "tick"):
                assert read_metrics(spark, out, suffix).count() == 4
    assert all(jobs[False]), jobs
    assert jobs[True] == jobs[False]


def test_metrics_config_from_env():
    """APP_METRICS joins the reference env surface (A12)."""
    assert PipelineConfig.from_env({"APP_METRICS": "1"}).metrics
    assert PipelineConfig.from_env({"APP_METRICS": "true"}).metrics
    assert not PipelineConfig.from_env({}).metrics
    assert not PipelineConfig.from_env({"APP_METRICS": "0"}).metrics


def test_sink_schema_evolution_merge(spark, fixture_dir, tmp_path):
    """Additive payload evolution: a later batch carrying a NEW column
    must (a) not break the default reader for the old columns, and
    (b) surface the new column null-filled for pre-evolution rows when
    merge_schema=True — while LWW shadowing on the frozen key columns
    keeps working across the schema boundary."""
    from level2_to_cassandra_spark.streaming.sink import write_upsert_parquet

    env = file_envelope_batch(spark, fixture_dir)
    cfg = PipelineConfig(mode="book", out_path="", checkpoint="")
    v1 = build_batch_pipeline(env, cfg)["book"]
    path = str(tmp_path / "evolving")
    write_upsert_parquet(v1, path, "book", batch_id=0)

    # evolved batch: same rows re-upserted with a new `venue` column
    # and a changed volume (must shadow v1 under LWW)
    v2 = v1.withColumn("venue", F.lit("primary")).withColumn(
        "volume", F.col("volume") + 100
    )
    write_upsert_parquet(v2, path, "book", batch_id=1)

    merged = read_sink_latest(spark, path, "book", merge_schema=True)
    assert "venue" in merged.columns
    rows = merged.collect()
    assert rows and all(r.venue == "primary" for r in rows)  # LWW: v2 won
    assert all(r.volume > 100 for r in rows)

    # third batch WITHOUT the new column (old-producer replay): its
    # rows must still shadow, venue reads back null for them
    v3 = v1.withColumn("volume", F.col("volume") + 200)
    write_upsert_parquet(v3, path, "book", batch_id=2)
    rows3 = read_sink_latest(spark, path, "book", merge_schema=True).collect()
    assert all(r.venue is None and r.volume > 200 for r in rows3)


def test_dead_letter_quarantine_sink(spark, fixture_dir, tmp_path):
    """APP_DLQ=1: malformed payloads land in the _dead_letters side
    table (exactly the rows the batch dead_letters relation isolates:
    the '{not json' tick and the '[{bad' book), while the data tables
    are untouched by the extra query."""
    out_path = str(tmp_path / "sink")
    cfg = PipelineConfig(
        mode="full", out_path=out_path,
        checkpoint=str(tmp_path / "ckpt"), dlq=True,
    )
    env_stream = file_envelope_stream(spark, fixture_dir,
                                      max_files_per_trigger=1)
    for q in build_streaming_pipeline(env_stream, cfg):
        assert q.awaitTermination(120), "stream did not finish within 120s"

    dlq = spark.read.parquet(f"{out_path}/_dead_letters").collect()
    got = {(r.msg_type, r.payload) for r in dlq}
    assert got == {("TICK", "{not json"), ("BOOK", "[{bad")}
    # data tables unaffected
    assert read_sink_latest(spark, out_path, "tick").count() > 0
    assert read_sink_latest(spark, out_path, "book").count() > 0


def test_dlq_config_from_env():
    assert PipelineConfig.from_env({"APP_DLQ": "1"}).dlq
    assert not PipelineConfig.from_env({}).dlq


def test_metrics_and_dlq_compose(spark, fixture_dir, tmp_path):
    """APP_METRICS + APP_DLQ together: telemetry wraps the sink
    callbacks while the quarantine query runs beside them — both side
    tables land and the data tables still match the batch pipeline's
    row counts."""
    from level2_to_cassandra_spark.streaming.monitor import read_metrics

    out_path = str(tmp_path / "sink")
    cfg = PipelineConfig(
        mode="full", out_path=out_path,
        checkpoint=str(tmp_path / "ckpt"), metrics=True, dlq=True,
    )
    env_stream = file_envelope_stream(spark, fixture_dir,
                                      max_files_per_trigger=1)
    for q in build_streaming_pipeline(env_stream, cfg):
        assert q.awaitTermination(120)

    assert spark.read.parquet(f"{out_path}/_dead_letters").count() == 2
    env_batch = file_envelope_batch(spark, fixture_dir)
    batch = build_batch_pipeline(env_batch, cfg)
    for suffix in ("book", "tick"):
        assert read_sink_latest(spark, out_path, suffix).count() == \
            batch[suffix].count()
        assert read_metrics(spark, out_path, suffix).count() > 0


def test_compact_evolved_sink_preserves_new_column(spark, fixture_dir,
                                                   tmp_path):
    """Compaction after additive schema evolution: with
    merge_schema=True the rewrite keeps the evolved column (null for
    pre-evolution winners) and LWW still holds across the boundary."""
    from level2_to_cassandra_spark.streaming.sink import (
        compact_sink,
        write_upsert_parquet,
    )

    env = file_envelope_batch(spark, fixture_dir)
    cfg = PipelineConfig(mode="book", out_path="", checkpoint="")
    v1 = build_batch_pipeline(env, cfg)["book"]
    path = str(tmp_path / "evolving")
    write_upsert_parquet(v1, path, "book", batch_id=0)
    v2 = v1.withColumn("venue", F.lit("primary")).withColumn(
        "volume", F.col("volume") + 100
    )
    write_upsert_parquet(v2, path, "book", batch_id=1)

    n = compact_sink(spark, path, "book", merge_schema=True)
    assert n == v1.count()
    rows = read_sink_latest(spark, path, "book", merge_schema=True).collect()
    assert rows and all(r.venue == "primary" and r.volume > 100
                        for r in rows)


def test_drift_operator_parity_with_registered_query(spark):
    """operators/drift.py must reproduce q_drift_psi exactly when fed
    the query's own window split: reference_cells on the first half,
    psi_against_reference on the second — same psi, flags and totals
    per key.  This parity binds the split build/score form to the
    hash-verified single-query spec (the fold-form-vs-kernel
    discipline)."""
    from level2_to_cassandra_spark.catalog import load_table
    from level2_to_cassandra_spark.operators.drift import (
        psi_against_reference,
        reference_cells,
    )
    from level2_to_cassandra_spark.registry import all_queries
    from tests.conftest import SF_SMOKE as sf_smoke

    ev = load_table(spark, sf_smoke, "events")
    cut = F.lit("2024-01-16").cast("timestamp")
    ref = reference_cells(ev.where(F.col("ts") < cut))
    # NULL ts rows belong to 'cur' in the query's when/otherwise split —
    # a bare ts >= cut predicate would silently drop them
    cur = ev.where(F.col("ts").isNull() | (F.col("ts") >= cut))
    got = {
        r.key: (r.n_ref, r.n_batch, r.psi, r.drift_flag)
        for r in psi_against_reference(cur, ref).collect()
    }
    want = {
        r.event_type: (r.n_ref, r.n_cur, r.psi, r.drift_flag)
        for r in all_queries()["q_drift_psi"].fn(spark, sf_smoke).collect()
    }
    assert got == want


def test_drift_operator_parity_with_null_values(spark, tmp_path):
    """Parity must hold when BOTH windows contain NULL values:
    q_drift_psi's groupBy folds the NULL bin of each window into ONE
    shared cell, so the operator's full-outer join must be NULL-SAFE on
    bin (plain ``=`` keeps the two NULL cells apart and doubles their
    smoothed terms).  The fixture is NULL-free, so this synthesizes an
    events table with NULLs on both sides of the query's date cut and
    runs the registered query against it as the oracle."""
    from level2_to_cassandra_spark.operators.drift import (
        psi_against_reference,
        reference_cells,
    )
    from level2_to_cassandra_spark.registry import all_queries

    rows = []
    for i in range(200):
        side = "2024-01-10" if i % 2 == 0 else "2024-01-20"
        # every 5th row is a NULL value — i%5==0 hits both even and odd
        # i, so NULLs land in BOTH windows
        val = None if i % 5 == 0 else float((i * 13) % 97)
        rows.append(("click" if i % 3 else "view", val, side))
    ev = spark.createDataFrame(
        rows, "event_type string, value double, day string"
    ).select(
        "event_type", "value", F.col("day").cast("timestamp").alias("ts")
    )
    sf_dir = str(tmp_path / "sf_null")
    ev.coalesce(1).write.parquet(f"{sf_dir}/events.parquet")

    cut = F.lit("2024-01-16").cast("timestamp")
    ref = reference_cells(ev.where(F.col("ts") < cut))
    cur = ev.where(F.col("ts").isNull() | (F.col("ts") >= cut))
    got = {
        r.key: (r.n_ref, r.n_batch, r.psi, r.drift_flag)
        for r in psi_against_reference(cur, ref).collect()
    }
    want = {
        r.event_type: (r.n_ref, r.n_cur, r.psi, r.drift_flag)
        for r in all_queries()["q_drift_psi"].fn(spark, sf_dir).collect()
    }
    assert got == want
    # the synthetic data genuinely exercises the NULL cell on both sides
    n_null_ref = ev.where(F.col("ts") < cut).where(
        F.col("value").isNull()).count()
    n_null_cur = ev.where(F.col("ts") >= cut).where(
        F.col("value").isNull()).count()
    assert n_null_ref > 0 and n_null_cur > 0


def test_drift_operator_parity_with_null_keys(spark, tmp_path):
    """Parity must hold when the KEY column itself is NULL (ADVICE
    r11): q_drift_psi's bounds join is an inner equi-join USING
    (event_type), so NULL-key rows never reach the cell relation —
    they are DROPPED by the batch spec, not scored as a group (SQL
    NULL ≠ NULL under ``=``; DuckDB's USING agrees).  The operator
    twin's inner key joins (reference_cells' bounds join,
    psi_against_reference's kb join) drop them through the identical
    shape, so parity on a NULL-key corpus is exact equality of the
    scored key set AND per-key numbers — and neither side may emit a
    NULL-key row."""
    from level2_to_cassandra_spark.operators.drift import (
        psi_against_reference,
        reference_cells,
    )
    from level2_to_cassandra_spark.registry import all_queries

    rows = []
    for i in range(200):
        side = "2024-01-10" if i % 2 == 0 else "2024-01-20"
        # every 4th row has a NULL key — lands in BOTH windows
        key = None if i % 4 == 0 else ("click" if i % 3 else "view")
        rows.append((key, float((i * 13) % 97), side))
    ev = spark.createDataFrame(
        rows, "event_type string, value double, day string"
    ).select(
        "event_type", "value", F.col("day").cast("timestamp").alias("ts")
    )
    sf_dir = str(tmp_path / "sf_nullkey")
    ev.coalesce(1).write.parquet(f"{sf_dir}/events.parquet")

    cut = F.lit("2024-01-16").cast("timestamp")
    ref = reference_cells(ev.where(F.col("ts") < cut))
    cur = ev.where(F.col("ts").isNull() | (F.col("ts") >= cut))
    got = {
        r.key: (r.n_ref, r.n_batch, r.psi, r.drift_flag)
        for r in psi_against_reference(cur, ref).collect()
    }
    want = {
        r.event_type: (r.n_ref, r.n_cur, r.psi, r.drift_flag)
        for r in all_queries()["q_drift_psi"].fn(spark, sf_dir).collect()
    }
    assert got == want
    assert None not in got and None not in want
    assert set(got) == {"click", "view"}
    # the NULL-key rows existed on both sides of the cut
    assert ev.where(F.col("event_type").isNull()).count() == 50


def test_streaming_drift_audit_flags_shifted_batch(spark, tmp_path):
    """drift_step: each micro-batch appends one audit row
    per reference key; an in-distribution batch passes while a batch
    whose values escape the reference range (clipping into the edge
    bin) raises the drift flag — the alarm fires WHILE the drifted
    data lands, not at the next offline audit."""
    from level2_to_cassandra_spark.operators.drift import reference_cells
    from level2_to_cassandra_spark.streaming.monitor import (
        drift_step,
        gate_chain,
        read_drift,
    )

    ref_rows = [("a", float(v)) for v in range(100)]
    # deliberately NOT persisted: the wrapper must snapshot it itself
    ref = reference_cells(
        spark.createDataFrame(ref_rows, "event_type string, value double")
    )

    src = str(tmp_path / "src")
    ok = [("a", float((v * 37) % 100)) for v in range(50)]
    shifted = [("a", 1000.0 + v) for v in range(40)]
    spark.createDataFrame(
        ok, "event_type string, value double"
    ).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(
        shifted, "event_type string, value double"
    ).coalesce(1).write.mode("append").parquet(src)

    base = str(tmp_path / "sink")
    cb = gate_chain(
        lambda df, bid: None, drift_step(base, ref)
    )
    q = (
        spark.readStream.schema("event_type string, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .writeStream.foreachBatch(cb)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream did not finish within 120s"

    rows = read_drift(spark, base).collect()
    assert len(rows) == 2 and len({r.batch_id for r in rows}) == 2
    by_size = {r.n_batch: r for r in rows}
    assert set(by_size) == {50, 40}
    assert not by_size[50].drift_flag      # in-distribution batch
    assert by_size[40].drift_flag          # range-escaped batch
    assert all(r.key == "a" and r.n_ref == 100 for r in rows)
    assert all(r.stream == "events" for r in rows)


def test_streaming_embedding_drift_parity_with_registered_query(
        spark, tmp_path):
    """embedding_drift_step must reproduce
    q_drift_embedding exactly when fed the query's own cohort split:
    reference occupancy = the even-vec_id half of the session's
    materialized kmeans label table, and the odd half streamed as ONE
    micro-batch of raw embeddings quantized against the FROZEN
    codebook (the cent1 the label table's final assignment was
    computed against — ivf_index at lloyd_iters-1).  Same per-cell
    counts, terms, psi and flag — the fold-form-vs-kernel parity
    discipline, binding the streaming monitor to the hash-verified
    batch spec."""
    from level2_to_cassandra_spark.catalog import load_table
    from level2_to_cassandra_spark.operators import similarity
    from level2_to_cassandra_spark.operators.drift import (
        cluster_reference_cells,
    )
    from level2_to_cassandra_spark.queries.llm import (
        _KMEANS_ITERS,
        _KMEANS_K,
        _kmeans_assignment,
    )
    from level2_to_cassandra_spark.registry import all_queries
    from level2_to_cassandra_spark.streaming.monitor import (
        embedding_drift_step,
        gate_chain,
        read_embed_drift,
    )
    from tests.conftest import SF_SMOKE as sf_smoke

    em = load_table(spark, sf_smoke, "embeddings")
    cent1, a1 = similarity.ivf_index(
        em, n_cells=_KMEANS_K, lloyd_iters=_KMEANS_ITERS - 1,
        scheme="portable", round_assign=6,
    )
    labels = _kmeans_assignment(spark, sf_smoke)
    ref = cluster_reference_cells(labels.where(F.col("vec_id") % 2 == 0))

    src = str(tmp_path / "src")
    em.where(F.col("vec_id") % 2 != 0).coalesce(1).write.parquet(src)
    base = str(tmp_path / "sink")
    cb = gate_chain(
        lambda df, bid: None,
        embedding_drift_step(base, cent1, ref, n_cells=_KMEANS_K),
    )
    q = (
        spark.readStream.schema(em.schema)
        .parquet(src)
        .writeStream.foreachBatch(cb)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream did not finish within 120s"
    if a1 is not None:
        a1.unpersist()

    rows = read_embed_drift(spark, base).collect()
    assert rows and all(
        r.batch_id == 0 and r.stream == "embeddings" for r in rows
    )
    got = {
        r.cluster_id: (r.c_ref, r.c_cur, r.psi_term, r.psi, r.drift_flag)
        for r in rows
    }
    want = {
        r.cluster_id: (r.c_ref, r.c_cur, r.psi_term, r.psi, r.drift_flag)
        for r in all_queries()["q_drift_embedding"].fn(
            spark, sf_smoke).collect()
    }
    assert got == want


def test_streaming_multimodal_admit_parity_with_registered_query(
        spark, tmp_path):
    """A one-step multimodal_admit_step chain must reproduce
    q_dedup_incremental_multimodal when fed the query's own split:
    store seeded from the seen side (doc_id % 10 != 0), the new side
    streamed as ONE micro-batch of (text, embedding) assets — same
    admitted ids, the fold-form-vs-kernel parity discipline binding
    the streaming admit to the hash-verified batch spec."""
    from level2_to_cassandra_spark.catalog import load_table
    from level2_to_cassandra_spark.operators.dedup import (
        multimodal_admit_step,
        seed_multimodal_store,
    )
    from level2_to_cassandra_spark.registry import all_queries
    from level2_to_cassandra_spark.streaming.monitor import gate_chain
    from tests.conftest import SF_SMOKE as sf_smoke

    docs = load_table(spark, sf_smoke, "documents")
    em = load_table(spark, sf_smoke, "embeddings")
    assets = docs.join(
        em, docs["doc_id"] == em["vec_id"]
    ).select("doc_id", "text", "lang", "source", "embedding")
    store = str(tmp_path / "store")
    seed_multimodal_store(
        assets.where(F.col("doc_id") % 10 != 0), store
    )

    src = str(tmp_path / "src")
    assets.where(F.col("doc_id") % 10 == 0).coalesce(1).write.parquet(src)
    admitted_path = str(tmp_path / "admitted")
    cb = gate_chain(
        lambda df, bid: df.write.mode("append").parquet(admitted_path),
        multimodal_admit_step(store),
    )
    q = (
        spark.readStream.schema(assets.schema)
        .parquet(src)
        .writeStream.foreachBatch(cb)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream did not finish within 120s"

    got = {r.doc_id for r in
           spark.read.parquet(admitted_path).collect()}
    want = {r.doc_id for r in
            all_queries()["q_dedup_incremental_multimodal"].fn(
                spark, sf_smoke).collect()}
    assert got == want and got


def test_streaming_covariance_matches_batch_query(spark, tmp_path):
    """covariance_step must reproduce q_embed_covariance
    exactly when the fixture corpus arrives as MULTIPLE micro-batches:
    the Gram sums are additive over row-disjoint batches, so the
    journal reduction (read_covariance) and the offline one-pass query
    agree cell-for-cell at the registry's rounded scale — the
    fold-form-vs-kernel parity discipline binding incremental moment
    maintenance to the hash-verified batch spec.  Also pins the
    journal's replay semantics: re-running a batch under its batch_id
    folds in ONCE (dedup on batch_id), and an all-invalid batch
    contributes nothing without corrupting the state."""
    from level2_to_cassandra_spark.catalog import load_table
    from level2_to_cassandra_spark.registry import all_queries
    from level2_to_cassandra_spark.streaming.monitor import (
        covariance_step,
        gate_chain,
        read_covariance,
    )
    from tests.conftest import SF_SMOKE as sf_smoke

    em = load_table(spark, sf_smoke, "embeddings")
    src = str(tmp_path / "src")
    em.repartition(3).write.parquet(src)
    base = str(tmp_path / "sink")
    cb = gate_chain(lambda df, bid: None, covariance_step(base))
    q = (
        spark.readStream.schema(em.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(cb)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream did not finish within 120s"

    got = {(r.i, r.j): (r.cov, r.n)
           for r in read_covariance(spark, base).collect()}
    want = {(r.i, r.j): (r.cov, r.n)
            for r in all_queries()["q_embed_covariance"].fn(
                spark, sf_smoke).collect()}
    assert len(got) == 64 * 65 // 2
    assert got == want

    # replay: the same rows under the same batch_id fold in ONCE
    chunk = spark.read.parquet(src).where(F.col("vec_id") < 100)
    cb(chunk, 99)
    once = {(r.i, r.j): (r.cov, r.n)
            for r in read_covariance(spark, base).collect()}
    assert once[(0, 0)][1] > got[(0, 0)][1]  # batch 99 landed
    cb(chunk, 99)
    twice = {(r.i, r.j): (r.cov, r.n)
             for r in read_covariance(spark, base).collect()}
    assert twice == once

    # an all-invalid batch (NULL vectors, wrong length, NULL element)
    # admits zero rows and leaves the state untouched
    bad = spark.createDataFrame(
        [(9001, None), (9002, [1.0, 2.0]), (9003, [None] * 64)],
        "vec_id long, embedding array<float>",
    )
    cb(bad, 100)
    after = {(r.i, r.j): (r.cov, r.n)
             for r in read_covariance(spark, base).collect()}
    assert after == once


def test_streaming_multimodal_admit_store_grows_across_batches(
        spark, tmp_path):
    """Admitted batches must GROW the store: batch 2's embedding
    near-dup of a doc ADMITTED in batch 1 (identical vector, different
    text — invisible to the exact leg) is rejected, while an
    orthogonal newcomer is admitted; an exact text copy of a batch-1
    doc is rejected by the hash leg."""
    from level2_to_cassandra_spark.operators.dedup import (
        multimodal_admit_step,
    )
    from level2_to_cassandra_spark.streaming.monitor import gate_chain

    def one_hot(d):
        return [1.0 if i == d else 0.0 for i in range(64)]

    b1 = [(1, "first unique document text", "en", "s", one_hot(1))]
    b2 = [
        (10, "a different text entirely", "en", "s", one_hot(1)),   # embed dup of 1
        (11, "first unique document text", "en", "s", one_hot(11)),  # text dup of 1
        (12, "another fresh document body", "en", "s", one_hot(12)),  # clean
    ]
    schema = ("doc_id long, text string, lang string, source string, "
              "embedding array<float>")
    src = str(tmp_path / "src")
    spark.createDataFrame(b1, schema).coalesce(1).write.mode(
        "append").parquet(src)
    spark.createDataFrame(b2, schema).coalesce(1).write.mode(
        "append").parquet(src)

    admitted_path = str(tmp_path / "admitted")
    cb = gate_chain(
        lambda df, bid: df.write.mode("append").parquet(admitted_path),
        multimodal_admit_step(str(tmp_path / "store")),
    )
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .writeStream.foreachBatch(cb)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream did not finish within 120s"
    got = {r.doc_id for r in spark.read.parquet(admitted_path).collect()}
    assert got == {1, 12}


def test_streaming_multimodal_admit_replay_after_partial_store_write(
        spark, tmp_path):
    """Crash-replay safety: if a batch's bucket/vector rows landed but
    the crash hit before its hashes append, the replayed batch must
    RE-ADMIT — the store probes read only rows of strictly earlier
    batches, so its own bucket/vector rows cannot self-reject it —
    and the replay must complete the store so the exact gate works
    afterwards."""
    from level2_to_cassandra_spark.operators.dedup import (
        multimodal_admit_step,
    )
    from level2_to_cassandra_spark.streaming.monitor import gate_chain

    schema = ("doc_id long, text string, lang string, source string, "
              "embedding array<float>")
    vec = [1.0 if i == 7 else 0.0 for i in range(64)]
    batch = spark.createDataFrame(
        [(1, "some document text", "en", "s", vec)], schema
    )
    store = str(tmp_path / "store")
    admitted_path = str(tmp_path / "admitted")
    cb = gate_chain(
        lambda df, bid: df.write.mode("append").parquet(admitted_path),
        multimodal_admit_step(store),
    )

    cb(batch, 0)
    # simulate the crash window: the attempt's rows/buckets/vecs are
    # durable but the hashes append never happened
    shutil.rmtree(f"{store}/hashes")
    cb(batch, 0)

    rows = spark.read.parquet(admitted_path).collect()
    # at-least-once: both attempts' rows are present (downstream
    # content-hash dedup reconciles), NOT zero rows from self-rejection
    assert [r.doc_id for r in rows] == [1, 1]
    # the replay completed the store: an exact text copy is now gated
    copy = spark.createDataFrame(
        [(2, "some document text", "en", "s",
          [1.0 if i == 9 else 0.0 for i in range(64)])], schema
    )
    cb(copy, 1)
    after = {r.doc_id for r in spark.read.parquet(admitted_path).collect()}
    assert after == {1}


def test_streaming_multimodal_admit_null_text_seed_still_rejects(
        spark, tmp_path):
    """The batch spec's embedding leg scans the UNFILTERED embeddings
    table, so a seen asset with NULL text but a valid vector must
    still reject near-dups of that vector — only the HASH leg drops
    NULL text.  Regression for the seed filter that silently excluded
    NULL-text assets from the bucket/vector stores."""
    from level2_to_cassandra_spark.operators.dedup import (
        multimodal_admit_step,
        seed_multimodal_store,
    )
    from level2_to_cassandra_spark.streaming.monitor import gate_chain

    schema = ("doc_id long, text string, lang string, source string, "
              "embedding array<float>")
    vec = [1.0 if i == 3 else 0.0 for i in range(64)]
    seen = spark.createDataFrame([(1, None, "en", "s", vec)], schema)
    store = str(tmp_path / "store")
    seed_multimodal_store(seen, store)

    batch = spark.createDataFrame(
        [(10, "new doc near the null-text asset", "en", "s", vec),
         (11, "orthogonal newcomer", "en", "s",
          [1.0 if i == 40 else 0.0 for i in range(64)])], schema
    )
    admitted_path = str(tmp_path / "admitted")
    gate_chain(
        lambda df, bid: df.write.mode("append").parquet(admitted_path),
        multimodal_admit_step(store),
    )(batch, 0)
    got = {r.doc_id for r in spark.read.parquet(admitted_path).collect()}
    assert got == {11}


def test_streaming_outlier_gate_parity_with_registered_query(
        spark, tmp_path):
    """outlier_gate_step must reproduce q_embed_outlier
    exactly when the centroid is frozen from the corpus the stream
    replays: clean-leg ids = the query's non-flagged rows, quarantine
    'outlier' rows = the flagged rows WITH the same rounded cosines —
    the fold-form parity discipline binding the gate to the
    hash-verified batch spec.  The three legs must PARTITION the
    batch (nothing dropped, nothing duplicated)."""
    from level2_to_cassandra_spark.catalog import load_table
    from level2_to_cassandra_spark.operators.similarity import (
        centroid_stats,
    )
    from level2_to_cassandra_spark.registry import all_queries
    from level2_to_cassandra_spark.streaming.monitor import (
        gate_chain,
        outlier_gate_step,
        read_outlier_quarantine,
    )
    from tests.conftest import SF_SMOKE as sf_smoke

    em = load_table(spark, sf_smoke, "embeddings")
    cv, cnorm = centroid_stats(em, dim=64)

    src = str(tmp_path / "src")
    em.coalesce(1).write.parquet(src)
    base = str(tmp_path / "sink")
    clean_path = str(tmp_path / "clean")
    cb = gate_chain(
        lambda df, bid: df.write.mode("append").parquet(clean_path),
        outlier_gate_step(base, cv, cnorm),
    )
    q = (
        spark.readStream.schema(em.schema)
        .parquet(src)
        .writeStream.foreachBatch(cb)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream did not finish within 120s"

    want = all_queries()["q_embed_outlier"].fn(spark, sf_smoke).collect()
    want_clean = {r.vec_id for r in want if r.is_outlier == 0}
    want_out = {r.vec_id: r.cos_centroid for r in want
                if r.is_outlier == 1}
    assert want_out, "fixture must flag at least one outlier"

    clean_ids = {r.vec_id for r in spark.read.parquet(clean_path)
                 .collect()}
    assert clean_ids == want_clean
    qrows = read_outlier_quarantine(spark, base).collect()
    got_out = {r.vec_id: r.cos_centroid for r in qrows
               if r.reason == "outlier"}
    assert got_out == want_out
    # partition law: batch rows the query admitted land exactly once
    n_total = em.count()
    n_malformed = sum(1 for r in qrows if r.reason == "malformed")
    assert len(clean_ids) + len(got_out) + n_malformed == n_total


def test_streaming_outlier_gate_routes_malformed(spark, tmp_path):
    """Routing semantics on a constructed batch: aligned vectors pass
    to the inner sink, the anti-aligned vector quarantines with its
    cosine, and NULL / wrong-length / element-NULL / zero-norm vectors
    quarantine unscored as 'malformed' — the exact rows the batch
    query silently excludes become auditable at the ingest boundary."""
    from level2_to_cassandra_spark.streaming.monitor import (
        gate_chain,
        outlier_gate_step,
        read_outlier_quarantine,
    )

    base_v = [1.0] + [0.0] * 63
    anti_v = [-1.0] + [0.0] * 63
    rows = [(i, base_v, 0) for i in range(9)] + [(9, anti_v, 1)]
    rows += [(10, None, 0), (11, [1.0, 2.0], 0),
             (12, [None] + [0.0] * 63, 0), (13, [0.0] * 64, 0)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    src = str(tmp_path / "src")
    df.coalesce(1).write.parquet(src)

    from level2_to_cassandra_spark.operators.similarity import (
        centroid_stats,
    )
    cv, cnorm = centroid_stats(df, dim=64)
    base = str(tmp_path / "sink")
    clean_path = str(tmp_path / "clean")
    cb = gate_chain(
        lambda d, bid: d.write.mode("append").parquet(clean_path),
        outlier_gate_step(base, cv, cnorm),
    )
    q = (
        spark.readStream.schema(df.schema)
        .parquet(src)
        .writeStream.foreachBatch(cb)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)

    clean = spark.read.parquet(clean_path).collect()
    assert {r.vec_id for r in clean} == set(range(9))
    assert clean[0].embedding is not None  # original columns intact
    qrows = {r.vec_id: r for r in
             read_outlier_quarantine(spark, base).collect()}
    assert set(qrows) == {9, 10, 11, 12, 13}
    assert qrows[9].reason == "outlier" and qrows[9].cos_centroid < -0.15
    for vid in (10, 11, 12, 13):
        assert qrows[vid].reason == "malformed"
        assert qrows[vid].cos_centroid is None


def test_streaming_vocab_growth_parity_and_replay(spark, tmp_path):
    """vocab_growth_step: (a) the vocabulary after
    streaming equals the batch engine's distinct-term count over the
    same tokenizer; (b) a later batch contributes only UNSEEN terms,
    attributed to the first-writing batch; (c) replaying a batch
    through the callback contributes nothing — the growth curve is
    at-least-once-stable by construction.  Constructed corpus: the
    testdata fixture's unigram vocabulary is only ~31 words (fully
    covered by a handful of docs), so growth needs controlled text."""
    from level2_to_cassandra_spark.operators import text as text_ops
    from level2_to_cassandra_spark.streaming.monitor import (
        gate_chain,
        read_vocab_growth,
        vocab_growth_step,
    )

    schema = "doc_id long, text string"
    first = spark.createDataFrame(
        [(0, "w0 w1 w2 w3 w4"), (1, "w3 w4 w5 w6 w7"), (2, None)],
        schema,
    )
    second = spark.createDataFrame(
        [(3, "w5 w6 w7 w8 w9"), (4, "w9 wA wB")], schema
    )

    base = str(tmp_path / "sink")
    cb = gate_chain(lambda df, bid: None, vocab_growth_step(base))
    cb(first, 0)
    cb(second, 1)

    curve = {r.batch_id: r for r in
             read_vocab_growth(spark, base).collect()}
    assert set(curve) == {0, 1}
    n0 = first.select(
        F.explode(text_ops.tokens("text")).alias("t")).distinct().count()
    total = first.unionByName(second).select(
        F.explode(text_ops.tokens("text")).alias("t")).distinct().count()
    assert curve[0].n_new == n0 == 8          # w0..w7
    assert curve[0].vocab_size == n0
    assert curve[1].n_new == total - n0 == 4  # w8, w9, wA, wB only
    assert curve[1].vocab_size == total == 12

    # replay: batch 1 re-delivered — store and curve must not change
    cb(second, 1)
    again = {r.batch_id: (r.n_new, r.vocab_size) for r in
             read_vocab_growth(spark, base).collect()}
    assert again == {0: (n0, n0), 1: (total - n0, total)}


def test_streaming_shingle_df_journal_parity_and_replay(spark, tmp_path):
    """shingle_df_step: the journal reduced by
    read_hot_shingles must equal an INDEPENDENT DuckDB computation of
    q_text_boilerplate's hot set over the union of the delivered
    batches (not just the shared Spark helper — independent
    arithmetic), and replaying a batch must change nothing (the
    deterministic-rederivation journal law)."""
    import duckdb

    from level2_to_cassandra_spark.catalog import load_table
    from level2_to_cassandra_spark.streaming.monitor import (
        gate_chain,
        read_hot_shingles,
        shingle_df_step,
    )
    from tests.conftest import SF_SMOKE as sf_smoke

    docs = load_table(spark, sf_smoke, "documents")
    first = docs.where(F.col("doc_id") % 2 == 0)
    second = docs.where(F.col("doc_id") % 2 != 0)

    base = str(tmp_path / "sink")
    cb = gate_chain(lambda df, bid: None, shingle_df_step(base))
    cb(first, 0)
    cb(second, 1)

    got = {r.g3 for r in read_hot_shingles(spark, base).collect()}

    con = duckdb.connect()
    want = {
        r[0]
        for r in con.execute(f"""
            WITH g AS (
                SELECT doc_id, UNNEST(list_transform(
                    range(1, len(w) - 1),
                    i -> concat_ws(' ', w[i], w[i+1], w[i+2]))) AS g3
                FROM (SELECT doc_id, string_split(text, ' ') AS w
                      FROM '{sf_smoke}/documents.parquet')),
            dfreq AS (SELECT g3, COUNT(DISTINCT doc_id) AS df
                      FROM g GROUP BY g3),
            nd AS (SELECT GREATEST(5, CEIL(COUNT(*) / 500.0)) AS k
                   FROM '{sf_smoke}/documents.parquet')
            SELECT g3 FROM dfreq, nd WHERE df >= k
        """).fetchall()
    }
    assert got == want and got  # non-vacuous

    cb(second, 1)  # replay: identical rows under the same batch_id
    again = {r.g3 for r in read_hot_shingles(spark, base).collect()}
    assert again == want


def test_monitor_readers_empty_before_first_batch(spark, tmp_path):
    """Every monitor reader must return an EMPTY relation of its
    pinned schema when called before any batch has been delivered
    (ADVICE r12: the raw readers raised PATH_NOT_FOUND, unlike the
    admit stores' graceful empty-store classification) —
    dashboards and reconcile jobs poll these tables on a schedule
    that does not know whether the stream has produced yet."""
    from level2_to_cassandra_spark.streaming.monitor import (
        grid_rollup_bounds,
        read_classifier_rejects,
        read_covariance,
        read_drift,
        read_embed_drift,
        read_grid_partials,
        read_hot_shingles,
        read_ks,
        read_line_dedup,
        read_line_overspan,
        read_metrics,
        read_mixture,
        read_novelty,
        read_outlier_quarantine,
        read_quality_rejects,
        read_url_rejects,
        read_vocab_growth,
        read_vote_rejects,
    )

    base = str(tmp_path / "never_written")
    readers = {
        "metrics": lambda: read_metrics(spark, base, "events_tick"),
        "drift": lambda: read_drift(spark, base),
        "ks": lambda: read_ks(spark, base),
        "novelty": lambda: read_novelty(spark, base),
        "embed_drift": lambda: read_embed_drift(spark, base),
        "covariance": lambda: read_covariance(spark, base),
        "outliers": lambda: read_outlier_quarantine(spark, base),
        "vocab": lambda: read_vocab_growth(spark, base),
        "hot_shingles": lambda: read_hot_shingles(spark, base),
        "line_overspan": lambda: read_line_overspan(spark, base),
        "line_dedup": lambda: read_line_dedup(spark, base),
        "quality_rejects": lambda: read_quality_rejects(spark, base),
        "vote_rejects": lambda: read_vote_rejects(spark, base),
        "mixture": lambda: read_mixture(spark, base),
        "classifier_rejects": lambda: read_classifier_rejects(spark, base),
        "url_rejects": lambda: read_url_rejects(spark, base),
        "grid_partials": lambda: read_grid_partials(spark, base),
        "grid_bounds": lambda: grid_rollup_bounds(spark, base),
    }
    for name, fn in readers.items():
        df = fn()
        assert df.count() == 0, name
        assert len(df.schema) > 0, name
    # schema shape is the READ schema, not inference over nothing
    assert [f.name for f in readers["covariance"]().schema] == [
        "i", "j", "cov", "n"
    ]
    assert [f.name for f in readers["vocab"]().schema] == [
        "batch_id", "n_new", "vocab_size"
    ]


def _journal_tree(spark, root, distinct=False):
    """Every parquet directory under ``root`` → its sorted rows
    (without duplicates when ``distinct``)."""
    import os

    out = {}
    for d, _, files in os.walk(root):
        if any(f.endswith(".parquet") for f in files):
            df = spark.read.parquet(d)
            out[os.path.relpath(d, root)] = sorted(
                (df.dropDuplicates() if distinct else df).collect(), key=repr
            )
    return out


def _journal_files(root):
    import os

    return sorted(
        os.path.relpath(os.path.join(d, f), root)
        for d, _, files in os.walk(root) for f in files
    )


def _gate_docs(spark):
    """The smoke documents split at the median doc_id: two batches."""
    from level2_to_cassandra_spark.catalog import load_table
    from tests.conftest import SF_SMOKE as sf_smoke

    docs = load_table(spark, sf_smoke, "documents")
    cut = docs.agg(
        F.percentile_approx("doc_id", F.lit(0.5)).alias("m")
    ).first()["m"]
    return [docs.where(F.col("doc_id") <= cut),
            docs.where(F.col("doc_id") > cut)]


@pytest.mark.parametrize("gate", [
    "mixture", "quality_gate", "url_dedup", "chain", "incremental_dedup",
])
def test_gate_failed_write_journals_nothing_and_retry_matches(
    spark, tmp_path, gate
):
    """The gate-chain contract on a pure audit (mixture), a stateless
    split (quality gate), a seen-store gate (URL dedup), the three
    chained, and the incremental-dedup admit step: when the sink
    write raises, no step writes a journal or store file and
    every frame the chain persisted is released; a retry of the same
    batch_id then admits and journals exactly what a clean run does
    (row multisets, not just after the readers' replay dedup)."""
    from level2_to_cassandra_spark.operators import dedup
    from level2_to_cassandra_spark.streaming import monitor

    steps = {
        "mixture": lambda base: [monitor.mixture_step(base)],
        "quality_gate": lambda base: [monitor.quality_gate_step(base)],
        "url_dedup": lambda base: [monitor.url_dedup_step(base)],
        "chain": lambda base: [
            monitor.mixture_step(base), monitor.quality_gate_step(base),
            monitor.url_dedup_step(base),
        ],
        "incremental_dedup": lambda base: [
            dedup.incremental_dedup_step(f"{base}/_hashes")
        ],
    }[gate]
    batches = _gate_docs(spark)
    sc = spark.sparkContext

    def run(base, fail_batch=None):
        admitted: dict = {}
        state = {"fail": False}

        def inner(df, bid):
            if state["fail"]:
                df.count()                  # materialize the caches
                state["cached"] = sc._jsc.getPersistentRDDs().size()
                raise RuntimeError("sink down")
            admitted[bid] = sorted(
                r.doc_id for r in df.select("doc_id").collect()
            )

        cb = monitor.gate_chain(inner, *steps(base))
        for i, b in enumerate(batches):
            if i == fail_batch:
                files = _journal_files(base)
                n_rdds = sc._jsc.getPersistentRDDs().size()
                state["fail"] = True
                with pytest.raises(RuntimeError, match="sink down"):
                    cb(b, i)
                assert state["cached"] > n_rdds        # non-vacuous
                assert sc._jsc.getPersistentRDDs().size() == n_rdds
                assert _journal_files(base) == files
                state["fail"] = False
            cb(b, i)
        return admitted, _journal_tree(spark, base)

    clean = run(str(tmp_path / "clean"))
    retried = run(str(tmp_path / "retried"), fail_batch=1)
    assert retried == clean
    admitted, journals = clean
    assert admitted[0] and admitted[1] and journals  # non-vacuous
    if gate in ("url_dedup", "chain"):
        assert {"_url_dedup/seen", "_url_dedup/rejects"} <= set(journals)
        assert {k for k in journals if k.startswith("_url_dedup/")} == {
            "_url_dedup/seen", "_url_dedup/rejects"}  # no side journal
    if gate == "chain":
        assert {"_mixture/cells", "_quality_gate/rejects"} <= set(journals)
    if gate == "incremental_dedup":
        assert "_hashes" in journals


def test_gate_chain_equals_one_step_chains_in_sequence(spark, tmp_path):
    """A three-step chain (quality gate → mixture → URL dedup) gives the
    same sink rows and the same journal rows as the three steps run
    one after another, each in its own one-step chain fed by the
    previous chain's admitted output: every step sees the rows the
    step before it admitted, and the mixture cells count only the
    docs the quality gate passed."""
    from level2_to_cassandra_spark.streaming import monitor

    def steps(base):
        return [monitor.quality_gate_step(base), monitor.mixture_step(base),
                monitor.url_dedup_step(base)]

    def sink_rows(df):
        return sorted(df.collect(), key=repr)

    batches = _gate_docs(spark)
    chained: dict = {}
    cb = monitor.gate_chain(
        lambda df, bid: chained.setdefault(bid, sink_rows(df)),
        *steps(str(tmp_path / "chained")),
    )
    for i, b in enumerate(batches):
        cb(b, i)

    stage = str(tmp_path / "stage")
    one_step = [
        monitor.gate_chain(
            lambda df, bid, k=k: df.write.parquet(f"{stage}/{k}/{bid}"),
            step,
        )
        for k, step in enumerate(steps(str(tmp_path / "sequential")))
    ]
    sequential = {}
    for i, b in enumerate(batches):
        for k, chain in enumerate(one_step):
            chain(b, i)
            b = spark.read.parquet(f"{stage}/{k}/{i}")
        sequential[i] = sink_rows(b)

    assert chained == sequential
    assert chained[0] and chained[1]                 # non-vacuous
    journals = _journal_tree(spark, str(tmp_path / "chained"))
    assert journals == _journal_tree(spark, str(tmp_path / "sequential"))
    assert {"_quality_gate/rejects", "_mixture/cells",
            "_url_dedup/rejects", "_url_dedup/seen"} <= set(journals)
    n_passed = sum(r.n_docs for r in journals["_mixture/cells"])
    assert n_passed < sum(b.count() for b in batches)


def test_gate_chain_persists_batch_once_per_trigger(
    spark, tmp_path, monkeypatch
):
    """A chain of three pure audits persists the raw batch exactly once
    per trigger (nesting three one-gate callbacks would persist it
    three times) and releases it after the appends."""
    from pyspark import StorageLevel

    from level2_to_cassandra_spark.streaming import monitor

    batches = _gate_docs(spark)
    frame_cls = type(batches[0])
    persisted = []
    real_persist = frame_cls.persist

    def spy(self, *args, **kwargs):
        persisted.append(self)
        return real_persist(self, *args, **kwargs)

    monkeypatch.setattr(frame_cls, "persist", spy)
    base = str(tmp_path / "sink")
    cb = monitor.gate_chain(
        lambda df, bid: df.count(), monitor.mixture_step(base),
        monitor.vocab_growth_step(base), monitor.shingle_df_step(base),
    )
    for i, b in enumerate(batches):
        persisted.clear()
        cb(b, i)
        assert sum(df is b for df in persisted) == 1
        assert b.storageLevel == StorageLevel.NONE


def test_ks_gate_teardown_releases_reference_cache(spark, tmp_path):
    """ks_step persists its reference grid for the
    stream's lifetime; the step's ``teardown()`` handle releases
    it (and is idempotent)."""
    from pyspark import StorageLevel

    from level2_to_cassandra_spark.operators.drift import (
        ks_reference_dist,
    )
    from level2_to_cassandra_spark.streaming.monitor import (
        gate_chain,
        ks_step,
    )

    schema = "event_type string, value double"
    ref = ks_reference_dist(spark.createDataFrame(
        [("a", float(v % 100)) for v in range(200)], schema
    ))
    sc = spark.sparkContext
    n_rdds = sc._jsc.getPersistentRDDs().size()
    step = ks_step(str(tmp_path / "sink"), ref)
    cb = gate_chain(lambda df, bid: None, step)
    cb(spark.createDataFrame([("a", 3.0), ("a", 70.0)], schema), 0)
    assert ref.storageLevel != StorageLevel.NONE
    assert sc._jsc.getPersistentRDDs().size() == n_rdds + 1
    step.teardown()
    assert ref.storageLevel == StorageLevel.NONE
    assert sc._jsc.getPersistentRDDs().size() == n_rdds
    step.teardown()


def test_ks_operator_parity_with_registered_query(spark):
    """operators/drift.py KS split must reproduce q_drift_ks exactly
    when fed the query's own window split: ks_reference_dist on the
    first half, ks_against_reference on the second — same statistic,
    flags and totals per key (the fold-form-vs-kernel discipline that
    binds every build/score split to its hash-verified batch spec)."""
    from level2_to_cassandra_spark.catalog import load_table
    from level2_to_cassandra_spark.operators.drift import (
        ks_against_reference,
        ks_reference_dist,
    )
    from level2_to_cassandra_spark.registry import all_queries
    from tests.conftest import SF_SMOKE as sf_smoke

    ev = load_table(spark, sf_smoke, "events")
    cut = F.lit("2024-01-16").cast("timestamp")
    ref = ks_reference_dist(ev.where(F.col("ts") < cut))
    # NULL ts rows belong to 'cur' in the query's when/otherwise split
    cur = ev.where(F.col("ts").isNull() | (F.col("ts") >= cut))
    got = {
        r.key: (r.n_ref, r.n_batch, r.ks, r.drift_flag)
        for r in ks_against_reference(cur, ref).collect()
    }
    want = {
        r.event_type: (r.n_ref, r.n_cur, r.ks, r.drift_flag)
        for r in all_queries()["q_drift_ks"].fn(spark, sf_smoke).collect()
    }
    assert got == want
    assert got  # the fixture must actually produce scored keys


def test_streaming_ks_audit_flags_shifted_batch(spark, tmp_path):
    """ks_step: one audit row per scored key per batch;
    a same-distribution batch passes while a location-shifted batch
    (which PSI's 10 coarse bins could partially smear) raises the KS
    flag; replayed batches duplicate audit rows that readers dedup on
    (batch_id, key) — the journal discipline."""
    from level2_to_cassandra_spark.operators.drift import (
        ks_reference_dist,
    )
    from level2_to_cassandra_spark.streaming.monitor import (
        gate_chain,
        ks_step,
        read_ks,
    )

    ref_rows = [("a", float(v % 100)) for v in range(200)]
    ref = ks_reference_dist(
        spark.createDataFrame(ref_rows, "event_type string, value double")
    )

    src = str(tmp_path / "src")
    ok = [("a", float((v * 37) % 100)) for v in range(50)]
    shifted = [("a", 55.0 + float(v % 45)) for v in range(40)]
    spark.createDataFrame(
        ok, "event_type string, value double"
    ).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(
        shifted, "event_type string, value double"
    ).coalesce(1).write.mode("append").parquet(src)

    base = str(tmp_path / "sink")
    cb = gate_chain(lambda df, bid: None, ks_step(base, ref))
    q = (
        spark.readStream.schema("event_type string, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .writeStream.foreachBatch(cb)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream did not finish within 120s"

    rows = read_ks(spark, base).collect()
    assert len(rows) == 2 and len({r.batch_id for r in rows}) == 2
    by_size = {r.n_batch: r for r in rows}
    assert set(by_size) == {50, 40}
    assert not by_size[50].drift_flag      # same distribution
    assert by_size[40].drift_flag          # location-shifted batch
    assert all(r.key == "a" and r.n_ref == 200 for r in rows)

    # at-least-once replay: re-delivering batch 0's callback appends a
    # duplicate audit row; the reader-side dedup key collapses it
    batch0 = spark.createDataFrame(ok, "event_type string, value double")
    cb(batch0, 0)
    replayed = read_ks(spark, base)
    assert replayed.count() == 3
    assert replayed.dropDuplicates(["batch_id", "key"]).count() == 2


def test_shingle_df_compaction_reader_equivalence_and_replay(
    spark, tmp_path
):
    """compact_shingle_df (VERDICT r13 #5): folding the journal into
    one watermarked segment must leave every reader observation
    IDENTICAL — the hot set before == after, new post-compaction
    batches keep accumulating on top of the segment, and a batch
    REPLAYED after its id was folded is ignored (the watermark filter
    preserves replay idempotence across the fold).  The raw delta
    files are reclaimed, so the next reduction reads one segment, not
    the whole history."""
    import glob as globmod

    from level2_to_cassandra_spark.catalog import load_table
    from level2_to_cassandra_spark.streaming.monitor import (
        _shingle_df_state,
        compact_shingle_df,
        gate_chain,
        read_hot_shingles,
        shingle_df_path,
        shingle_df_step,
    )
    from tests.conftest import SF_SMOKE as sf_smoke

    docs = load_table(spark, sf_smoke, "documents")
    b0 = docs.where(F.col("doc_id") % 3 == 0)
    b1 = docs.where(F.col("doc_id") % 3 == 1)
    b2 = docs.where(F.col("doc_id") % 3 == 2)

    base = str(tmp_path / "sink")
    cb = gate_chain(lambda df, bid: None, shingle_df_step(base))
    cb(b0, 0)
    cb(b1, 1)

    before_hot = {r.g3 for r in read_hot_shingles(spark, base).collect()}
    dfreq, n_docs = _shingle_df_state(spark, base)
    before_df = {(r.g3, r.df) for r in dfreq.collect()}
    before_nd = n_docs.first()["n_docs"]

    assert compact_shingle_df(spark, base) == 1
    # raw deltas reclaimed — the journal is now one segment
    assert not globmod.glob(f"{shingle_df_path(base)}/dfs/*.parquet")

    dfreq2, n_docs2 = _shingle_df_state(spark, base)
    assert {(r.g3, r.df) for r in dfreq2.collect()} == before_df
    assert n_docs2.first()["n_docs"] == before_nd
    assert {
        r.g3 for r in read_hot_shingles(spark, base).collect()
    } == before_hot

    # replay of a FOLDED batch: rows land under batch_id <= watermark
    # and the reader never counts them
    cb(b1, 1)
    dfreq3, n_docs3 = _shingle_df_state(spark, base)
    assert {(r.g3, r.df) for r in dfreq3.collect()} == before_df
    assert n_docs3.first()["n_docs"] == before_nd

    # a genuinely new batch accumulates on top of the segment, and the
    # combined state equals the never-compacted journal over all three
    cb(b2, 2)
    base_ref = str(tmp_path / "sink_ref")
    cb_ref = gate_chain(lambda df, bid: None, shingle_df_step(base_ref))
    cb_ref(b0, 0)
    cb_ref(b1, 1)
    cb_ref(b2, 2)
    dfreq_a, nd_a = _shingle_df_state(spark, base)
    dfreq_b, nd_b = _shingle_df_state(spark, base_ref)
    assert (
        {(r.g3, r.df) for r in dfreq_a.collect()}
        == {(r.g3, r.df) for r in dfreq_b.collect()}
    )
    assert nd_a.first()["n_docs"] == nd_b.first()["n_docs"]

    # second fold over segment + new delta; no-op when nothing is new
    assert compact_shingle_df(spark, base) == 2
    assert compact_shingle_df(spark, base) is None
    dfreq_c, nd_c = _shingle_df_state(spark, base)
    assert (
        {(r.g3, r.df) for r in dfreq_c.collect()}
        == {(r.g3, r.df) for r in dfreq_b.collect()}
    )
    assert nd_c.first()["n_docs"] == nd_b.first()["n_docs"]


def test_shingle_df_compaction_docs_only_trailing_batch(spark, tmp_path):
    """Self-review r14: the docs journal gets a row from EVERY batch
    but the dfs journal only from batches that produced shingles — the
    fold watermark must therefore cover the max batch_id across BOTH
    journals, or a trailing shingle-free batch's doc count is folded
    under a lower watermark and double-counted when that batch
    replays.  This pins the fix: fold, replay the shingle-free batch,
    and require the doc total unchanged."""
    from level2_to_cassandra_spark.streaming.monitor import (
        _shingle_df_state,
        compact_shingle_df,
        gate_chain,
        shingle_df_step,
    )

    base = str(tmp_path / "sink")
    cb = gate_chain(lambda df, bid: None, shingle_df_step(base))
    shingled = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma zeta")],
        "doc_id long, text string",
    )
    # every doc under 3 tokens — writes a docs row but NO dfs rows
    shingle_free = spark.createDataFrame(
        [(3, "tiny doc"), (4, "also small")],
        "doc_id long, text string",
    )
    cb(shingled, 0)
    cb(shingle_free, 1)

    _, n_docs = _shingle_df_state(spark, base)
    assert n_docs.first()["n_docs"] == 4

    # the watermark must cover batch 1 (docs-journal max), not just
    # the dfs journal's max of 0
    assert compact_shingle_df(spark, base) == 1

    _, n_docs2 = _shingle_df_state(spark, base)
    assert n_docs2.first()["n_docs"] == 4

    # replay the folded shingle-free batch: rows land at batch_id 1
    # <= watermark 1 and must NOT re-count
    cb(shingle_free, 1)
    dfreq3, n_docs3 = _shingle_df_state(spark, base)
    assert n_docs3.first()["n_docs"] == 4
    assert {(r.g3, r.df) for r in dfreq3.collect()} == {
        ("alpha beta gamma", 2), ("beta gamma delta", 1),
        ("beta gamma zeta", 1),
    }


def test_shingle_df_compaction_noop_without_any_shingles(spark, tmp_path):
    """A journal whose every batch is shingle-free has no vocabulary
    growth to bound: compaction is a no-op (never an orphaned docs
    generation under an unmovable dfs watermark) and the raw journal
    keeps serving the doc counts."""
    from level2_to_cassandra_spark.streaming.monitor import (
        _shingle_df_state,
        compact_shingle_df,
        gate_chain,
        shingle_df_step,
    )

    base = str(tmp_path / "sink")
    cb = gate_chain(lambda df, bid: None, shingle_df_step(base))
    cb(spark.createDataFrame([(1, "too small")],
                             "doc_id long, text string"), 0)
    assert compact_shingle_df(spark, base) is None
    _, n_docs = _shingle_df_state(spark, base)
    assert n_docs.first()["n_docs"] == 1


def test_ks_operator_parity_with_null_keys(spark, tmp_path):
    """KS parity must hold when the KEY column itself is NULL — and
    here the batch spec's behavior DIFFERS from q_drift_psi's:
    q_drift_ks groups on event_type directly (no inner bounds join),
    so a NULL key IS scored as one group when both windows contain it.
    The operator twin's full-outer merge is NULL-SAFE on the key leg
    for exactly this reason; parity on a NULL-key corpus must
    reproduce the NULL-key row's numbers, not drop it."""
    from level2_to_cassandra_spark.operators.drift import (
        ks_against_reference,
        ks_reference_dist,
    )
    from level2_to_cassandra_spark.registry import all_queries

    rows = []
    for i in range(200):
        side = "2024-01-10" if i % 2 == 0 else "2024-01-20"
        # i%5==0 hits both even and odd i → NULL keys land in BOTH
        # windows (the null-values test's construction)
        key = None if i % 5 == 0 else ("click" if i % 3 else "view")
        rows.append((key, float((i * 13) % 97), side))
    # one-sided keys: present in exactly one window each — both the
    # query and the operator must OMIT them (and, since r14's NULLIF
    # guard, must not throw DIVIDE_BY_ZERO computing their CDF ratio
    # under ANSI mode before the omission filter runs)
    rows += [("refonly", float(v), "2024-01-10") for v in range(5)]
    rows += [("curonly", float(v), "2024-01-20") for v in range(5)]
    ev = spark.createDataFrame(
        rows, "event_type string, value double, day string"
    ).select(
        "event_type", "value", F.col("day").cast("timestamp").alias("ts")
    )
    sf_dir = str(tmp_path / "sf_nullkey_ks")
    ev.coalesce(1).write.parquet(f"{sf_dir}/events.parquet")

    cut = F.lit("2024-01-16").cast("timestamp")
    ref = ks_reference_dist(ev.where(F.col("ts") < cut))
    cur = ev.where(F.col("ts").isNull() | (F.col("ts") >= cut))
    got = {
        r.key: (r.n_ref, r.n_batch, r.ks, r.drift_flag)
        for r in ks_against_reference(cur, ref).collect()
    }
    want = {
        r.event_type: (r.n_ref, r.n_cur, r.ks, r.drift_flag)
        for r in all_queries()["q_drift_ks"].fn(spark, sf_dir).collect()
    }
    assert got == want
    assert None in want  # the batch spec scores the NULL-key group
    assert set(got) == {None, "click", "view"}  # one-sided keys omitted


def test_shingle_df_compaction_lock_and_leftover_reclaim(
    spark, tmp_path
):
    """Crash/concurrency hardening (r14 follow-up review): (a) two
    concurrent folds are excluded by the journal flock — the loser
    raises CompactionLockHeld, touches nothing; (b) a fold that
    crashed after committing its generation but before reclaiming is
    FINISHED by the next maintenance run's no-op path (replayed raw
    rows at or below the watermark are swept, state unchanged)."""
    import fcntl
    import glob as globmod
    import os

    import pytest

    from level2_to_cassandra_spark.streaming.monitor import (
        _shingle_df_state,
        compact_shingle_df,
        gate_chain,
        shingle_df_path,
        shingle_df_step,
    )
    from level2_to_cassandra_spark.streaming.sink import CompactionLockHeld

    base = str(tmp_path / "sink")
    cb = gate_chain(lambda df, bid: None, shingle_df_step(base))
    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta") for i in range(4)],
        "doc_id long, text string",
    )
    cb(docs, 0)

    # (a) contention: hold the journal flock and expect the fold to
    # refuse rather than run concurrently
    root = shingle_df_path(base)
    os.makedirs(root, exist_ok=True)
    fd = os.open(f"{root}/_compact.lock", os.O_CREAT | os.O_RDWR)
    fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
    try:
        with pytest.raises(CompactionLockHeld):
            compact_shingle_df(spark, base)
    finally:
        os.close(fd)

    assert compact_shingle_df(spark, base) == 0
    dfreq_before, nd_before = _shingle_df_state(spark, base)
    want = {(r.g3, r.df) for r in dfreq_before.collect()}
    want_nd = nd_before.first()["n_docs"]

    # (b) simulate the crashed-fold aftermath: replayed raw rows land
    # at batch_id <= watermark (invisible to the reader) — the next
    # run must return None AND sweep them
    cb(docs, 0)
    assert globmod.glob(f"{root}/dfs/*.parquet")
    assert compact_shingle_df(spark, base) is None
    assert not globmod.glob(f"{root}/dfs/*.parquet")
    dfreq_after, nd_after = _shingle_df_state(spark, base)
    assert {(r.g3, r.df) for r in dfreq_after.collect()} == want
    assert nd_after.first()["n_docs"] == want_nd


def test_streaming_novelty_parity_and_replay(spark, tmp_path):
    """novelty_step must reproduce q_text_novelty
    row-for-row when batches partition the fixture in doc_id order
    (first-occurrence credit is global min doc_id — the batch spec's
    rule), and a replayed batch must re-derive IDENTICAL rows (its
    own store contributions are batch_id-filtered out of the probe)."""
    from level2_to_cassandra_spark.catalog import load_table
    from level2_to_cassandra_spark.registry import all_queries
    from level2_to_cassandra_spark.streaming.monitor import (
        gate_chain,
        novelty_step,
        read_novelty,
    )
    from tests.conftest import SF_SMOKE as sf_smoke

    docs = load_table(spark, sf_smoke, "documents")
    cut = docs.agg(
        F.percentile_approx("doc_id", F.lit(0.5)).alias("m")
    ).first()["m"]
    b0 = docs.where(F.col("doc_id") <= cut)
    b1 = docs.where(F.col("doc_id") > cut)

    base = str(tmp_path / "sink")
    cb = gate_chain(lambda df, bid: None, novelty_step(base))
    cb(b0, 0)
    cb(b1, 1)

    got = {
        r.doc_id: (r.n_shingles, r.n_novel, r.novelty)
        for r in read_novelty(spark, base).collect()
    }
    want = {
        r.doc_id: (r.n_shingles, r.n_novel, r.novelty)
        for r in all_queries()["q_text_novelty"].fn(
            spark, sf_smoke).collect()
    }
    assert got == want and got

    # replay batch 1 AFTER its store rows landed: the probe filters
    # them out (batch_id < 1), so the re-derived rows are identical
    # and the reader's (batch_id, doc_id) dedup collapses them
    cb(b1, 1)
    again = {
        r.doc_id: (r.n_shingles, r.n_novel, r.novelty)
        for r in read_novelty(spark, base).collect()
    }
    assert again == want


def test_streaming_line_dedup_parity_and_replay(spark, tmp_path):
    """line_dedup_step must reproduce q_dedup_lines
    row-for-row (n_lines, n_kept AND the reassembled kept_text) when
    batches partition the fixture in doc_id order — first-occurrence
    credit is the global min packed (doc_id, line_no) key, the batch
    spec's rule — and a replayed batch must re-derive IDENTICAL rows
    (its own store contributions are batch_id-filtered out of the
    probe)."""
    from level2_to_cassandra_spark.catalog import load_table
    from level2_to_cassandra_spark.registry import all_queries
    from level2_to_cassandra_spark.streaming.monitor import (
        gate_chain,
        line_dedup_step,
        read_line_dedup,
    )
    from tests.conftest import SF_SMOKE as sf_smoke

    docs = load_table(spark, sf_smoke, "documents")
    cut = docs.agg(
        F.percentile_approx("doc_id", F.lit(0.5)).alias("m")
    ).first()["m"]
    b0 = docs.where(F.col("doc_id") <= cut)
    b1 = docs.where(F.col("doc_id") > cut)

    base = str(tmp_path / "sink")
    cb = gate_chain(lambda df, bid: None, line_dedup_step(base))
    cb(b0, 0)
    cb(b1, 1)

    got = {
        r.doc_id: (r.n_lines, r.n_kept, r.kept_text)
        for r in read_line_dedup(spark, base).collect()
    }
    want = {
        r.doc_id: (r.n_lines, r.n_kept, r.kept_text)
        for r in all_queries()["q_dedup_lines"].fn(
            spark, sf_smoke).collect()
    }
    assert got == want and got

    # replay batch 1 AFTER its store rows landed: the probe filters
    # them out (batch_id < 1), so the re-derived rows are identical
    # and the reader's (batch_id, doc_id) dedup collapses them
    cb(b1, 1)
    again = {
        r.doc_id: (r.n_lines, r.n_kept, r.kept_text)
        for r in read_line_dedup(spark, base).collect()
    }
    assert again == want


def test_streaming_grid_rollup_parity_and_replay(spark, tmp_path):
    """grid_rollup_step's journal, folded and walked by
    grid_rollup_bounds, must reproduce q_rollup_quantile's partial-
    derived bound columns EXACTLY even when the batches split the
    fixture on a NON-time-aligned key (event_id % 3) — the
    mergeability of (count, min, max) grid partials is precisely what
    makes any batching equivalent to the one-shot aggregate.  A
    replayed batch must collapse in the reader (deterministic rows,
    journal keyed by batch_id)."""
    from level2_to_cassandra_spark.catalog import load_table
    from level2_to_cassandra_spark.registry import all_queries
    from level2_to_cassandra_spark.streaming.monitor import (
        gate_chain,
        grid_rollup_bounds,
        grid_rollup_step,
    )
    from tests.conftest import SF_SMOKE as sf_smoke

    ev = load_table(spark, sf_smoke, "events")
    base = str(tmp_path / "sink")
    cb = gate_chain(lambda df, bid: None, grid_rollup_step(base))
    for i in range(3):
        cb(ev.where(F.col("event_id") % 3 == i), i)

    got = {
        (r.bucket, r.key): (r.n, r.p50_lo, r.p50_hi, r.p95_lo, r.p95_hi)
        for r in grid_rollup_bounds(spark, base, grain="hour").collect()
    }
    want = {
        (r.hour, r.event_type): (r.n, r.p50_lo, r.p50_hi,
                                 r.p95_lo, r.p95_hi)
        for r in all_queries()["q_rollup_quantile"].fn(
            spark, sf_smoke).collect()
    }
    assert got == want and got

    # day-grain serving off the SAME journal — no raw re-scan, bounds
    # still contain the exact day quantiles
    day = grid_rollup_bounds(spark, base, grain="day").collect()
    exact = {
        (r.day, r.event_type): (r.e50, r.e95)
        for r in ev.groupBy(
            F.date_trunc("day", "ts").alias("day"), "event_type"
        ).agg(
            F.percentile("value", F.lit(0.5)).alias("e50"),
            F.percentile("value", F.lit(0.95)).alias("e95"),
        ).collect()
    }
    assert day
    for r in day:
        e50, e95 = exact[(r.bucket, r.key)]
        assert r.p50_lo <= e50 <= r.p50_hi
        assert r.p95_lo <= e95 <= r.p95_hi

    # replay batch 2: its journal rows are deterministic duplicates;
    # the reader's (batch_id, minute, key, bin) dedup collapses them
    cb(ev.where(F.col("event_id") % 3 == 2), 2)
    again = {
        (r.bucket, r.key): (r.n, r.p50_lo, r.p50_hi, r.p95_lo, r.p95_hi)
        for r in grid_rollup_bounds(spark, base, grain="hour").collect()
    }
    assert again == want


def test_streaming_quality_gate_parity_and_replay(spark, tmp_path):
    """quality_gate_step: admitted ∪ rejects must
    PARTITION every batch (nothing dropped, nothing doubled), the
    reject journal's metric columns must equal q_quality_gopher's
    pass_gopher=0 rows bit-for-bit (shared gopher_stats transform),
    admitted doc_ids must equal the batch query's pass_gopher=1 set,
    and a replayed batch must collapse in the reader (the gate is
    stateless — rows are deterministic re-derivations)."""
    from level2_to_cassandra_spark.catalog import load_table
    from level2_to_cassandra_spark.registry import all_queries
    from level2_to_cassandra_spark.streaming.monitor import (
        gate_chain,
        quality_gate_step,
        read_quality_rejects,
    )
    from tests.conftest import SF_SMOKE as sf_smoke

    docs = load_table(spark, sf_smoke, "documents")
    cut = docs.agg(
        F.percentile_approx("doc_id", F.lit(0.5)).alias("m")
    ).first()["m"]
    batches = [
        docs.where(F.col("doc_id") <= cut),
        docs.where(F.col("doc_id") > cut),
    ]

    base = str(tmp_path / "sink")
    admitted: list = []
    cb = gate_chain(
        lambda df, bid: admitted.extend(
            (bid, r.doc_id) for r in df.select("doc_id").collect()
        ),
        quality_gate_step(base),
    )
    for i, b in enumerate(batches):
        cb(b, i)

    gopher = all_queries()["q_quality_gopher"].fn(spark, sf_smoke)
    want_admit = {r.doc_id for r in gopher.where("pass_gopher = 1")
                  .collect()}
    want_reject = {
        r.doc_id: (r.n_words, r.mean_word_len, r.alpha_frac,
                   r.symbol_ratio)
        for r in gopher.where("pass_gopher = 0").collect()
    }
    got_admit = {d for _, d in admitted}
    assert len(admitted) == len(got_admit)       # nothing doubled
    assert got_admit == want_admit
    rejects = read_quality_rejects(spark, base).collect()
    got_reject = {
        r.doc_id: (r.n_words, r.mean_word_len, r.alpha_frac,
                   r.symbol_ratio)
        for r in rejects
    }
    assert got_reject == want_reject
    assert len(rejects) == len(got_reject)       # unique per doc
    # partition law: every fixture doc landed exactly once somewhere
    assert got_admit | set(got_reject) == {
        r.doc_id for r in docs.select("doc_id").collect()
    }
    assert not (got_admit & set(got_reject))

    # replay batch 1: stateless gate re-derives identical legs; the
    # reader's (batch_id, doc_id) dedup collapses the journal rows
    cb(batches[1], 1)
    again = {
        r.doc_id: (r.n_words, r.mean_word_len, r.alpha_frac,
                   r.symbol_ratio)
        for r in read_quality_rejects(spark, base).collect()
    }
    assert again == want_reject


def test_streaming_classifier_gate_parity_and_replay(spark, tmp_path):
    """classifier_gate_step: admitted ∪ rejects must
    PARTITION every batch, the admitted doc_ids must equal the batch
    _calib_lab bin ≥ t split (the exact rule q_classifier_threshold's
    sweep prices — shared transform, bit-for-bit), the reject
    journal's decision inputs must equal the batch relation's, the
    admitted count must REPRODUCE the sweep's n_pred_pos row for t,
    and a replayed batch must collapse in the reader (stateless
    gate)."""
    from level2_to_cassandra_spark.catalog import load_table
    from level2_to_cassandra_spark.queries.traindata import _calib_lab
    from level2_to_cassandra_spark.registry import all_queries
    from level2_to_cassandra_spark.streaming.monitor import (
        classifier_gate_step,
        gate_chain,
        read_classifier_rejects,
    )
    from tests.conftest import SF_SMOKE as sf_smoke

    t_bin = 5
    docs = load_table(spark, sf_smoke, "documents")
    cut = docs.agg(
        F.percentile_approx("doc_id", F.lit(0.5)).alias("m")
    ).first()["m"]
    batches = [
        docs.where(F.col("doc_id") <= cut),
        docs.where(F.col("doc_id") > cut),
    ]

    base = str(tmp_path / "sink")
    admitted: list = []
    cb = gate_chain(
        lambda df, bid: admitted.extend(
            (bid, r.doc_id) for r in df.select("doc_id").collect()
        ),
        classifier_gate_step(base,
        threshold_bin=t_bin),
    )
    for i, b in enumerate(batches):
        cb(b, i)

    lab = _calib_lab(docs, keep=("doc_id",)).collect()
    want_admit = {r.doc_id for r in lab
                  if r.bin is not None and r.bin >= t_bin}
    want_reject = {r.doc_id: (r.bin, r.score, r.p) for r in lab
                   if r.bin is None or r.bin < t_bin}
    got_admit = {d for _, d in admitted}
    assert len(admitted) == len(got_admit)       # nothing doubled
    assert got_admit == want_admit
    rejects = read_classifier_rejects(spark, base).collect()
    got_reject = {r.doc_id: (r.bin, r.score, r.p) for r in rejects}
    assert got_reject == want_reject
    assert len(rejects) == len(got_reject)       # unique per doc
    # partition law: every fixture doc landed exactly once somewhere
    assert got_admit | set(got_reject) == {
        r.doc_id for r in docs.select("doc_id").collect()
    }
    assert not (got_admit & set(got_reject))
    # the gate reproduces the sweep row it was deployed from
    sweep = {r.t: r.n_pred_pos
             for r in all_queries()["q_classifier_threshold"]
             .fn(spark, sf_smoke).collect()}
    assert len(got_admit) == sweep[t_bin]

    # replay batch 1: stateless gate re-derives identical legs; the
    # reader's (batch_id, doc_id) dedup collapses the journal rows
    cb(batches[1], 1)
    again = {r.doc_id: (r.bin, r.score, r.p)
             for r in read_classifier_rejects(spark, base).collect()}
    assert again == want_reject


def test_streaming_vote_gate_parity_and_replay(spark, tmp_path):
    """quality_vote_step: admitted ∪ rejects must
    PARTITION every batch, admitted doc_ids must equal q_quality_vote's
    admit=1 set (shared quality_votes transform, bit-for-bit), the
    reject journal's gate bits must equal the batch query's reject
    rows, and a replayed batch must collapse in the reader."""
    from level2_to_cassandra_spark.catalog import load_table
    from level2_to_cassandra_spark.registry import all_queries
    from level2_to_cassandra_spark.streaming.monitor import (
        gate_chain,
        quality_vote_step,
        read_vote_rejects,
    )
    from tests.conftest import SF_SMOKE as sf_smoke

    docs = load_table(spark, sf_smoke, "documents")
    cut = docs.agg(
        F.percentile_approx("doc_id", F.lit(0.5)).alias("m")
    ).first()["m"]
    batches = [
        docs.where(F.col("doc_id") <= cut),
        docs.where(F.col("doc_id") > cut),
    ]

    base = str(tmp_path / "sink")
    admitted: list = []
    cb = gate_chain(
        lambda df, bid: admitted.extend(
            (bid, r.doc_id) for r in df.select("doc_id").collect()
        ),
        quality_vote_step(base),
    )
    for i, b in enumerate(batches):
        cb(b, i)

    vote = {r.doc_id: r
            for r in all_queries()["q_quality_vote"].fn(spark, sf_smoke)
            .collect()}
    want_admit = {d for d, r in vote.items() if r.admit == 1}
    want_reject = {
        d: (r.pass_gopher, r.pass_classifier, r.pass_repetition, r.votes)
        for d, r in vote.items() if r.admit == 0
    }
    got_admit = {d for _, d in admitted}
    assert len(admitted) == len(got_admit)
    assert got_admit == want_admit
    rejects = read_vote_rejects(spark, base).collect()
    got_reject = {
        r.doc_id: (r.pass_gopher, r.pass_classifier, r.pass_repetition,
                   r.votes)
        for r in rejects
    }
    assert got_reject == want_reject
    assert len(rejects) == len(got_reject)
    assert got_admit | set(got_reject) == set(vote)
    assert not (got_admit & set(got_reject))

    # replay batch 1: stateless re-derivation collapses in the reader
    cb(batches[1], 1)
    again = {
        r.doc_id: (r.pass_gopher, r.pass_classifier, r.pass_repetition,
                   r.votes)
        for r in read_vote_rejects(spark, base).collect()
    }
    assert again == want_reject


def test_streaming_mixture_monitor_parity_and_replay(spark, tmp_path):
    """mixture_step: the wrapped sink must receive every
    batch UNCHANGED, and once the journal covers the corpus,
    read_mixture's (source, n_docs, weight, epoch_docs) must equal
    q_mix_temperature's rows bit-for-bit (shared mix_weights
    transform) with realized_share the exact rounded n/Σn; a replayed
    batch must collapse in the reader."""
    from fractions import Fraction

    from level2_to_cassandra_spark.catalog import load_table
    from level2_to_cassandra_spark.registry import all_queries
    from level2_to_cassandra_spark.streaming.monitor import (
        gate_chain,
        mixture_step,
        read_mixture,
    )
    from tests.conftest import SF_SMOKE as sf_smoke

    docs = load_table(spark, sf_smoke, "documents")
    cut = docs.agg(
        F.percentile_approx("doc_id", F.lit(0.5)).alias("m")
    ).first()["m"]
    batches = [
        docs.where(F.col("doc_id") <= cut),
        docs.where(F.col("doc_id") > cut),
    ]

    base = str(tmp_path / "sink")
    seen: list = []
    cb = gate_chain(
        lambda df, bid: seen.append((bid, df.count())), mixture_step(base)
    )
    for i, b in enumerate(batches):
        cb(b, i)
    assert seen == [(0, batches[0].count()), (1, batches[1].count())]

    got = {r.source: r for r in read_mixture(spark, base).collect()}
    want = {
        r.source: r
        for r in all_queries()["q_mix_temperature"].fn(spark, sf_smoke)
        .collect()
    }
    assert set(got) == set(want)
    total = sum(r.n_docs for r in want.values())
    for s, w in want.items():
        g = got[s]
        assert (g.n_docs, g.weight, g.epoch_docs) == (
            w.n_docs, w.weight, w.epoch_docs
        )
        share = Fraction(w.n_docs, total)
        rounded = (share * 10**6 + Fraction(1, 2)).__floor__() / 10**6
        assert abs(g.realized_share - rounded) < 1e-12

    # replay batch 0: journal rows collapse on (batch_id, source)
    cb(batches[0], 0)
    again = {r.source: r for r in read_mixture(spark, base).collect()}
    assert {s: (r.n_docs, r.weight, r.epoch_docs, r.realized_share)
            for s, r in again.items()} == {
        s: (r.n_docs, r.weight, r.epoch_docs, r.realized_share)
        for s, r in got.items()
    }


def test_streaming_vote_gate_rejects_colliding_payload(
    spark, tmp_path
):
    """A batch whose payload already carries a vote-computed column
    name — in ANY case — must fail IMMEDIATELY with quality_votes'
    named ValueError, and the member transforms' own computed names
    (gopher/classifier columns) must raise through the chain too."""
    import pytest

    from level2_to_cassandra_spark.streaming.monitor import (
        gate_chain,
        quality_vote_step,
    )

    cb = gate_chain(
        lambda df, bid: None, quality_vote_step(str(tmp_path / "sink"))
    )
    for col in ("votes", "Admit", "pass_gopher", "score", "n_words"):
        batch = spark.createDataFrame(
            [(1, "alpha beta", 0.5)], ["doc_id", "text", col]
        )
        with pytest.raises(ValueError, match="collide"):
            cb(batch, 0)


def test_streaming_classifier_gate_rejects_colliding_payload(
    spark, tmp_path
):
    """A batch whose payload already carries a _calib_lab-computed
    column name — in ANY case — must fail IMMEDIATELY with the shared
    transform's named ValueError (the gopher-gate contract)."""
    import pytest

    from level2_to_cassandra_spark.streaming.monitor import (
        classifier_gate_step,
        gate_chain,
    )

    cb = gate_chain(
        lambda df, bid: None, classifier_gate_step(str(tmp_path / "sink"))
    )
    for col in ("score", "Bin", "P", "label"):
        batch = spark.createDataFrame(
            [(1, "alpha beta", 0.5)], ["doc_id", "text", col]
        )
        with pytest.raises(ValueError, match="collide"):
            cb(batch, 0)


def test_streaming_quality_gate_rejects_colliding_payload_schema(
    spark, tmp_path
):
    """A batch whose payload already carries a metric-named column —
    in ANY case, since Spark resolves names case-insensitively by
    default — must fail IMMEDIATELY with gopher_stats' named
    ValueError, not later with Spark's ambiguous-reference error on a
    duplicate-name schema (review r15, both passes)."""
    import pytest

    from level2_to_cassandra_spark.streaming.monitor import (
        gate_chain,
        quality_gate_step,
    )

    cb = gate_chain(
        lambda df, bid: None, quality_gate_step(str(tmp_path / "sink"))
    )
    for col in ("n_words", "N_Words"):
        batch = spark.createDataFrame(
            [(1, "some text here", 3)],
            f"doc_id long, text string, {col} long",
        )
        with pytest.raises(ValueError, match="ame them upstream"):
            cb(batch, 0)


def test_streaming_url_dedup_parity_and_replay(spark, tmp_path):
    """url_dedup_step: when batches partition the
    fixture in doc_id order, the admitted set must equal q_dedup_url's
    is_canonical=1 set exactly and the reject journal its
    is_canonical=0 set (with matching canonicals); admitted ∪ rejects
    must partition every batch; and a replayed batch must re-derive
    identical legs (its own store rows are batch_id-filtered out of
    the probe)."""
    from level2_to_cassandra_spark.catalog import load_table
    from level2_to_cassandra_spark.registry import all_queries
    from level2_to_cassandra_spark.streaming.monitor import (
        gate_chain,
        read_url_rejects,
        url_dedup_step,
    )
    from tests.conftest import SF_SMOKE as sf_smoke

    docs = load_table(spark, sf_smoke, "documents")
    cut = docs.agg(
        F.percentile_approx("doc_id", F.lit(0.5)).alias("m")
    ).first()["m"]
    batches = [
        docs.where(F.col("doc_id") <= cut),
        docs.where(F.col("doc_id") > cut),
    ]

    base = str(tmp_path / "sink")
    admitted: list = []
    cb = gate_chain(
        lambda df, bid: admitted.extend(
            r.doc_id for r in df.select("doc_id").collect()
        ),
        url_dedup_step(base),
    )
    for i, b in enumerate(batches):
        cb(b, i)

    batch_q = {
        r.doc_id: (r.is_canonical, r.canonical_url)
        for r in all_queries()["q_dedup_url"].fn(spark, sf_smoke).collect()
    }
    want_admit = {d for d, (c, _) in batch_q.items() if c == 1}
    want_reject = {d: cu for d, (c, cu) in batch_q.items() if c == 0}
    assert set(admitted) == want_admit
    assert len(admitted) == len(want_admit)      # nothing doubled
    rejects = read_url_rejects(spark, base).collect()
    assert {r.doc_id: r.canonical_url for r in rejects} == want_reject
    assert len(rejects) == len(want_reject)
    assert want_admit | set(want_reject) == set(batch_q)  # partition

    # replay batch 1: probe excludes its own store rows, legs
    # re-derive identically, reader collapses the journal duplicates
    cb(batches[1], 1)
    again = {
        r.doc_id: r.canonical_url
        for r in read_url_rejects(spark, base).collect()
    }
    assert again == want_reject


def test_streaming_url_dedup_null_canonical_and_store_growth(
    spark, tmp_path
):
    """Review r15 hardening: (a) a NULL canonical (NULL payload field
    propagating through the URL construction) must dedup across
    batches like any other canonical — the sentinel key makes the
    anti-join match where a NULL key never would; (b) the seen store
    gains one row per NEWLY-SEEN canonical only, so an all-recurring
    batch appends nothing."""
    from level2_to_cassandra_spark.streaming.monitor import (
        gate_chain,
        read_url_rejects,
        url_dedup_path,
        url_dedup_step,
    )

    schema = ("doc_id long, text string, lang string, source string, "
              "n_chars long")
    # doc 280 canonicalizes identically to doc 0 (same %40 path, same
    # %7 id param, same source after case folding); docs 1 and 281
    # have NULL source -> NULL url -> NULL canonical
    b0 = spark.createDataFrame(
        [(0, "t", "en", "src", 1), (1, "t", "en", None, 1)], schema
    )
    b1 = spark.createDataFrame(
        [(280, "t", "en", "src", 1), (281, "t", "en", None, 1)], schema
    )
    base = str(tmp_path / "sink")
    admitted: list = []
    cb = gate_chain(
        lambda df, bid: admitted.extend(
            r.doc_id for r in df.select("doc_id").collect()
        ),
        url_dedup_step(base),
    )
    cb(b0, 0)
    cb(b1, 1)
    assert sorted(admitted) == [0, 1]
    assert {r.doc_id for r in read_url_rejects(spark, base).collect()} \
        == {280, 281}
    seen = spark.read.parquet(f"{url_dedup_path(base)}/seen")
    assert seen.count() == 2          # one row per canonical, ever
    assert seen.select("canonical_url").distinct().count() == 2


def test_streaming_line_dedup_store_gains_only_fresh_lines(
    spark, tmp_path
):
    """Review r15 hardening: the seen-line store holds one row per
    distinct line ever seen — re-delivering the same documents as a
    LATER batch (recurring boilerplate, the dominant streaming case)
    appends zero store rows."""
    from level2_to_cassandra_spark.catalog import load_table
    from level2_to_cassandra_spark.streaming.monitor import (
        gate_chain,
        line_dedup_path,
        line_dedup_step,
    )
    from tests.conftest import SF_SMOKE as sf_smoke

    docs = load_table(spark, sf_smoke, "documents")
    base = str(tmp_path / "sink")
    cb = gate_chain(lambda df, bid: None, line_dedup_step(base))
    cb(docs, 0)
    store = f"{line_dedup_path(base)}/seen"
    n0 = spark.read.parquet(store).count()
    assert n0 == spark.read.parquet(store) \
        .select("line_text").distinct().count()
    cb(docs, 1)                       # every line already seen
    assert spark.read.parquet(store).count() == n0


def test_line_dedup_overspan_doc_journaled_not_poisonous(
    spark, tmp_path, monkeypatch
):
    """Review r16, 2nd pass: a doc with >= LINE_KEY_SPAN lines must
    NOT wedge the stream on packed_line_key's raise — it is rejected
    wholesale (no audit row, no store rows), journaled to /overspan,
    and the rest of the batch dedups normally."""
    from level2_to_cassandra_spark.operators import text as text_ops
    from level2_to_cassandra_spark.streaming.monitor import (
        gate_chain,
        line_dedup_step,
        read_line_dedup,
        read_line_overspan,
    )

    monkeypatch.setattr(text_ops, "LINE_KEY_SPAN", 2)
    base = str(tmp_path / "sink")
    cb = gate_chain(lambda df, bid: None, line_dedup_step(base))
    la = "a b c d e f g h"
    lb = "i j k l m n o p"
    lc = "q r s t u v w x"
    batch = spark.createDataFrame(
        [(1, f"{la} {lb} {lc}", "en", "s", 1),   # 3 lines >= span 2
         (2, la, "en", "s", 1)],                 # 1 line — fine
        "doc_id long, text string, lang string, source string, "
        "n_chars long",
    )
    cb(batch, 0)                                 # must not raise
    over = read_line_overspan(spark, base).collect()
    assert [(r.batch_id, r.doc_id) for r in over] == [(0, 1)]
    audit = {r.doc_id: r for r in read_line_dedup(spark, base).collect()}
    assert set(audit) == {2}                     # no audit row for doc 1
    assert audit[2].n_kept == 1 and audit[2].kept_text == la


def test_classifier_gate_rejects_admit_payload_column(spark, tmp_path):
    """Review r16, 2nd pass: a payload column named __admit (any case)
    would be silently overwritten by the gate's split column —
    must raise the named ValueError instead."""
    import pytest

    from level2_to_cassandra_spark.streaming.monitor import (
        classifier_gate_step,
        gate_chain,
    )

    cb = gate_chain(
        lambda df, bid: None, classifier_gate_step(str(tmp_path / "sink"))
    )
    batch = spark.createDataFrame(
        [(1, "alpha beta", 1)], ["doc_id", "text", "__Admit"]
    )
    with pytest.raises(ValueError, match="collide"):
        cb(batch, 0)


def test_first_seen_fresh_step_over_existing_store_no_readmission(
    spark, tmp_path
):
    """A new line-dedup step instance over a seen store written by an
    earlier instance (a restarted stream) rejects the stored lines on
    its first trigger AND its second: the probe reads the store
    itself, so no per-instance state has to be rebuilt first.  The
    URL-dedup gate's counterpart is in tests/test_bloom.py."""
    from level2_to_cassandra_spark.streaming.monitor import (
        gate_chain,
        line_dedup_step,
        read_line_dedup,
    )

    schema = ("doc_id long, text string, lang string, source string, "
              "n_chars long")

    def doc(i, text):
        return spark.createDataFrame([(i, text, "en", "src", 6)], schema)

    base = str(tmp_path / "line")
    line = "a b c d e f g h"
    gate_chain(lambda df, bid: None, line_dedup_step(base))(doc(1, line), 0)
    cb = gate_chain(lambda df, bid: None, line_dedup_step(base))
    cb(doc(2, line), 1)
    cb(doc(3, line), 2)
    kept = {r.doc_id: r.n_kept for r in read_line_dedup(spark, base).collect()}
    assert kept == {1: 1, 2: 0, 3: 0}


def test_first_seen_gates_run_same_jobs_every_trigger(spark, tmp_path):
    """The first-occurrence gates do the same Spark work on every
    trigger: one-step URL-dedup, line-dedup and incremental-dedup
    chains over four doc_id-ordered batches run one fixed number of
    jobs (counted per job group) on each trigger that stores new keys,
    the first included, whatever the store already holds.  Per-stream
    side state that is built on a stream's first trigger, or extra
    state collected, written or persisted per trigger, shows up as a
    count that varies.  A trigger that stores nothing is left out: its
    fresh frame is empty, and adaptive execution drops the stages over
    it.  Each store grows by at most one parquet file per trigger,
    whatever the shuffle partition count."""
    import glob

    from level2_to_cassandra_spark.catalog import load_table
    from level2_to_cassandra_spark.operators.dedup import (
        incremental_dedup_step,
    )
    from level2_to_cassandra_spark.streaming.monitor import (
        gate_chain,
        line_dedup_path,
        line_dedup_step,
        url_dedup_path,
        url_dedup_step,
    )
    from tests.conftest import SF_SMOKE as sf_smoke

    docs = load_table(spark, sf_smoke, "documents")
    cuts = docs.agg(F.percentile_approx(
        "doc_id", F.array(*[F.lit(q) for q in (0.25, 0.5, 0.75)])
    ).alias("q")).first()["q"]
    bounds = [float("-inf"), *cuts, float("inf")]
    batches = [
        docs.where((F.col("doc_id") > lo) & (F.col("doc_id") <= hi))
        for lo, hi in zip(bounds, bounds[1:])
    ]
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    jobs = {}
    for name, gate in (
        ("url", lambda b: (url_dedup_step(b), f"{url_dedup_path(b)}/seen")),
        ("line",
         lambda b: (line_dedup_step(b), f"{line_dedup_path(b)}/seen")),
        ("incremental",
         lambda b: (incremental_dedup_step(f"{b}/_hashes"), f"{b}/_hashes")),
    ):
        step, store = gate(str(tmp_path / name))
        cb = gate_chain(lambda df, bid: df.count(), step)
        counts = []
        for i, b in enumerate(batches):
            group = f"first-seen-{name}-{i}"
            sc.setJobGroup(group, group)
            try:
                cb(b, i)
            finally:
                for prop in ("spark.jobGroup.id", "spark.job.description"):
                    sc.setLocalProperty(prop, None)
            counts.append(len(tracker.getJobIdsForGroup(group)))
        seen = spark.read.parquet(store)
        storing = {r.batch_id
                   for r in seen.select("batch_id").distinct().collect()}
        jobs[name] = [c for i, c in enumerate(counts) if i in storing]
        assert len(glob.glob(f"{store}/*.parquet")) <= len(batches), name
    assert all(len(c) >= 3 for c in jobs.values()), jobs   # non-vacuous
    assert all(len(set(c)) == 1 for c in jobs.values()), jobs


def test_gate_chain_crash_between_appends_retry_matches(spark, tmp_path):
    """A crash AFTER the incremental-dedup step's hash append but
    before the URL-dedup step's appends: the retried batch admits the
    same doc_ids as a clean run, and every journal and store holds the
    clean run's rows (up to the replay's duplicates).  The hash store
    probe reads only earlier batches, so the retry does not classify
    its own just-stored hashes as seen."""
    from level2_to_cassandra_spark.operators.dedup import (
        incremental_dedup_step,
    )
    from level2_to_cassandra_spark.streaming import monitor

    batches = _gate_docs(spark)

    def run(base, fail_batch=None):
        admitted: dict = {}
        state = {"failed": False}

        def flaky(batch, bid, persist):
            def append():
                if bid == fail_batch and not state["failed"]:
                    state["failed"] = True
                    raise RuntimeError("journal down")
            return batch, [append]

        cb = monitor.gate_chain(
            lambda df, bid: admitted.__setitem__(bid, sorted(
                r.doc_id for r in df.select("doc_id").collect()
            )),
            incremental_dedup_step(f"{base}/_hashes"),
            flaky,
            monitor.url_dedup_step(base),
        )
        for i, b in enumerate(batches):
            if i == fail_batch:
                with pytest.raises(RuntimeError, match="journal down"):
                    cb(b, i)
            cb(b, i)
        return admitted, _journal_tree(spark, base, distinct=True)

    clean = run(str(tmp_path / "clean"))
    retried = run(str(tmp_path / "retried"), fail_batch=1)
    assert retried == clean
    admitted, journals = clean
    assert admitted[0] and admitted[1]                      # non-vacuous
    assert {"_hashes", "_url_dedup/seen", "_url_dedup/rejects"} <= set(
        journals)


def test_incremental_dedup_store_without_batch_id_still_gates(
    spark, tmp_path
):
    """A hash store whose rows carry no batch_id (seeded, or written
    before stores carried it) gates every batch: an incremental-dedup
    step over it rejects the stored content on its first trigger and
    on its second."""
    from level2_to_cassandra_spark.operators.dedup import (
        content_hash,
        incremental_dedup_step,
    )
    from level2_to_cassandra_spark.streaming.monitor import gate_chain

    store = str(tmp_path / "_hashes")
    spark.createDataFrame([("seen text",)], "text string").select(
        content_hash("text").alias("__h")
    ).write.parquet(store)
    admitted: list = []
    cb = gate_chain(
        lambda df, bid: admitted.extend(
            r.doc_id for r in df.select("doc_id").collect()
        ),
        incremental_dedup_step(store),
    )
    schema = "doc_id long, text string"
    cb(spark.createDataFrame([(1, "seen text"), (2, "new text")], schema), 0)
    assert admitted == [2]
    cb(spark.createDataFrame([(3, "seen text"), (4, "new text")], schema), 1)
    assert admitted == [2]
