"""Seeded inputs for the benchmark.

* Level-2 capture files: JSONL envelopes ``(topic, msg_type, payload,
  seq)``, the format the daemon's file source reads.  500 symbols drawn
  Zipf s=1.0, 90 % TICK / 10 % five-level BOOK, about 0.1 % malformed
  payloads, event times nondecreasing across the whole capture.
* The ``documents`` table the shingle-dedup queries read, shaped like
  the driver fixture (30-word vocabulary, 10-99 words per document,
  about 5 % near-duplicates that repeat an earlier text plus ``dup``).
* The live publisher, ``python3 perfbench/gen.py publish ...``: its own
  single-threaded process that publishes one capture file per period
  on a fixed schedule, by write-then-rename with strictly increasing
  mtimes, and logs each file's due and publish time as it lands, until
  its file count runs out or it receives SIGTERM.

The same arguments always give the same messages, so the benchmark
rebuilds the publisher's messages in its own process for the oracles.
"""

from __future__ import annotations

import argparse
import bisect
import itertools
import json
import os
import random
import signal
import threading
import time
from dataclasses import dataclass

TOPIC = "btcusd"
BASE_EPOCH = 1704067200  # 2024-01-01T00:00:00Z
N_SYMBOLS = 500
ZIPF_S = 1.0
BOOK_SHARE = 0.10
MALFORMED_SHARE = 0.001
BOOK_LEVELS = 5
#: seconds from the publisher's start to its first file's due time
PUBLISH_DELAY_S = 0.2


@dataclass(frozen=True)
class Msg:
    """One generated message and its ground truth (``levels`` is None
    for a malformed payload)."""

    seq: int
    kind: str            # "BOOK" | "TICK"
    symbol: str
    time: int            # event time, epoch seconds
    levels: tuple | None  # TICK: (bid, price, ask, volume, side);
                          # BOOK: ((price, volume, type), ...)

    def payload(self) -> str:
        if self.levels is None:
            return '{"symbol": "' + self.symbol + '", "price": '
        if self.kind == "TICK":
            bid, price, ask, volume, side = self.levels
            return json.dumps({
                "symbol": self.symbol, "bid": bid, "price": price,
                "ask": ask, "time": self.time, "volume": volume,
                "type": side,
            })
        return json.dumps([
            {"symbol": self.symbol, "price": p, "time": self.time,
             "volume": v, "type": t}
            for p, v, t in self.levels
        ])

    def envelope(self) -> str:
        return json.dumps({"topic": TOPIC, "msg_type": self.kind,
                           "payload": self.payload(), "seq": self.seq})


def symbol_ranks(seed: int) -> list[str]:
    """Symbol names in popularity order (rank 1 first) for ``seed``."""
    names = [f"S{i:03d}" for i in range(N_SYMBOLS)]
    random.Random(seed).shuffle(names)
    return names


def messages(seed: int, n: int, t0: int | None = None,
             t1: int | None = None) -> list[Msg]:
    """``n`` messages with seq ``0 ..``; event times rise from
    ``t0`` to ``t1`` (default: noon of day 1 to noon of day 2, so the
    hot symbols' state crosses one UTC day boundary)."""
    t0 = BASE_EPOCH + 43200 if t0 is None else t0
    t1 = t0 + 86400 if t1 is None else t1
    rng = random.Random(seed << 20)
    names = symbol_ranks(seed)
    cum = list(itertools.accumulate(
        1.0 / (r ** ZIPF_S) for r in range(1, N_SYMBOLS + 1)))
    # per-symbol mid price in integer cents: a random walk
    mid = {s: 10_000 + 100 * i for i, s in enumerate(names)}
    out = []
    for i in range(n):
        sym = names[bisect.bisect_left(cum, rng.random() * cum[-1])]
        t = t0 + (i * (t1 - t0)) // max(n, 1)
        kind = "BOOK" if rng.random() < BOOK_SHARE else "TICK"
        mid[sym] += rng.choice((-1, 0, 0, 1))
        c = mid[sym]
        if rng.random() < MALFORMED_SHARE:
            levels = None
        elif kind == "TICK":
            levels = ((c - 1) / 100, c / 100, (c + 1) / 100,
                      rng.randint(1, 100), rng.choice("BS"))
        else:
            levels = tuple(
                ((c + d) / 100, rng.randint(1, 100),
                 "BOOK_TYPE_BID" if d < 0 else "BOOK_TYPE_ASK")
                for d in (-2, -1, 1, 2, 3)[:BOOK_LEVELS]
            )
        out.append(Msg(i, kind, sym, t, levels))
    return out


def split(msgs: list[Msg], n_files: int) -> list[list[Msg]]:
    """Consecutive, near-equal chunks — one per capture file."""
    k, r = divmod(len(msgs), n_files)
    out, at = [], 0
    for i in range(n_files):
        j = at + k + (1 if i < r else 0)
        out.append(msgs[at:j])
        at = j
    return out


def file_name(i: int) -> str:
    return f"part-{i:05d}.json"


def publish(directory: str, i: int, chunk: list[Msg], mtime_ns: int) -> None:
    """Write-then-rename one capture file with an explicit mtime.  The
    temp name starts with a dot, which the file source never lists."""
    final = os.path.join(directory, file_name(i))
    tmp = os.path.join(directory, "." + file_name(i) + ".tmp")
    with open(tmp, "w", encoding="utf-8") as fh:
        fh.write("\n".join(m.envelope() for m in chunk) + "\n")
    os.utime(tmp, ns=(mtime_ns, mtime_ns))
    os.rename(tmp, final)


def write_capture(directory: str, chunks: list[list[Msg]]) -> None:
    """A whole backfill capture, mtimes 1 ms apart in file order (the
    file source picks the oldest file first)."""
    os.makedirs(directory, exist_ok=True)
    base = time.time_ns() - len(chunks) * 1_000_000
    for i, chunk in enumerate(chunks):
        publish(directory, i, chunk, base + i * 1_000_000)


def write_documents(path: str, n_docs: int, seed: int) -> None:
    """The ``documents`` table (doc_id, text, lang, source, n_chars)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    vocab = ("a agg batch big column customer data fast filter group hash "
             "join key line merge order part query row scan slow small "
             "sort spark stream table the value vector window").split()
    langs, weights = ("en", "es", "de", "fr", "zh"), (44, 14, 14, 14, 14)
    rng = random.Random(seed ^ 0x5EED)
    texts, lang = [], []
    for i in range(n_docs):
        if i > 20 and rng.random() < 0.05:
            text = texts[rng.randrange(i)] + " dup"
        else:
            text = " ".join(rng.choice(vocab)
                            for _ in range(rng.randint(10, 99)))
        texts.append(text)
        lang.append(rng.choices(langs, weights)[0])
    table = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(lang, pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)],
                           pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def live_chunks(seed: int, n_files: int, per_file: int) -> list[list[Msg]]:
    """The live publisher's files: one event second per message, the
    UTC day boundary halfway through."""
    n = n_files * per_file
    t0 = BASE_EPOCH + 86400 - n // 2
    return split(messages(seed, n, t0=t0, t1=t0 + n), n_files)


def _publish_main(a: argparse.Namespace) -> int:
    """Publish files ``first ..`` on the schedule, logging each one as a
    JSON line when it lands; SIGTERM stops the loop between files."""
    chunks = live_chunks(a.seed, a.files, a.per_file)
    stop = threading.Event()
    signal.signal(signal.SIGTERM, lambda *_: stop.set())
    start = time.time() + PUBLISH_DELAY_S
    last_mtime = 0
    with open(a.log, "w", encoding="utf-8") as log:
        for i in range(a.first, a.files):
            due = start + (i - a.first) * a.period
            if stop.wait(max(0.0, due - time.time())):
                break
            last_mtime = max(time.time_ns(), last_mtime + 1_000_000)
            publish(a.dir, i, chunks[i], last_mtime)
            log.write(json.dumps({"file": file_name(i), "due": due,
                                  "published": time.time(),
                                  "n": len(chunks[i])}) + "\n")
            log.flush()
    return 0


def read_log(path: str) -> list[dict]:
    """The publisher's log: one entry per published file, in order."""
    with open(path, encoding="utf-8") as fh:
        return [json.loads(line) for line in fh if line.endswith("\n")]


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="Publish live capture files.")
    sub = p.add_subparsers(dest="cmd", required=True)
    pub = sub.add_parser("publish", help="publish live capture files")
    pub.add_argument("--dir", required=True)
    pub.add_argument("--log", required=True)
    pub.add_argument("--seed", type=int, required=True)
    pub.add_argument("--files", type=int, required=True)
    pub.add_argument("--per-file", type=int, required=True)
    pub.add_argument("--first", type=int, default=0,
                     help="index of the first file to publish")
    pub.add_argument("--period", type=float, default=0.5)
    return _publish_main(p.parse_args(argv))


if __name__ == "__main__":
    raise SystemExit(main())
