"""The reference's one stateful computation: one window, batch and stream.

Reference (main.rs:107-130 / tick.rs:66-89): per-symbol running
``(cumbuy, cumsell)`` volume totals updated on every tick —
``cumbuy += volume if type=="B"``, ``cumsell += volume if type=="S"``,
``cumdelta = cumbuy - cumsell`` — zeroed when the day rolls over
(epoch//86400 increases, main.rs:109-120), and EMITTED ON EVERY ROW
(per-event running value, not a final aggregate).

The reference's reset is arrival-order-dependent (one global last-date
shared across symbols; SURVEY.md §1.4 quirk 2).  Both forms implement
the deterministic intent with ONE window partitioned by (symbol, UTC
day) and ordered by event time (:func:`_running_sums`):

* :func:`cumulative_batch` — the window over a bounded frame; the
  ORACLE for the streaming form in tests.
* :func:`foreach_batch_running_sums` — a foreachBatch step in front of
  the sink: the window over each micro-batch, offset by a broadcast
  **carry** of each key's totals from earlier batches.  No state
  operator: the carry is a pyarrow file per batch id, and the new
  totals come back from the sink write as observed metrics.  Batch
  ``N`` reads the newest version ``< N`` and writes ``N``, so a replay
  recomputes identical sums and a restart resumes them.
"""

from __future__ import annotations

import datetime
import json
import os
import re
import time

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from level2_to_cassandra_spark.streaming.monitor import (
    _observed,
    local_path,
    publish_parquet,
)

#: B/S match arms of the reference (main.rs:124-128).
BUY, SELL = "B", "S"
#: One carry row per (symbol, day) key: its totals after the batch that
#: last touched it, and that batch's wall-clock ms (the idle TTL's clock).
CARRY_SCHEMA = pa.schema([
    ("symbol", pa.string()), ("day", pa.date32()), ("cumbuy", pa.int64()),
    ("cumsell", pa.int64()), ("seen_ms", pa.int64()),
])
_VERSION = re.compile(r"(\d+)\.parquet")
_LAST = "__last"


def _running_sums(ticks: DataFrame, order_cols, carry_buy=0,
                  carry_sell=0) -> DataFrame:
    """Running per-(symbol, day) long sums over ``ticks`` (which has a
    ``day`` column), each offset by its key's carried totals, plus a
    flag on each key's last row from the same window."""
    buy = F.when(F.col("trade_type") == BUY, F.col("volume")).otherwise(0)
    sell = F.when(F.col("trade_type") == SELL, F.col("volume")).otherwise(0)
    w = Window.partitionBy("symbol", "day").orderBy(*order_cols)
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # one select, so all three share one Window operator
    return ticks.select(
        "*",
        (F.sum(buy).over(run) + carry_buy).alias("cumbuy"),
        (F.sum(sell).over(run) + carry_sell).alias("cumsell"),
        F.lead(F.lit(1)).over(w).isNull().alias(_LAST),
    ).withColumn("cumdelta", F.col("cumbuy") - F.col("cumsell"))


def cumulative_batch(ticks: DataFrame,
                     order_cols: tuple[str, ...] = ("time",)) -> DataFrame:
    """Batch/deterministic form: running per-(symbol, day) sums emitted
    per row, as the reference's i32.  ``order_cols`` should end with a
    unique tiebreaker when exact-duplicate timestamps are possible."""
    out = _running_sums(ticks.withColumn("day", F.to_date("time")),
                        order_cols)
    return out.select(*ticks.columns, *(
        F.col(c).cast("int").alias(c)
        for c in ("cumbuy", "cumsell", "cumdelta")))


def _versions(carry_dir: str) -> list[int]:
    names = os.listdir(carry_dir) if os.path.isdir(carry_dir) else ()
    return sorted(int(m[1]) for m in map(_VERSION.fullmatch, names) if m)


def read_carry(carry_dir: str, batch_id: int) -> pa.Table:
    """The newest carry version older than ``batch_id`` (empty if none)."""
    older = [v for v in _versions(carry_dir) if v < batch_id]
    if not older:
        return CARRY_SCHEMA.empty_table()
    return pq.read_table(f"{carry_dir}/{older[-1]}.parquet",
                         schema=CARRY_SCHEMA)


def write_carry(carry_dir: str, batch_id: int, carry: pa.Table) -> None:
    """Publish ``carry`` as version ``batch_id`` (:func:`publish_parquet`),
    keeping it and the newest older version only.  A version that
    already exists is the same batch's, written by an attempt that
    failed before its commit, and is left as it is."""
    if not os.path.exists(f"{carry_dir}/{batch_id}.parquet"):
        publish_parquet(carry, carry_dir, f"{batch_id}.parquet")
    versions = _versions(carry_dir)
    keep = {batch_id, *[v for v in versions if v < batch_id][-1:]}
    for v in set(versions) - keep:
        os.remove(f"{carry_dir}/{v}.parquet")


def foreach_batch_running_sums(inner, carry_dir: str,
                               ttl_hours: float | None = None):
    """Wrap the tick query's foreachBatch sink callback ``inner``: hand
    it each micro-batch (parsed ticks with a ``day`` column) with the
    running sums appended, then merge the batch's per-key totals into
    the carry kept under ``carry_dir``.

    The batch is hash-partitioned once by ``symbol``; the broadcast
    carry join and the (symbol, day) window keep that partitioning, so
    the sink's own ``repartition("symbol")`` adds no exchange.  Ticks
    are summed in (time, seq) order within a batch and in batch order
    across batches, so a late tick still continues its day's sums.
    ``ttl_hours`` drops keys idle that long (wall clock) before the
    join: continuous runs need it, or the carry grows by one key per
    symbol per day; ``None`` keeps every key (bounded drains).
    ``carry_dir`` is a local path or ``file://`` URI (:func:`local_path`)."""
    carry_dir = local_path(carry_dir)

    def _step(batch_df: DataFrame, batch_id: int) -> None:
        now_ms = time.time_ns() // 1_000_000
        carry = read_carry(carry_dir, batch_id)
        if ttl_hours is not None:
            carry = carry.filter(pc.greater_equal(
                carry["seen_ms"], now_ms - int(ttl_hours * 3_600_000)))
        ticks, offsets = batch_df.repartition("symbol"), ()
        if carry.num_rows:
            prior = batch_df.sparkSession.createDataFrame(carry.select(
                ["symbol", "day", "cumbuy", "cumsell"]).rename_columns(
                ["symbol", "day", "__buy0", "__sell0"]))
            ticks = ticks.join(F.broadcast(prior), ["symbol", "day"], "left")
            offsets = (F.coalesce("__buy0", F.lit(0)),
                       F.coalesce("__sell0", F.lit(0)))
        order = [c for c in ("time", "seq") if c in batch_df.columns]
        obs = Observation()
        key_totals = F.struct("symbol", "day", "cumbuy", "cumsell")
        inner(
            _running_sums(ticks, order, *offsets)
            .observe(obs, F.to_json(F.collect_list(
                F.when(F.col(_LAST), key_totals))).alias("totals"))
            .select(*batch_df.columns, "cumbuy", "cumsell", "cumdelta"),
            batch_id,
        )
        keyed = {(r["symbol"], r["day"]): r for r in carry.to_pylist()}
        for t in json.loads(_observed(obs).get("totals") or "[]"):
            day = datetime.date.fromisoformat(t["day"])
            keyed[t["symbol"], day] = {**t, "day": day, "seen_ms": now_ms}
        write_carry(carry_dir, batch_id, pa.Table.from_pylist(
            list(keyed.values()), schema=CARRY_SCHEMA))

    return _step
