"""Sinks: keyed-upsert writes with the reference's table naming and
physical layout contract.

The reference upserts per row into Cassandra ``{keyspace}.{topic}_book``
/ ``{topic}_tick`` with PRIMARY KEY (symbol, time, price), clustering
time DESC (main.rs:80-92, 133-152) — last-write-wins on the key, data
laid out for per-symbol newest-first scans.

Here the CI-testable default sink is parquet with the same semantics:

* last-write-wins dedup on the upsert key, ordered by an explicit
  write sequence (micro-batch id + in-batch ``seq`` when the source
  provides one, e.g. a Kafka offset) — "last" must be a real ordering,
  not an accident of file layout;
* ``partitionBy(topic)`` + ``repartition(symbol)`` +
  ``sortWithinPartitions(topic, time DESC)`` — the file-layout
  equivalent of the Cassandra partition/clustering contract
  (main.rs:87-88);
* dynamic per-topic routing falls out of partitionBy (the reference's
  DDL-per-topic, main.rs:90,148, becomes directory-per-topic).

A Cassandra connector sink (`org.apache.spark.sql.cassandra`) sits
behind the same interface for production, selected by config; the
connector's writes are idempotent upserts on the same key, so
at-least-once delivery from checkpointed Structured Streaming becomes
effectively-once end to end (strictly stronger than the reference's
at-most-once ZMQ SUB — SURVEY.md §1.4 quirk 3).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from level2_to_cassandra_spark.operators.dedup import latest_by_key
from level2_to_cassandra_spark.streaming.schemas import UPSERT_KEY

#: Internal column recording write order across micro-batches.
BATCH_COL = "__batch_id"


class CompactionLockHeld(RuntimeError):
    """A live compaction already holds the table's ``_COMPACT_LOCK``.

    Raised so the daemon's ``--compact`` mode can report WHO holds the
    lock and retry later.  The lock is a kernel ``flock`` (see
    :func:`_acquire_compact_lock`), so it cannot go stale: a holder
    that dies releases it automatically, and this error only ever
    fires for a genuinely live concurrent compaction."""


def _acquire_compact_lock(lock: str) -> int:
    """Kernel-flock compaction lock; returns the fd HOLDING the lock.

    Evolution of this lock (ADVICE r07 low → two self-review rounds):
    an O_EXCL sentinel bricked after a killed holder; pid-liveness
    probing + reclaim fixed that but every sentinel-file reclaim
    scheme has an unfixable namespace race (between a reclaimer's
    verify and its delete/restore, a fresh acquirer can slip in — two
    live compactions, or a live holder stripped of its lock).  A
    kernel ``flock`` dissolves the whole problem class: the lock dies
    WITH the process (no staleness, nothing to reclaim), acquisition
    is one atomic syscall, and contenders never delete anything.

    The sentinel file itself is created once and NEVER unlinked — an
    unlink would let a later opener get a fresh inode while an earlier
    opener flocks the old one (two "holders" on different inodes); a
    permanent 0–40-byte file next to ``_CURRENT`` is inert.  The
    pid/ts payload is written after acquisition purely as diagnostics
    for the :class:`CompactionLockHeld` message.  Local-filesystem
    semantics (matching this parquet sink twin); a distributed
    deployment coordinates compaction through its table format's
    commit protocol instead."""
    import fcntl
    import os
    import time

    fd = os.open(lock, os.O_CREAT | os.O_RDWR, 0o644)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except BlockingIOError:
        # ONLY EWOULDBLOCK means contention; any other OSError (e.g.
        # ENOLCK on a no-flock filesystem) must propagate as itself,
        # not masquerade as a held lock
        # The payload is written AFTER acquisition, so a contender
        # racing into the acquire-to-write window may read the
        # PREVIOUS holder's pid — the message says "last recorded",
        # not "is", because only the flock itself is authoritative
        # (ADVICE r09 low #3).
        try:
            with open(lock, encoding="ascii") as fh:
                words = fh.read().split()
            holder = ("a live process (holder last recorded as pid "
                      f"{int(words[words.index('pid') + 1])})")
        except (OSError, ValueError, IndexError):
            holder = "a live process (payload not yet written)"
        os.close(fd)
        raise CompactionLockHeld(
            f"compaction lock {lock} held by {holder}"
        ) from None
    except BaseException:
        os.close(fd)
        raise
    try:
        # diagnostics only — but a failure here (disk full) must not
        # leak an fd that silently HOLDS the flock forever
        os.ftruncate(fd, 0)
        os.write(fd, f"pid {os.getpid()} ts {time.time():.3f}"
                 .encode("ascii"))
    except BaseException:
        os.close(fd)
        raise
    return fd


def _write_order(df: DataFrame) -> list:
    """Newest-first ordering for last-write-wins: batch id desc, then
    the source sequence column (Kafka offset / test seq) if present."""
    order = []
    if BATCH_COL in df.columns:
        order.append(F.desc(BATCH_COL))
    if "seq" in df.columns:
        order.append(F.desc("seq"))
    return order or [F.desc(c) for c in UPSERT_KEY]


def upsert_dedup(df: DataFrame, key: Sequence[str] = UPSERT_KEY) -> DataFrame:
    """Collapse to one row per upsert key, last write wins — what
    re-INSERTing the same (symbol,time,price) does in Cassandra."""
    return latest_by_key(df, keys=list(key), order=_write_order(df))


def upsert_layout(df: DataFrame) -> DataFrame:
    """Last-write-wins dedup laid out for the sink: ONE hash exchange on
    ``symbol`` feeds both the dedup window (clustered on the upsert key,
    which a ``symbol`` partitioning already satisfies) and the file
    layout, then each partition is sorted by (topic, time DESC).  The
    leading ``topic`` is the writer's ``partitionBy`` order: without it
    the writer re-sorts by topic and the time-descending order inside
    each file is lost."""
    return (
        upsert_dedup(df.repartition("symbol"))
        .sortWithinPartitions("topic", F.desc("time"))
    )


def write_upsert_parquet(df: DataFrame, path: str, table_suffix: str,
                         batch_id: int = 0) -> None:
    """Write one micro-batch (or batch) with the reference's layout
    contract.  ``table_suffix`` ∈ {book, tick} mirrors the reference's
    ``{topic}_book`` / ``{topic}_tick`` naming; parquet append with
    in-batch key-dedup, cross-batch dedup happens at read."""
    (
        upsert_layout(df.withColumn(BATCH_COL, F.lit(batch_id)))
        .write.mode("append")
        .partitionBy("topic")
        .parquet(f"{path}/{table_suffix}")
    )


def foreach_batch_upsert(path: str, table_suffix: str):
    """foreachBatch callback factory for writeStream."""

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        write_upsert_parquet(batch_df, path, table_suffix, batch_id)

    return _write


def cassandra_writer_options(keyspace: str, topic: str, table_suffix: str,
                             connector: dict[str, str] | None = None,
                             ) -> dict[str, str]:
    """Option dict for a spark-cassandra-connector write: the
    reference's table naming ``{keyspace}.{topic}_{suffix}``
    (main.rs:90,148) plus connection/auth options from
    ``PipelineConfig.cassandra`` (CASSANDRA_HOST/USERNAME/PASSWORD,
    main.rs:177-179).  Split out from the writer so CI can assert the
    assembled options without a live cluster."""
    opts = {"keyspace": keyspace, "table": f"{topic}_{table_suffix}"}
    opts.update(connector or {})
    return opts


def write_upsert_cassandra(df: DataFrame, keyspace: str, topic: str,
                           table_suffix: str,
                           connector: dict[str, str] | None = None) -> None:
    """Production sink: spark-cassandra-connector upsert into
    ``{keyspace}.{topic}_{table_suffix}`` — the reference's exact table
    naming (main.rs:90,148) and key semantics (connector writes are
    per-key upserts, so Cassandra's last-write-wins replaces the
    in-batch dedup).  Requires the connector package on the classpath
    (``--packages com.datastax.spark:spark-cassandra-connector_2.13``)
    and a reachable cluster; selected via PipelineConfig, never used in
    CI (the parquet sink above is the test double with identical
    semantics)."""
    (
        df.drop(BATCH_COL, "topic")
        .write.format("org.apache.spark.sql.cassandra")
        .mode("append")
        .options(
            **cassandra_writer_options(keyspace, topic, table_suffix, connector)
        )
        .save()
    )


#: Hard ceiling on distinct topics a micro-batch may route to.  The
#: reference subscribes a FIXED, config-enumerated topic list
#: (main.rs: one SUB socket per configured topic), so topic
#: cardinality is operator-bounded by design — this guard turns a
#: corrupt/unbounded topic column (which would make the per-batch
#: driver collect and the table fan-out unbounded) into a loud error
#: instead of a silent driver OOM.
MAX_SINK_TOPICS = 1000


def foreach_batch_cassandra(keyspace: str, table_suffix: str,
                            connector: dict[str, str] | None = None):
    """foreachBatch callback for the Cassandra sink: dynamic per-topic
    routing (one table per topic, the reference's DDL-per-topic
    semantics) — topics in a micro-batch are few, so the driver-side
    loop is over table names, never rows.  The collect is provably
    bounded: at most ``MAX_SINK_TOPICS + 1`` topic rows are ever
    pulled to the driver, and exceeding the ceiling raises."""

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        # one action per topic: cache the deduped batch so the batch's
        # plan (for tick, the stateful running-sum update) runs once
        deduped = upsert_dedup(
            batch_df.withColumn(BATCH_COL, F.lit(batch_id))
        ).persist()
        try:
            topics = [
                r.topic
                for r in deduped.select("topic").distinct()
                .limit(MAX_SINK_TOPICS + 1).collect()
            ]
            if len(topics) > MAX_SINK_TOPICS:
                raise ValueError(
                    f"micro-batch routes to more than {MAX_SINK_TOPICS} "
                    "distinct topics — topic column is unbounded or corrupt "
                    "(reference topics are a fixed config list)"
                )
            for topic in topics:
                write_upsert_cassandra(
                    deduped.where(F.col("topic") == topic),
                    keyspace, topic, table_suffix, connector,
                )
        finally:
            deduped.unpersist()

    return _write


#: Manifest pointer file naming the live compacted base version dir.
#: ``_``-prefixed names are invisible to Spark's file listing, so the
#: pointer and the ``_v*`` version dirs coexist with plain appended
#: parquet files under the same table directory.
CURRENT_PTR = "_CURRENT"


def _current_version(src: str) -> str | None:
    """Read the manifest pointer: name of the live base version dir
    (``_vNNNNNN``), or None for a never-compacted (legacy) table."""
    import os

    ptr = os.path.join(src, CURRENT_PTR)
    try:
        with open(ptr, encoding="utf-8") as fh:
            name = fh.read().strip()
    except FileNotFoundError:
        return None
    return name or None


def _list_append_files(src: str) -> list[str]:
    """Relative paths of the top-level appended parquet files — every
    data file NOT under a ``_``-prefixed dir (version dirs, markers).
    This is the exact file set a compaction folds and later deletes;
    files appended concurrently are, by construction, not in it."""
    import os

    out: list[str] = []
    for root, dirs, files in os.walk(src):
        if root == src:
            dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for f in files:
            if f.endswith(".parquet"):
                out.append(os.path.relpath(os.path.join(root, f), src))
    return sorted(out)


def _read_sink_raw(spark, src: str, merge_schema: bool = False) -> DataFrame:
    """Union of the live compacted base version (via the ``_CURRENT``
    manifest pointer) and every top-level appended file.  Base rows
    kept their original ``__batch_id``/``seq`` through compaction, so
    one ``upsert_dedup`` over the union is still last-write-wins.

    ``merge_schema=True`` survives additive payload evolution (a later
    batch carrying a NEW column): parquet footers are merged per read
    and the base/append union aligns by name with missing columns
    null-filled.  Off by default — footer merging reads every file's
    metadata, which a 100 TB table pays for; production table formats
    carry the schema in the table metadata instead, and the upsert
    KEY columns are frozen (schemas.py) so the LWW semantics never
    depend on it."""
    cur = _current_version(src)
    appends = _list_append_files(src)
    ms = "true" if merge_schema else "false"
    parts = []
    if cur is not None:
        parts.append(
            spark.read.option("mergeSchema", ms).parquet(f"{src}/{cur}")
        )
    if appends:
        parts.append(
            spark.read.option("basePath", src)
            .option("mergeSchema", ms)
            .parquet(*[f"{src}/{p}" for p in appends])
        )
    if not parts:
        # empty/absent table: surface Spark's standard error
        return spark.read.parquet(src)
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p, allowMissingColumns=merge_schema)
    return df


def read_sink_latest(spark, path: str, table_suffix: str,
                     merge_schema: bool = False) -> DataFrame:
    """Read a sink table back applying last-write-wins across ALL
    appended batches — the query-side completion of upsert semantics
    (later batches shadow earlier rows with the same key).  Honors the
    ``_CURRENT`` manifest pointer left by :func:`compact_sink`.
    ``merge_schema=True`` tolerates additive schema evolution across
    the append history (see :func:`_read_sink_raw`)."""
    df = _read_sink_raw(spark, f"{path}/{table_suffix}", merge_schema)
    return upsert_dedup(df).drop(BATCH_COL)


def compact_sink(spark, path: str, table_suffix: str,
                 merge_schema: bool = False,
                 _test_hook_pre_flip=None) -> int:
    """Rewrite a sink table down to each key's WINNING row — the
    maintenance operation the append-only upsert layout needs: every
    micro-batch appends files, so without compaction the read-side
    last-write-wins window pays for the table's entire write history
    (at 100 TB: unbounded shadowed rows + small-file explosion).

    Correctness across the swap: the winner keeps its ORIGINAL
    ``__batch_id``/``seq`` columns through the rewrite, and streaming
    batch ids continue monotonically from the checkpoint (pinned by
    tests/test_streaming.py::test_pipeline_checkpoint_restart_
    incremental), so batches appended AFTER a compaction still shadow
    compacted rows under the same ``_write_order`` — compaction is
    invisible to readers except in cost.  The rewrite re-applies the
    layout contract (:func:`upsert_layout`, directory-partitioned by
    topic).

    Swap discipline — versioned dirs + manifest-pointer flip (the
    local twin of a table format's REPLACE commit):

    1. snapshot = current base version (``_CURRENT``) + an explicit
       listing of the appended files;
    2. the fold of exactly that snapshot is written to a NEW
       ``_vNNNNNN`` dir and row-count-validated (input counted once,
       via ``Observation`` during the write — no second dedup pass);
    3. the ``_CURRENT`` pointer is flipped with an atomic
       ``os.replace`` — a reader resolves either the old state or the
       new one, never a missing table;
    4. only then are the snapshot's appended files and the superseded
       version dir removed.

    Concurrent WRITERS are safe by construction: a micro-batch
    appended after the snapshot listing is not in the deletion set and
    still shadows the new base (batch ids are monotonic).  A
    concurrent compaction is refused via a kernel flock on the
    ``_COMPACT_LOCK`` sentinel (released automatically if the holder
    dies — see :func:`_acquire_compact_lock`).
    Concurrent READERS are atomic at the pointer flip; the one
    residual local-FS caveat is a reader that resolved the OLD state
    and lists its files only after step 4's deferred delete — a table
    format closes that last window with snapshot isolation, which is
    exactly what this operator's commit shape maps onto.

    Returns the surviving row count."""
    import os
    import shutil

    from pyspark.sql import Observation

    src = f"{path}/{table_suffix}"
    lock = os.path.join(src, "_COMPACT_LOCK")
    # refuse concurrent compactions (the daemon's --compact mode is a
    # standalone CLI; two racing folds could double-delete versions);
    # a kernel flock, so a killed holder's lock releases itself
    lock_fd = _acquire_compact_lock(lock)
    try:
        old_version = _current_version(src)
        snapshot = _list_append_files(src)
        if old_version is None and not snapshot:
            raise FileNotFoundError(f"no data files under {src}")
        seq = 0 if old_version is None else int(old_version[2:]) + 1
        new_version = f"_v{seq:06d}"
        # merge_schema: compacting an additively-evolved table without
        # footer merging would either fail the base/append union or
        # silently drop the new column from pre-merge files — pass
        # True after a schema evolution (see read_sink_latest)
        obs = Observation()
        (
            upsert_layout(_read_sink_raw(spark, src, merge_schema))
            .observe(obs, F.count(F.lit(1)).alias("n"))
            .write.mode("overwrite")
            .partitionBy("topic")
            .parquet(f"{src}/{new_version}")
        )
        n_in = obs.get["n"]
        # validate the materialized rewrite before publishing it
        n = spark.read.parquet(f"{src}/{new_version}").count()
        if n != n_in:
            shutil.rmtree(f"{src}/{new_version}", ignore_errors=True)
            raise RuntimeError(
                f"compaction row-count mismatch for {src}: "
                f"rewrite={n} input={n_in}"
            )
        if _test_hook_pre_flip is not None:
            _test_hook_pre_flip()
        # atomic publish: readers see old state or new state, never none
        tmp_ptr = os.path.join(src, CURRENT_PTR + ".tmp")
        with open(tmp_ptr, "w", encoding="utf-8") as fh:
            fh.write(new_version)
        os.replace(tmp_ptr, os.path.join(src, CURRENT_PTR))
        # deferred cleanup: ONLY the snapshot's files + superseded base
        for rel in snapshot:
            d, base = os.path.split(os.path.join(src, rel))
            for name in (base, f".{base}.crc"):
                try:
                    os.remove(os.path.join(d, name))
                except FileNotFoundError:
                    pass
        for root, dirs, files in os.walk(src, topdown=False):
            rel = os.path.relpath(root, src)
            # never touch _-prefixed trees (version dirs, an in-flight
            # writer's _temporary staging)
            if rel == "." or rel.split(os.sep)[0].startswith("_"):
                continue
            if not dirs and not files:
                try:
                    os.rmdir(root)
                except OSError:
                    pass
        if old_version is not None:
            shutil.rmtree(os.path.join(src, old_version),
                          ignore_errors=True)
        return n
    finally:
        # closing the fd releases the flock; the sentinel FILE stays
        # forever by design (unlinking it would split future openers
        # across inodes — see _acquire_compact_lock)
        os.close(lock_fd)
