"""Fixture-table catalog: parquet loaders for the driver test tables.

Tables (TESTDATA.md): TPC-H-ish star schema ``region nation customer
supplier part orders lineitem`` plus ``events`` (stream surrogate),
``documents`` (text ops) and ``embeddings`` (similarity ops).

Reads are plain ``spark.read.parquet`` so Catalyst gets full predicate
pushdown / column pruning; callers select/filter on the returned
DataFrame and the scan narrows automatically.
"""

from __future__ import annotations

import os
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

#: Dimension tables small enough to broadcast at ANY scale factor —
#: region is 5 rows and nation 25 at every SF (TPC-H constants).
BROADCAST_TABLES = frozenset({"region", "nation"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _int_ts_to_micros(df: DataFrame) -> str:
    """SQL expression converting an integer ``ts`` column to epoch
    MICROseconds, with the source unit inferred from one sampled value's
    magnitude — epoch units are ~3 decimal orders apart (sec ≈ 1.7e9,
    ms ≈ 1.7e12, µs ≈ 1.7e15, ns ≈ 1.7e18 for current dates), so the
    thresholds cannot misclassify any timestamp between 1973 and 5000.
    The fixture has already shipped two different units across rounds;
    inferring beats assuming.  Integer ``div`` (never ``/``: DOUBLE
    loses µs precision on 19-digit nanos).  The probe takes the MAX
    |ts| over a bounded non-null sample — a single-NULL or epoch-zero
    first row must not misclassify the unit (under ANSI mode a
    nanos-as-seconds misread would overflow `ts * 1000000` and kill
    every events query).  One bounded probe action, only on the
    int64-ts path.
    """
    sample = (
        df.select(F.abs(F.col("ts")).alias("v"))
        .where(F.col("ts").isNotNull())
        .limit(100)
        .collect()
    )
    v = max((r["v"] for r in sample), default=0)
    if v >= 10**17:
        return "ts div 1000"      # nanoseconds
    if v >= 10**14:
        return "ts"               # already microseconds
    if v >= 10**11:
        return "ts * 1000"        # milliseconds
    return "ts * 1000000"         # seconds


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table as a DataFrame.

    ``events.ts`` has shipped as either parquet TIMESTAMP(NANOS) or
    TIMESTAMP(MICROS) depending on fixture generation — so branch on
    the schema Spark actually reads rather than assuming a unit:

    * already a timestamp (TIMESTAMP / TIMESTAMP_NTZ): normalize to the
      session TimestampType (session timezone is pinned UTC below, so
      the NTZ→TZ cast is a pure relabel — wall-clock values unchanged,
      matching DuckDB's naive-timestamp oracle semantics).
    * int64 (the NANOS era, readable only via the
      ``nanosAsLong`` legacy conf we keep set as a fallback): integer-
      divide ns→µs — ``div`` not ``/1000``, which would go through
      DOUBLE and lose µs precision on 19-digit epoch-nanos.

    This is the engine-wide fix for the reference's timestamp-unit quirk
    (raw i64 bound to a timestamp column, main.rs:163; SURVEY.md §1.4).
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    # The caller may hand us a vanilla SparkSession (the driver harness
    # does); pin the runtime confs correctness depends on. UTC keeps
    # to_date/date_trunc in lockstep with the DuckDB oracle's naive
    # timestamps regardless of host timezone, and the package ships to
    # Python workers so pandas-UDF closures can resolve their module.
    from level2_to_cassandra_spark.session import ensure_package_on_workers

    ensure_package_on_workers(spark)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        # Fallback for the NANOS-era fixture: lets the footer schema
        # resolve as int64 instead of the reader rejecting the file.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(table_path(sf_dir, name))
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, T.LongType):
            return df.withColumn(
                "ts", F.timestamp_micros(F.expr(_int_ts_to_micros(df)))
            )
        if not isinstance(ts_type, T.TimestampType):
            # TIMESTAMP_NTZ (isAdjustedToUTC=false footer) → session-TZ
            # timestamp; with UTC session TZ the instant is unchanged.
            return df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(table_path(sf_dir, name))


def materialize_once(cache: dict, spark, sf_dir: str, prefix: str,
                     build) -> "DataFrame":
    """Build/serve split memo shared by the session-scoped staging
    tables (graph edges, kmeans assignment, component labels): run
    ``build(path)`` — which must write parquet to ``path`` and handle
    its own unpersists — ONCE per (applicationId, sf_dir), record the
    path in ``cache``, and serve ``spark.read.parquet(path)`` on every
    access.  Holding PATHS (never DataFrames) means nothing pins
    executor storage or references a stopped session; entries for
    other applicationIds are evicted on access and their tempdirs are
    reaped by the atexit hooks registered at build time.  Like every
    memo in this family, it assumes the fixture dir is immutable for
    the session (true of the driver's testdata; a mutated sf_dir needs
    a new session or an eviction in ``cache``)."""
    import atexit
    import shutil
    import tempfile

    app = spark.sparkContext.applicationId
    for stale in [k for k in cache if k[0] != app]:
        # eager reclaim (ADVICE r16): the evicted entry belongs to a
        # dead applicationId, so nothing can still be scanning it —
        # deleting now instead of at interpreter exit keeps a
        # long-lived process that cycles SparkSessions from
        # accumulating staging dirs (the atexit hook stays as the
        # backstop and tolerates the missing dir).
        shutil.rmtree(cache.pop(stale), ignore_errors=True)
    path = cache.get((app, sf_dir))
    if path is None:
        path = tempfile.mkdtemp(prefix=prefix)
        atexit.register(shutil.rmtree, path, ignore_errors=True)
        build(path)
        cache[(app, sf_dir)] = path
    return spark.read.parquet(path)


def staging_buckets(spark: SparkSession) -> int:
    """Bucket count for the bucketed staging tables: the environment's
    parallelism by default (local[4] oracle runs get 4, the bench's
    local[N] gets N, a cluster gets its core count), overridable with
    $SPARK_GRAFT_STAGING_BUCKETS for production layouts where buckets
    should track data volume rather than momentary cluster width.  An
    override that is not an integer of at least 1 warns and falls back
    to the default."""
    env = os.environ.get("SPARK_GRAFT_STAGING_BUCKETS")
    if env:
        try:
            n = int(env)
        except ValueError:
            n = 0
        if n >= 1:
            return n
        import warnings

        warnings.warn(
            f"SPARK_GRAFT_STAGING_BUCKETS={env!r} is not a positive "
            "integer; using defaultParallelism",
            stacklevel=2,
        )
    return int(spark.sparkContext.defaultParallelism)


def materialize_once_bucketed(cache: dict, spark, sf_dir: str,
                              prefix: str, build_df,
                              bucket_col: str,
                              sort_cols: tuple[str, ...]) -> "DataFrame":
    """The :func:`materialize_once` discipline for a BUCKETED staging
    table: ``build_df()`` returns the relation, which is written ONCE
    per (applicationId, sf_dir) as a bucketed+sorted external table
    (tempdir data, session-catalog metadata) and served via
    ``spark.table`` so every downstream join/aggregate on the bucket
    key reads a pre-partitioned, pre-sorted relation — no exchange,
    no sort, and scan parallelism = bucket count instead of the 2-4
    packed splits a small parquet dir coalesces to (guide §2.4
    "bucketed tables persist a partitioning across jobs";
    tests/test_bucketing.py proves the mechanism).

    The writer repartitions by the bucket column into exactly
    ``n_buckets`` partitions first: repartition and bucketing share
    the same murmur3-pmod assignment, so each writer task holds
    exactly one bucket and each bucket lands in ONE file — the
    one-file-per-bucket layout Spark requires before it will trust
    the written sort order."""
    import atexit
    import hashlib
    import shutil
    import tempfile

    app = spark.sparkContext.applicationId
    for stale in [k for k in cache if k[0] != app]:
        shutil.rmtree(cache.pop(stale)[0], ignore_errors=True)
    ent = cache.get((app, sf_dir))
    if ent is None:
        n = staging_buckets(spark)
        path = tempfile.mkdtemp(prefix=prefix)
        atexit.register(shutil.rmtree, path, ignore_errors=True)
        name = prefix + hashlib.md5(
            f"{app}|{sf_dir}".encode()
        ).hexdigest()[:12]
        (
            build_df()
            .repartition(n, F.col(bucket_col))
            .write.mode("overwrite")
            .option("path", path)
            .bucketBy(n, bucket_col)
            .sortBy(*sort_cols)
            .saveAsTable(name)
        )
        ent = (path, name)
        cache[(app, sf_dir)] = ent
    return spark.table(ent[1])


def staging_dir(prefix: str) -> str:
    """A fresh staging directory for a format-snapshot query
    (q_json_scan/q_csv_scan/q_orc_scan/q_xml_scan), reclaimed at
    interpreter exit.

    Fresh per invocation: a path shared across sessions would let one
    session's ``mode("overwrite")`` delete files under another
    session's concurrent scan (bench + pytest race).  Deleting eagerly
    is unsafe while the caller's lazy read is still pending, so each
    dir is reclaimed at interpreter exit instead (ADVICE r04 #1 —
    without the atexit hook every bench rep / oracle check leaked a
    text copy of events to /tmp for the host to accumulate across
    rounds)."""
    import atexit
    import shutil
    import tempfile

    path = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


def spread_scan(df: DataFrame, min_parallelism: int | None = None) -> DataFrame:
    """Give per-row-heavy compute (shingling, tokenization, hashing)
    full parallelism when the upstream SCAN cannot.

    A single-file / single-row-group parquet table scans as ONE task no
    matter how many cores the cluster has (``maxPartitionBytes`` cannot
    split inside a row group), so everything narrow-chained onto the
    scan runs single-threaded.  When the scan reads fewer FILES than
    the session's default parallelism, round-robin repartition to
    spread the compute; at real scale a 100 TB table is thousands of
    files ≥ cores and this is a NO-OP — no shuffle is added where the
    data already provides parallelism.

    The file count comes from the plan's file index
    (``df.inputFiles()``) — pure metadata, no RDD conversion, so no
    physical planning is forced on the driver at plan-build time.  File
    count under-counts splits (a multi-row-group file scans as several
    tasks), so the heuristic can only over-spread — and a SIZE guard
    (also pure metadata: os.stat over the same file list) limits that
    over-spread to genuinely small
    inputs: a large single-file table with many row groups already
    scans as many parallel tasks, and round-robin-shuffling gigabytes
    to "spread" them would cost more than it saved.  Streaming inputs
    pass through unchanged: for those the caller's own shuffles set
    parallelism.
    """
    if df.isStreaming:
        return df
    target = min_parallelism or df.sparkSession.sparkContext.defaultParallelism
    files = df.inputFiles()
    n_files = len(files)
    if not 0 < n_files < target:
        return df
    # Size from the same PUBLIC file index that gave the count (a
    # private-API plan probe — df._jdf.queryExecution().…stats() —
    # broke across Spark upgrades; VERDICT r04 #7).  Local paths stat
    # directly; for remote filesystems (hdfs://, s3://…) stay
    # conservative and skip the spread — a remote table small enough
    # to need it is rare, and no repartition is always correct.
    size_bytes = 0
    for uri in files:
        parsed = urlparse(uri)
        if parsed.scheme not in ("", "file"):
            return df
        try:
            size_bytes += os.stat(parsed.path or uri).st_size
        except OSError:
            return df
    # half a maxPartitionBytes split per target core: above this the
    # scan's own row-group splits (or the caller's shuffles) provide
    # the parallelism and an extra exchange is pure cost
    if size_bytes > target * 64 * 1024 * 1024:
        return df
    return df.repartition(target)


#: Experiment escape hatch for same-session A/B measurement scripts
#: (tools/): never set false in engine code.
_SPREAD_KEYS_ENABLED = True


def spread_keys(df: DataFrame, *keys: str) -> DataFrame:
    """Hash-repartition a small-bytes/large-work relation to cluster
    width ahead of an expansion join or a wide probe chain.

    AQE's partition coalescing is BYTE-based (advisory target ≈ 64 MB,
    1 MB minimum partition), so a candidate-pair relation of a few MB
    collapses to 1-3 partitions — and every broadcast-probe,
    expansion join and per-pair kernel downstream of it inherits that
    parallelism, serializing seconds of CPU onto a couple of cores
    (measured r17: q_llm_dedup_embed's whole re-rank ran as ONE task,
    1.6-1.9 s of a 2.4 s query; q_text_containment's verification ran
    as 3).  The byte heuristic cannot see that verification multiplies
    work per row ~40x; this helper states it: repartition to
    ``defaultParallelism`` — environment-derived, so local[4] oracle
    runs stay at 4 and a cluster gets its core count — keyed by the
    given columns (deterministic hash, no round-robin sort, safe under
    task retry).  An explicitly numbered repartition is exempt from
    AQE coalescing by design, which is exactly the point.

    At 100 TB the same mismatch appears as 64 MB pair partitions each
    hiding ~50x expansion work; a defaultParallelism floor keyed by
    pair ids is the conservative statement of "this stage is
    CPU-bound, use every core" and AQE still handles everything
    upstream.

    The partitioning expression is ``xxhash64(keys)``, NOT the bare
    key columns: these relations arrive from a ``distinct()``/
    ``groupBy()`` over the same keys, so a same-keyed repartition is
    provably redundant with the aggregation's own exchange and the
    planner REMOVES it (measured r17: the static plan showed both
    exchanges, the executed AQE plan had folded the repartition away
    and coalesced the surviving exchange to 1 task).  Hashing first
    yields a structurally different — and perfectly balanced —
    partitioning that survives planning; it is a pure function of the
    keys, so retried tasks land rows identically (no round-robin
    nondeterminism, guide §2.5)."""
    if not _SPREAD_KEYS_ENABLED:  # measurement scripts only
        return df
    n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, F.xxhash64(*[F.col(k) for k in keys]))


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_temp_views(
    spark: SparkSession, sf_dir: str, only: tuple[str, ...] | None = None
) -> None:
    """Register fixture tables as temp views for spark.sql use.

    ``only`` limits registration to the tables a query actually reads —
    fault isolation (a breakage loading one table can't take down SQL
    that never touches it) and avoids pointless catalog work.  Default
    registers everything for exploratory/REPL callers.
    """
    for name in only if only is not None else TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
