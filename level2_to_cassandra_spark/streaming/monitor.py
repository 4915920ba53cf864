"""Per-micro-batch ingest observability (SURVEY.md §2 A9-A11 adjacent —
the operational telemetry the reference daemon has none of: its only
signal is a per-message eprintln on failure, main.rs:224-229).

A production ingest needs to answer, per micro-batch: how many rows
landed, what event-time range they covered (watermark lag), and
whether any carried a broken upsert key.  :func:`foreach_batch_with_metrics`
wraps any ``foreachBatch`` sink callback to append one audit row per
(batch, table) to a parquet metrics table beside the sink.

Cost model: the four counters are observed metrics
(``DataFrame.observe``) on the batch handed to the sink, so they are
computed inside the sink write's own job — no cache, no second job
over the batch.  Spark delivers an ``Observation``'s result once the
first action over the observed frame finishes, and does so inside
``foreachBatch`` too: each callback gets a fresh ``Observation`` and
reads it after the wrapped write returns.  The journal row adds no
job: the driver builds it as a one-row Arrow table from the
``Observation`` and publishes it as one new parquet file with
:func:`publish_parquet` (tmp name, then rename), so a live trigger
runs exactly one Spark job chain, the sink write (a Spark append of
the row would add a job and a file-commit protocol, about 150-250 ms
per trigger on 4 cores).

The data-quality gates and monitors below (drift, KS, embedding
drift, covariance, outlier, vocabulary growth, shingle df, novelty,
line dedup, quality, vote, mixture, classifier, URL dedup, grid
rollup) are step factories: ``<gate>_step(...)`` returns one step,
and :func:`gate_chain` runs any number of steps in front of one sink
callback, as in ``gate_chain(sink, drift_step(...),
url_dedup_step(...))``.  The chain owns the delivery semantics: it
persists the batch once per trigger, feeds each step the previous
step's admitted rows, and runs every journal append AFTER the sink
write succeeds.  The metrics wrapper keeps the same contract, and
readers aggregate with ``dropDuplicates(["batch_id"])`` as usual for
audit logs.  Every journal lives beside the sink under an
underscore-prefixed directory (so directory-globbing readers of the
data tables skip it), and every ``read_*`` reader returns an empty
relation of the journal's pinned schema before the first delivered
batch.
"""

from __future__ import annotations

import os
import tempfile
import uuid
from collections.abc import Callable
from urllib.parse import urlparse

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

#: audit-table schema (kept flat + scalar so any engine can read it)
METRICS_SCHEMA = (
    "batch_id long, table_suffix string, n_rows long, "
    "n_null_key long, min_event_ts timestamp, max_event_ts timestamp"
)
#: the same columns as Arrow types, for the driver-side append
_METRICS_ARROW = pa.schema([
    ("batch_id", pa.int64()), ("table_suffix", pa.string()),
    ("n_rows", pa.int64()), ("n_null_key", pa.int64()),
    ("min_event_ts", pa.timestamp("us", tz="UTC")),
    ("max_event_ts", pa.timestamp("us", tz="UTC")),
])


def metrics_path(base: str) -> str:
    """The audit table lives beside the sink tables, underscore-prefixed
    so directory-globbing readers of the data tables skip it."""
    return f"{base}/_ingest_metrics"


def foreach_batch_with_metrics(
    inner: Callable[[DataFrame, int], None],
    base_path: str,
    table_suffix: str,
    key_col: str = "symbol",
    ts_col: str = "time",
) -> Callable[[DataFrame, int], None]:
    """Wrap a foreachBatch callback with per-batch audit telemetry.

    ``inner`` receives the batch with the counters attached as observed
    metrics (see module docstring), so it must run at least one action
    over it, as every sink does; the counts cover the batch as
    delivered, before the sink's upsert dedup.  After ``inner`` returns,
    the row is published as a new uniquely named file under
    ``{base_path}/_ingest_metrics/{table_suffix}`` (a local path or a
    ``file://`` URI, :func:`publish_parquet`): nothing is overwritten,
    so a replayed batch id journals a second identical row, which
    readers collapse with ``dropDuplicates(["batch_id"])``.  A failed
    append raises out of the callback, so the batch is retried.  A
    ``base_path`` of any other scheme raises ``ValueError`` when the
    wrapper is built.
    """
    journal = local_path(f"{metrics_path(base_path)}/{table_suffix}")

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        obs = Observation()
        inner(
            batch_df.observe(
                obs,
                F.count(F.lit(1)).alias("n_rows"),
                F.count(F.when(F.col(key_col).isNull(), 1))
                .alias("n_null_key"),
                F.unix_micros(F.min(ts_col)).alias("min_us"),
                F.unix_micros(F.max(ts_col)).alias("max_us"),
            ),
            batch_id,
        )
        m = _observed(obs)
        publish_parquet(
            pa.Table.from_pylist([{
                "batch_id": int(batch_id), "table_suffix": table_suffix,
                "n_rows": m.get("n_rows", 0),
                "n_null_key": m.get("n_null_key", 0),
                "min_event_ts": m.get("min_us"),
                "max_event_ts": m.get("max_us"),
            }], schema=_METRICS_ARROW),
            journal,
            f"batch-{batch_id}-{uuid.uuid4().hex}.parquet",
        )

    return _write


def local_path(path: str) -> str:
    """``path`` as a local filesystem path: a plain path as it is, the
    path of a ``file://`` URI (the forms a sink root or checkpoint
    takes on a local filesystem); any other scheme raises
    ``ValueError`` rather than name a local directory after it."""
    parsed = urlparse(path)
    if parsed.scheme not in ("", "file"):
        raise ValueError(f"not a local path: {path!r}")
    return parsed.path if parsed.scheme else path


def publish_parquet(table: pa.Table, directory: str, name: str) -> None:
    """Publish ``table`` as the parquet file ``directory/name`` in one
    step: write it under a dot-prefixed tmp name, which Spark's parquet
    reader and :func:`state.read_carry` skip, then ``os.replace`` it
    into place, so a reader sees the whole file or none of it.
    ``directory`` (made if absent) goes through :func:`local_path`.
    This assumes a local filesystem, as the tick carry and the sink
    compaction's manifest flip do: the rename is atomic there, and on
    an object store it would be a copy."""
    directory = local_path(directory)
    os.makedirs(directory, exist_ok=True)
    tmp = f"{directory}/.{name}.tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, f"{directory}/{name}")


def _observed(obs: Observation) -> dict:
    """An ``Observation``'s metrics, or ``{}`` when the optimizer pruned
    the observed node: a batch it can prove empty (a local empty
    relation) completes the observation with an empty row, which
    ``Observation.get`` cannot convert."""
    if obs._jo.getRow().length() == 0:
        return {}
    return obs.get


#: Journal directories of the gates below, beside the sink.  Gates
#: that score a named stream write one subdirectory per stream, so two
#: streams sharing a base never interleave their batch_id sequences.
_DRIFT = "_drift_metrics"
_KS = "_ks_metrics"
_EMBED_DRIFT = "_embed_drift_metrics"
_COVARIANCE = "_covariance_state"
_OUTLIERS = "_embed_outliers"
_VOCAB = "_vocab_terms"
_NOVELTY = "_novelty"
_QUALITY = "_quality_gate"
_VOTE = "_vote_gate"
_MIXTURE = "_mixture"
_CLASSIFIER = "_classifier_gate"
_GRID = "_grid_rollup"

#: replay key of the per-document journals
_DOC_KEY = ("batch_id", "doc_id")


def gate_chain(
    inner: Callable[[DataFrame, int], None],
    *steps: Callable,
) -> Callable[[DataFrame, int], None]:
    """The at-least-once foreachBatch skeleton every gate shares: run
    ``steps`` in chain order in front of the sink callback ``inner``.

    A step is ``step(batch, batch_id, persist) -> (admitted, appends)``:
    the frame it passes on (the whole batch for a pure audit) and an
    ordered list of journal appends (zero-argument callables).  Per
    trigger: persist the batch once, call each step on the previous
    step's admitted frame (a NEW admitted frame is persisted too — the
    next step, the sink and the appends all read it), run ``inner`` on
    the last admitted frame, then run every step's appends in chain
    order.  ``persist(df)`` caches a frame a step reads from more than
    one branch.  Every frame persisted here is released in one
    ``finally``, whether the write succeeds or raises.  The caches are
    trigger-bounded: the sink write and the journal legs share one
    scan of the batch.

    Delivery semantics (the foreachBatch contract of *Structured
    Streaming*, SIGMOD 2018): the appends run only AFTER the sink
    write succeeds, inside the same at-least-once attempt, so a failed
    write journals nothing for any step and the replayed batch re-runs
    the whole chain.  A step is a deterministic function of its input
    and of the journal rows of strictly earlier batches, so a replay
    writes IDENTICAL rows under the same batch_id: readers collapse
    them with ``dropDuplicates`` on the journal's replay key, and the
    seen stores (:func:`_earlier`) probe only rows of earlier batches.
    (The vocabulary store is the one journal read without a batch
    filter; see :func:`vocab_growth_step`.)
    """

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        cached = [batch_df.persist()]

        def persist(df: DataFrame) -> DataFrame:
            cached.append(df.persist())
            return df

        try:
            admitted, appends = batch_df, []
            for step in steps:
                out, more = step(admitted, int(batch_id), persist)
                admitted = admitted if out is admitted else persist(out)
                appends += more
            inner(admitted, batch_id)
            for append in appends:
                append()
        finally:
            for df in reversed(cached):
                df.unpersist()

    return _write


def _append(df: DataFrame, path: str, one_file: bool = True):
    """A journal append, deferred until the sink write succeeds.  An
    audit journal gets one file per batch; a store or delta journal
    keeps the frame's partitioning."""
    if one_file:
        df = df.coalesce(1)
    return lambda: df.write.mode("append").parquet(path)


def _bid(batch_id: int):
    """The ``batch_id`` column every journal row carries."""
    return F.lit(batch_id).cast("long").alias("batch_id")


def is_empty_store_error(e) -> bool:
    """True iff an AnalysisException means "this journal or store holds
    nothing yet".

    Classify by the STRUCTURED error condition (a message substring
    match could be spoofed by a path that happens to contain the error
    name).  Empty-store conditions mean "nothing seen yet":
    PATH_NOT_FOUND is the true first batch; UNABLE_TO_INFER_SCHEMA is
    the directory a crash left with no readable footer (e.g. died
    between the rows write and the store write) — retrying the read
    can never succeed there.  Everything else (permissions, transient
    FS, corrupt footer on a populated store) is NOT empty and must
    propagate — swallowing it would silently misreport real state."""
    try:
        cond = e.getCondition() or ""
    except Exception:  # noqa: BLE001 — legacy error without condition
        cond = ""
    return cond in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA")


def _read_journal(spark, path: str, schema,
                  keys: tuple[str, ...] | None = None) -> DataFrame:
    """Read a journal or store directory with its pinned ``schema`` (a
    DDL string, or a frame's ``StructType``), or an EMPTY relation of
    that schema when no batch has been delivered yet
    (:func:`is_empty_store_error` — the one reader for the gates'
    journals and the admit steps' stores, so the condition set cannot
    drift between reader families).  Non-empty errors (permissions,
    transient FS, corrupt footer on a populated journal) re-raise —
    swallowing one would silently report an empty monitor over a
    journal that exists, or re-admit already-seen content.  ``keys``
    is the journal's replay key: replayed batches' identical rows
    collapse on it."""
    from pyspark.errors import AnalysisException

    try:
        df = spark.read.schema(schema).parquet(path)
    except AnalysisException as e:
        if not is_empty_store_error(e):
            raise
        df = spark.createDataFrame([], schema)
    return df if keys is None else df.dropDuplicates(list(keys))


def read_metrics(spark, base_path: str, table_suffix: str) -> DataFrame:
    """Read the audit table for one sink table."""
    return _read_journal(
        spark, f"{metrics_path(base_path)}/{table_suffix}", METRICS_SCHEMA
    )


def _split(scored: DataFrame, admit, reject, cols: list[str], bid: int,
           metrics: tuple[str, ...], path: str):
    """A stateless gate's two legs: rows matching ``admit`` go to the
    sink with the batch's own ``cols``; rows matching ``reject`` are
    journaled with their ``metrics``.  Both legs are map-side
    expressions over the persisted batch — zero shuffles."""
    rejects = scored.where(reject).select(
        _bid(bid), F.col("doc_id").cast("long").alias("doc_id"), *metrics
    )
    return scored.where(admit).select(*cols), [_append(rejects, path)]


def _earlier(spark, path: str, schema, bid: int) -> DataFrame:
    """The rows of the seen store at ``path`` that STRICTLY EARLIER
    batches wrote (``batch_id < bid``): a crashed attempt's own rows are
    excluded, and later batches cannot have run (foreachBatch replays
    only the last uncommitted batch), so a replay re-derives the same
    admission wherever the crash fell.  A row without a ``batch_id``
    (a seeded store, or one written before stores carried it) counts
    as earlier than every batch."""
    return _read_journal(spark, path, schema).where(
        F.coalesce(F.col("batch_id"), F.lit(-1)) < bid
    )


def _first_seen(store: str, frame: DataFrame, key: str, rank, bid: int,
                store_key: str | None = None):
    """First occurrences of ``key`` against the append-only seen store
    directory ``store`` — shared by the novelty, line-dedup and
    URL-dedup gates and the admit steps of operators/dedup.py.

    Returns ``(leaders, seal)``.  ``leaders`` are the rows of ``frame``
    whose key no strictly earlier batch stored (:func:`_earlier`) and
    whose ``rank`` is the minimum among the batch's rows with that
    key.  The probe is one exact left-anti join of ``frame`` against
    the filtered store; no ``.distinct()`` on the store side, since a
    left-anti join is already set-semantics on its build side.
    ``seal(stored)`` gives the store append recording ``stored``'s
    keys under ``bid``, one file per trigger: every frame a caller
    seals is persisted in its trigger, so the coalesce re-runs no
    window.  ``store_key`` names the store column when it differs from
    ``key``."""
    store_key = store_key or key
    as_key = key if store_key == key else F.col(store_key).alias(key)
    seen = _earlier(frame.sparkSession, store,
                    f"{store_key} string, batch_id long", bid).select(as_key)
    leaders = (
        frame.join(seen, key, "left_anti")
        .withColumn("__lead", F.min(rank).over(Window.partitionBy(key)))
        .where(F.col("__lead") == rank)
    )

    def seal(stored: DataFrame):
        as_store = key if store_key == key else F.col(key).alias(store_key)
        return _append(stored.select(as_store, _bid(bid)), store)

    return leaders, seal


#: drift-audit schema (flat + scalar, same rationale as METRICS_SCHEMA;
#: ``key`` is always written as STRING — the step casts arbitrary
#: key columns so the fixed read schema can never type-mismatch the
#: written parquet)
DRIFT_SCHEMA = (
    "batch_id long, stream string, key string, n_ref long, "
    "n_batch long, psi double, drift_flag boolean"
)


def drift_step(
    base_path: str,
    ref_cells: DataFrame,
    stream: str = "events",
    key_col: str = "event_type",
    value_col: str = "value",
) -> Callable:
    """Gate-chain step for per-batch DISTRIBUTION DRIFT scoring — the
    streaming twin of q_drift_psi: every micro-batch is compared
    against a FROZEN reference histogram
    (:func:`operators.drift.reference_cells`, built once offline) and
    one ``(batch_id, key, psi, drift_flag)`` audit row per reference
    key is appended beside the sink.  This is the data-quality gate a
    production ingest runs continuously: the alarm fires while the
    drifted batches are landing, not at the next offline audit.

    Cost: the scoring is a join, which observed metrics cannot carry,
    so the batch is read from the :func:`gate_chain` cache.  The
    reference relation is #keys × ≤N_BINS rows and broadcast into the
    scoring join — per batch the added work is one map-side binning
    pass + one (key, bin) count aggregate.  Readers dedup on
    ``(batch_id, key)``.

    The reference relation is SNAPSHOTTED here (one bounded collect —
    it is #keys × ≤N_BINS rows by construction): the scoring join
    reads it through three plan branches, so an unpersisted caller
    relation would re-run the reference build ~3× on EVERY micro-batch
    (union-branch recompute); a collected local relation replays for
    free and survives the caller unpersisting theirs."""
    from level2_to_cassandra_spark.operators.drift import (
        psi_against_reference,
    )

    ref_snap = ref_cells.sparkSession.createDataFrame(
        ref_cells.collect(), ref_cells.schema
    )

    def step(batch, bid, persist):
        out = psi_against_reference(
            batch, ref_snap, key_col=key_col, value_col=value_col
        ).select(
            _bid(bid), F.lit(stream).alias("stream"),
            F.col("key").cast("string").alias("key"),
            "n_ref", "n_batch", "psi", "drift_flag",
        )
        return batch, [_append(out, f"{base_path}/{_DRIFT}/{stream}")]

    return step


def read_drift(spark, base_path: str, stream: str = "events") -> DataFrame:
    """Read one stream's drift audit table."""
    return _read_journal(
        spark, f"{base_path}/{_DRIFT}/{stream}", DRIFT_SCHEMA
    )


#: KS-audit schema — the DRIFT_SCHEMA shape with the exact statistic
#: in place of the binned one (``key`` cast to STRING by the step,
#: same rationale).
KS_SCHEMA = (
    "batch_id long, stream string, key string, n_ref long, "
    "n_batch long, ks double, drift_flag boolean"
)


def ks_step(
    base_path: str,
    ref_dist: DataFrame,
    stream: str = "events",
    key_col: str = "event_type",
    value_col: str = "value",
) -> Callable:
    """Gate-chain step for per-batch EXACT KOLMOGOROV-SMIRNOV drift
    scoring — the streaming twin of q_drift_ks (VERDICT r13 #4),
    completing the drift family's build/score splits (PSI:
    drift_step; embedding: embedding_drift_step; nonparametric
    sup-distance: THIS).  The reference CDF grid is frozen ONCE
    (:func:`operators.drift.ks_reference_dist`, built offline) and
    every micro-batch is scored with one (key, value) aggregate + one
    union-grid-sized window pass; one ``(batch_id, key, ks,
    drift_flag)`` audit row per scored key is appended beside the
    sink.  Readers dedup on ``(batch_id, key)``.

    Unlike the PSI reference (#keys × ≤10 rows, snapshotted with a
    bounded collect), the KS grid is VALUE-CARDINALITY-bounded —
    potentially far too large to collect — so it is PERSISTED for the
    stream's lifetime instead: the scoring join reads it once per
    batch, and an unpersisted caller relation would re-run the
    reference build every micro-batch.  At production scale the grid
    is a parquet staging table and this persist is a cache over its
    scan.  The persist outlives the STREAM, not just a batch — call
    the returned step's ``teardown()`` handle after
    ``query.awaitTermination()`` / ``stop()`` to release the executor
    storage (ADVICE r14: without it the cache pins memory for the
    process lifetime once the stream ends)."""
    from level2_to_cassandra_spark.operators.drift import (
        ks_against_reference,
    )

    ref_dist = ref_dist.persist()

    def step(batch, bid, persist):
        out = ks_against_reference(
            batch, ref_dist, key_col=key_col, value_col=value_col
        ).select(
            _bid(bid), F.lit(stream).alias("stream"),
            F.col("key").cast("string").alias("key"),
            "n_ref", "n_batch", "ks", "drift_flag",
        )
        return batch, [_append(out, f"{base_path}/{_KS}/{stream}")]

    # teardown handle: unpersist the stream-lifetime reference cache
    # once the query terminates (idempotent — unpersist on an already
    # unpersisted relation is a no-op)
    step.teardown = lambda: ref_dist.unpersist()
    return step


def read_ks(spark, base_path: str, stream: str = "events") -> DataFrame:
    """Read one stream's KS audit table."""
    return _read_journal(spark, f"{base_path}/{_KS}/{stream}", KS_SCHEMA)


#: embedding-drift audit schema — one row per (batch, occupied cell),
#: mirroring q_drift_embedding's per-cell output so the audit table
#: carries every cell's contribution, not just the scalar psi.
EMBED_DRIFT_SCHEMA = (
    "batch_id long, stream string, cluster_id long, c_ref long, "
    "c_cur long, psi_term double, psi double, drift_flag boolean"
)


def embedding_drift_step(
    base_path: str,
    centroids: DataFrame,
    ref_cells: DataFrame,
    n_cells: int,
    stream: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> Callable:
    """Gate-chain step for per-batch EMBEDDING-SPACE drift scoring —
    the streaming twin of q_drift_embedding (VERDICT r10 task #6):
    each embedding micro-batch is quantized against a FROZEN codebook (``centroids`` — the centroid relation
    the offline label table was assigned against, e.g.
    ``similarity.ivf_index(em, lloyd_iters=_KMEANS_ITERS-1)[0]``) and
    its cluster occupancy is PSI-compared against the frozen reference
    occupancy (:func:`operators.drift.cluster_reference_cells` over
    the label table's reference cohort).  One audit row per occupied
    cell per batch, so the per-cell contributions land in the audit
    table exactly as the batch query emits them; readers dedup on
    ``(batch_id, cluster_id)``.

    ``n_cells`` is the quantizer's cell count (the Laplace
    denominator — queries/llm.py::_KMEANS_K for the session kmeans
    table), NOT the occupied-cell count.

    Both the codebook and the reference occupancy are SNAPSHOTTED once
    (bounded collects — each is ≤n_cells rows by construction) so no
    per-batch rebuild or union-branch recompute of the caller's
    relations can occur.  Per batch the added work is one
    Arrow-batched matmul assignment (map-side, zero shuffles —
    operators/similarity.py::ivf_assign_np) plus a ≤n_cells-row
    aggregate and fold."""
    from level2_to_cassandra_spark.operators.drift import (
        psi_against_cluster_reference,
    )
    from level2_to_cassandra_spark.operators.similarity import (
        ivf_assign_np,
    )

    cent_snap = centroids.sparkSession.createDataFrame(
        centroids.collect(), centroids.schema
    )
    ref_snap = ref_cells.sparkSession.createDataFrame(
        ref_cells.collect(), ref_cells.schema
    )

    def step(batch, bid, persist):
        labeled = ivf_assign_np(
            batch, cent_snap, id_col=id_col, vec_col=vec_col,
            round_assign=6,
        )
        out = psi_against_cluster_reference(
            labeled, ref_snap, n_cells=n_cells
        ).select(
            _bid(bid), F.lit(stream).alias("stream"),
            "cluster_id", "c_ref", "c_cur", "psi_term", "psi", "drift_flag",
        )
        return batch, [_append(out, f"{base_path}/{_EMBED_DRIFT}/{stream}")]

    return step


def read_embed_drift(spark, base_path: str,
                     stream: str = "embeddings") -> DataFrame:
    """Read one stream's embedding-drift audit table."""
    return _read_journal(
        spark, f"{base_path}/{_EMBED_DRIFT}/{stream}", EMBED_DRIFT_SCHEMA
    )


#: incremental second-moment journal — one row per (batch, upper-
#: triangle cell): the per-batch Gram/sum partials that
#: operators/similarity.py::gram_partials emits, reduced to one row
#: per cell per batch before landing.  Append-only (never
#: read-modify-write) so a replayed batch can only write IDENTICAL
#: rows under the same batch_id; readers dedup on (batch_id, i, j).
COVARIANCE_SCHEMA = (
    "batch_id long, i long, j long, sxy double, sxi double, "
    "syj double, cnt long"
)


def covariance_step(
    base_path: str,
    dim: int = 64,
    stream: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> Callable:
    """Gate-chain step for INCREMENTAL COVARIANCE maintenance — the
    streaming twin of q_embed_covariance: each
    embedding micro-batch folds into the running second-moment state,
    so the corpus covariance (the moment matrix behind PCA/whitening
    and eigen-spectrum drift diagnostics) is ALWAYS CURRENT at the
    ingest boundary instead of requiring a full offline corpus pass
    after every load.

    The Gram sums are exactly additive over row-disjoint batches
    (sxy/sxi/syj/cnt are plain sums), so the state is an append-only
    journal of per-batch partials — dim·(dim+1)/2 rows per batch —
    and :func:`read_covariance` reduces it to the query's output
    shape on demand; replay cannot double-count a batch into the
    moments (no read-modify-write race by construction).  Per batch
    the added work is ONE Arrow-batched numpy matrix product over the
    admitted rows (map-side, zero shuffles — the same kernel the
    offline query runs) plus a 2080-row aggregate and a single-file
    append: O(dim²) cost regardless of corpus size, which is what
    makes moment maintenance viable at 100 TB where the offline
    re-scan is a full corpus read.

    Row admission mirrors q_embed_covariance exactly (non-NULL,
    correct length, no NULL elements; the kernel additionally masks
    non-finite content) so the maintained state and the offline query
    agree cell-for-cell — parity-pinned by
    test_streaming_covariance_matches_batch_query."""
    from level2_to_cassandra_spark.operators.similarity import (
        admit_predicate,
        gram_partials,
    )

    def step(batch, bid, persist):
        # the SHARED admission predicate — an inline copy here would
        # silently desynchronize the journal from q_embed_covariance
        # the first time the predicate evolves (it did in r12: the
        # finiteness leg)
        rows = batch.where(admit_predicate(dim, vec_col))
        parts = (
            gram_partials(rows, dim=dim, id_col=id_col, vec_col=vec_col)
            .groupBy("i", "j")
            .agg(
                F.sum("sxy").alias("sxy"),
                F.sum("sxi").alias("sxi"),
                F.sum("syj").alias("syj"),
                F.sum("cnt").alias("cnt"),
            )
            .select(_bid(bid), "i", "j", "sxy", "sxi", "syj", "cnt")
        )
        return batch, [_append(parts, f"{base_path}/{_COVARIANCE}/{stream}")]

    return step


def read_covariance(spark, base_path: str,
                    stream: str = "embeddings") -> DataFrame:
    """Reduce the moment journal to q_embed_covariance's exact output
    shape — upper-triangle ``(i, j, cov, n)``, covariance rounded
    sign-normalized at 6 like every moment in the registry.  Replayed
    batches collapse via dropDuplicates on (batch_id, i, j) (their
    re-derived rows are identical by determinism of the kernel); the
    reduction then runs over #batches · dim²/2 journal rows — never
    the corpus."""
    from level2_to_cassandra_spark.functions import round_signless

    agg = (
        _read_journal(
            spark, f"{base_path}/{_COVARIANCE}/{stream}",
            COVARIANCE_SCHEMA, ("batch_id", "i", "j"),
        )
        .groupBy("i", "j")
        .agg(
            F.sum("sxy").alias("sxy"),
            F.sum("sxi").alias("sxi"),
            F.sum("syj").alias("syj"),
            F.sum("cnt").alias("n"),
        )
    )
    nd = F.col("n").cast("double")
    cov = round_signless(
        F.col("sxy") / nd - (F.col("sxi") / nd) * (F.col("syj") / nd), 6
    )
    return agg.select(
        "i", "j", cov.alias("cov"), F.col("n").cast("long").alias("n")
    )


#: Outlier-gate quarantine schema: one row per REJECTED asset per
#: batch — the scored cosine for distribution outliers, NULL for
#: vectors the admission filter refused to score.
OUTLIER_GATE_SCHEMA = (
    "batch_id long, vec_id long, cos_centroid double, reason string"
)


def outlier_gate_step(
    base_path: str,
    centroid: list[float],
    cnorm: float,
    tau: float = -0.15,
    stream: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> Callable:
    """Gate-chain step for the CENTROID-COSINE OUTLIER GATE — the
    streaming twin of q_embed_outlier
    (queries/llm.py): each micro-batch is scored against a FROZEN
    centroid (``centroid``/``cnorm`` from
    operators/similarity.py::centroid_stats over the reference
    corpus — the same frozen-reference discipline as the drift
    monitors) and split three ways:

    * rows the admission filter accepts whose rounded cosine clears
      ``tau`` are admitted UNCHANGED (original columns);
    * admitted rows scoring BELOW ``tau`` are quarantined with their
      cosine (``reason='outlier'``);
    * rows the filter refuses (NULL / wrong-length / element-NULL /
      zero-norm vectors — exactly the rows the batch query excludes)
      are quarantined unscored (``reason='malformed'``).

    Scoring is operators/similarity.py::centroid_cosine — the SAME
    codegen'd fold over literal doubles the batch query runs, so gate
    and query agree bit-for-bit on every admitted vector
    (parity-pinned by
    test_streaming_outlier_gate_parity_with_registered_query).  The
    split predicates are null-safe by admit_predicate's construction,
    so the three legs PARTITION the batch: nothing is dropped, nothing
    lands twice.  Per batch the added work is two map-side folds
    (cosine + norm) over the batch — zero shuffles, zero Python, O(dim)
    frozen state.  Readers dedup on (batch_id, vec_id)."""
    from level2_to_cassandra_spark.operators.similarity import (
        admit_predicate,
        centroid_cosine,
        vector_norm,
    )

    cos_r = centroid_cosine(centroid, cnorm, vec_col)
    scoreable = admit_predicate(dim, vec_col) & (vector_norm(vec_col) > 0)
    if cnorm <= 0:  # degenerate reference: nothing is scoreable
        scoreable = F.lit(False)

    def step(batch, bid, persist):
        vec_id = F.col(id_col).cast("long").alias("vec_id")
        quarantined = batch.withColumn("__cos", cos_r).where(
            scoreable & (F.col("__cos") < F.lit(tau))
        ).select(
            _bid(bid), vec_id, F.col("__cos").alias("cos_centroid"),
            F.lit("outlier").alias("reason"),
        ).unionByName(
            batch.where(~scoreable).select(
                _bid(bid), vec_id,
                F.lit(None).cast("double").alias("cos_centroid"),
                F.lit("malformed").alias("reason"),
            )
        )
        return batch.where(scoreable & (cos_r >= F.lit(tau))), [
            _append(quarantined, f"{base_path}/{_OUTLIERS}/{stream}")
        ]

    return step


def read_outlier_quarantine(spark, base_path: str,
                            stream: str = "embeddings") -> DataFrame:
    """Read one stream's outlier-gate quarantine table."""
    return _read_journal(
        spark, f"{base_path}/{_OUTLIERS}/{stream}", OUTLIER_GATE_SCHEMA
    )


#: the seen-term store: one row per term, keyed by the batch that
#: first contributed it
_VOCAB_SCHEMA = "term string, batch_id long"


def vocab_growth_step(
    base_path: str,
    text_col: str = "text",
) -> Callable:
    """Gate-chain step for a VOCABULARY-GROWTH monitor — Heaps' law at
    the ingest boundary: per micro-batch, the batch's distinct terms are
    anti-joined against the seen-term store and only the UNSEEN ones are
    appended, keyed by the batch that first contributed them.  A
    flattening new-term curve is the signal that more of this source
    adds no lexical diversity — the streaming complement of
    q_text_zipf's spectrum check.

    REPLAY SEMANTICS BY CONSTRUCTION (no separate audit table to
    de-duplicate): the store row ``(term, batch_id)`` is the only
    state, and a replayed batch's terms are already in the store from
    the first attempt, so its anti-join contributes nothing — the
    growth curve (:func:`read_vocab_growth`) is DERIVED from the
    store and is identical under at-least-once delivery; attribution
    stays with the first-writing batch.

    Cost: one map-side tokenize+distinct over the batch and one term
    equi-(anti-)join against the store — batch-bounded × vocabulary,
    never corpus; the store is vocabulary-sized (Heaps-sublinear in
    the corpus), the same scale class as the tf postings staging
    table.  Appending to the store the anti-join reads is safe
    because the parquet read's file index is SNAPSHOTTED when the
    relation is built — files the append adds are not in that index,
    so the write cannot observe its own output."""
    from level2_to_cassandra_spark.operators import text as text_ops

    store = f"{base_path}/{_VOCAB}"

    def step(batch, bid, persist):
        seen = _read_journal(batch.sparkSession, store, _VOCAB_SCHEMA)
        new = (
            batch.select(F.explode(text_ops.tokens(text_col)).alias("term"))
            .distinct()
            .join(seen.select("term"), "term", "left_anti")
            .select("term", _bid(bid))
        )
        return batch, [_append(new, store, one_file=False)]

    return step


def read_vocab_growth(spark, base_path: str) -> DataFrame:
    """Reduce the seen-term store to the growth curve: one row per
    contributing batch ``(batch_id, n_new, vocab_size)`` with
    vocab_size the running total — #batches rows, reduced from the
    vocabulary-sized store with one aggregate + one tiny window."""
    per = (
        _read_journal(spark, f"{base_path}/{_VOCAB}", _VOCAB_SCHEMA)
        .groupBy("batch_id")
        .agg(F.count(F.lit(1)).alias("n_new"))
    )
    w = Window.orderBy("batch_id").rowsBetween(Window.unboundedPreceding, 0)
    return per.select(
        "batch_id", "n_new", F.sum("n_new").over(w).alias("vocab_size")
    )


#: the shingle-df journal's raw deltas and doc counts, and their
#: compacted generations (partitioned by ``through_batch``)
_DFS_SCHEMA = "g3 string, df_delta long, batch_id long"
_DOCS_SCHEMA = "n_docs long, batch_id long"
_COMPACT_DFS_SCHEMA = "g3 string, df long, through_batch long"
_COMPACT_DOCS_SCHEMA = "n_docs long, through_batch long"


def shingle_df_path(base: str) -> str:
    """The shingle document-frequency journal — beside the sink,
    underscore-prefixed; ``dfs/`` holds per-batch df deltas, ``docs/``
    the per-batch document counts the corpus-relative cut needs."""
    return f"{base}/_shingle_df"


def shingle_df_step(
    base_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> Callable:
    """Gate-chain step for SHINGLE-DF JOURNAL maintenance — the
    streaming twin of q_text_boilerplate's expensive global state (the
    3-gram document-frequency relation): each micro-batch appends its
    per-shingle df DELTA and its doc count, and
    :func:`read_hot_shingles` reduces the journal to the CURRENT
    corpus-hot set under the exact batch cut
    (operators/text.py::hot_shingles — one shared implementation, so
    batch and stream agree on hotness by construction).  Scoring any
    batch is then one broadcast join of that bounded set onto its
    occurrence stream — what the batch query does corpus-wide, priced
    per-batch.

    Each document must arrive in exactly one batch (the
    incremental-admit sinks upstream are what enforce that); a doc
    re-admitted under a different batch_id would double its shingles'
    dfs, same as re-inserting it into the batch corpus.

    Cost per batch: one map-side shingle explode + one df aggregate
    over the BATCH (batch-bounded, never corpus) and two appends; the
    journal grows by the batch's distinct-shingle count and reduces
    vocabulary-sized, the tf-postings scale class."""
    from level2_to_cassandra_spark.operators import text as text_ops

    root = shingle_df_path(base_path)

    def step(batch, bid, persist):
        dfs = (
            text_ops.shingle_occurrences(
                batch, id_col=id_col, text_col=text_col
            )
            .distinct()
            .groupBy("g3")
            .agg(F.count(F.lit(1)).alias("df_delta"))
            .select("g3", "df_delta", _bid(bid))
        )
        docs = batch.select(F.count(F.lit(1)).alias("n_docs")).select(
            "n_docs", _bid(bid)
        )
        return batch, [
            _append(dfs, f"{root}/dfs", one_file=False),
            _append(docs, f"{root}/docs", one_file=False),
        ]

    return step


def _shingle_df_watermark(spark, base_path: str) -> int:
    """The journal's compaction watermark: the highest ``through_batch``
    among committed compact-dfs segments, or -1 when never compacted.
    Segments are PARTITIONED by through_batch, so this reads only the
    partition listing, not segment data — and the dfs directory (not
    docs) is deliberately the single source of truth: it is written
    LAST in :func:`compact_shingle_df`, so the watermark advances only
    once a generation is complete."""
    seg = _read_journal(spark, f"{shingle_df_path(base_path)}/compact_dfs",
                        _COMPACT_DFS_SCHEMA)
    row = seg.agg(F.max("through_batch").alias("w")).first()
    return int(row["w"]) if row["w"] is not None else -1


def _shingle_df_state(spark, base_path: str):
    """``(dfreq, n_docs)`` — the journal reduced to its current state
    under the compaction watermark: the LATEST compact generation is
    the base (partition-pruned read; rows dedup'd within the
    generation, so a re-appended identical segment from a crashed-and-
    retried fold collapses), raw deltas STRICTLY ABOVE the watermark
    fold on top (dedup on (batch_id, g3) first — the replay
    discipline), and raw rows at or below the watermark are IGNORED
    because the generation already contains them.  That filter is what
    keeps BOTH failure modes safe: a replayed batch whose id was
    already folded re-appends rows the reader never counts, and a
    compaction that crashed after writing its generation but before
    reclaiming the raw files leaves a journal that still reads exactly
    once."""
    root = shingle_df_path(base_path)
    w = _shingle_df_watermark(spark, base_path)
    base = (
        _read_journal(spark, f"{root}/compact_dfs", _COMPACT_DFS_SCHEMA)
        .where(F.col("through_batch") == w)
        .dropDuplicates(["g3"])
        .select("g3", "df")
    )
    deltas = (
        _read_journal(spark, f"{root}/dfs", _DFS_SCHEMA)
        .where(F.col("batch_id") > w)
        .dropDuplicates(["batch_id", "g3"])
        .groupBy("g3")
        .agg(F.sum("df_delta").alias("df"))
    )
    dfreq = (
        base.unionByName(deltas)
        .groupBy("g3")
        .agg(F.sum("df").alias("df"))
    )
    docs_base = (
        _read_journal(spark, f"{root}/compact_docs", _COMPACT_DOCS_SCHEMA)
        .where(F.col("through_batch") == w)
        .dropDuplicates()
        .select("n_docs")
    )
    docs_delta = (
        _read_journal(spark, f"{root}/docs", _DOCS_SCHEMA)
        .where(F.col("batch_id") > w)
        .dropDuplicates(["batch_id"])
        .select("n_docs")
    )
    n_docs = docs_base.unionByName(docs_delta).agg(
        F.sum("n_docs").alias("n_docs")
    )
    return dfreq, n_docs


def read_hot_shingles(spark, base_path: str) -> DataFrame:
    """Reduce the shingle-df journal to the CURRENT corpus-hot set
    ``(g3)`` — identical to q_text_boilerplate's hot relation over the
    union of all delivered batches (parity-pinned).  Replayed batches
    collapse via dropDuplicates before the sums; the reduction runs
    over the latest compact segment plus the post-watermark deltas
    (vocabulary-sized), never the corpus and — after a
    :func:`compact_shingle_df` — never the full delta history."""
    from level2_to_cassandra_spark.operators import text as text_ops

    dfreq, n_docs = _shingle_df_state(spark, base_path)
    return text_ops.hot_shingles(dfreq, n_docs)


def compact_shingle_df(spark, base_path: str) -> int | None:
    """Fold the shingle-df journal into ONE reduced delta (VERDICT r13
    #5): without compaction the journal appends one vocabulary-sized
    delta per batch and every hot-set refresh re-reduces the WHOLE
    history — N batches → N× vocabulary rows read.  This rewrites the
    state as a single compact segment keyed by a ``through_batch``
    watermark (the highest raw batch_id folded) and reclaims the raw
    delta files, so the next read reduces one segment plus only the
    deltas that arrived after the fold.

    Correctness order (each step safe to crash after or DURING; two
    self-review passes hardened all of it):

    1. the fold watermark is the max raw batch_id across BOTH
       journals — the docs journal gets a row from every batch, the
       dfs journal only from batches that produced shingles, so a
       dfs-only maximum would fold a trailing shingle-free batch's doc
       count and then double-count it on replay;
    2. each generation directory is STAGED in a temp dir and committed
       with ONE atomic rename to ``<journal>/through_batch=<N>`` — a
       crash mid-write leaves no partial generation for the watermark
       to advance onto (Spark's job commit alone can expose partial
       part-file sets); the partition value comes from the directory
       name, so the files themselves stay narrow;
    3. the DOCS generation commits first, the DFS generation — the
       watermark carrier — LAST, so a crash between the two leaves the
       watermark unmoved and the orphaned docs generation invisible (a
       retry finds its rename target already present and reuses it —
       the content is deterministic);
    4. superseded generation directories are pruned AFTER the new one
       commits (only redundant data touched; one-generation reads are
       also what keeps read cost flat regardless of fold count);
    5. raw reclamation runs LAST — until it completes, the reader's
       watermark filter already ignores every folded row, so a crash
       anywhere double-counts nothing; a fold that crashed between
       commit and reclamation is finished by the NEXT maintenance run,
       whose no-op path still prunes and reclaims everything at or
       below the committed watermark.

    Concurrent FOLDS are excluded by a kernel flock on the journal
    (the sink-compaction lock discipline — raises
    :class:`~level2_to_cassandra_spark.streaming.sink.CompactionLockHeld`
    on contention, never blocks).  QUIESCENCE OF THE STREAM is still
    load-bearing for the raw-reclamation step: a batch that commits
    between the watermark read and the directory removal would be
    deleted WITH rows above the watermark — run this between triggers
    or with the stream stopped (the standard VACUUM contract).  Path
    handling uses local-filesystem rename/removal — the contract of
    this repo's parquet journals; a Hadoop-compatible object store
    would swap in the FileSystem rename/delete API, the semantics
    above are path-scheme-agnostic.

    Returns the new watermark, or None when no raw delta is newer than
    the current one (no-op — which STILL prunes/reclaims leftovers of
    a fold that crashed after its commit; also the degenerate
    never-any-shingles journal, where there is no vocabulary growth to
    bound).  A sink with no journal directory returns None before
    taking the lock, so it is left untouched."""
    import shutil

    from level2_to_cassandra_spark.streaming.sink import (
        _acquire_compact_lock,
    )

    root = shingle_df_path(base_path)
    if not os.path.isdir(root):
        return None  # no journal: nothing to fold, and no lock to leave
    lock_fd = _acquire_compact_lock(f"{root}/_compact.lock")
    try:
        def _prune_and_reclaim(keep: int) -> None:
            # 4 + 5: superseded generations, then the raw journals —
            # everything at or below the committed watermark is
            # redundant with the kept generation
            for sub in ("compact_dfs", "compact_docs"):
                seg_root = f"{root}/{sub}"
                if not os.path.isdir(seg_root):
                    continue
                for entry in os.listdir(seg_root):
                    if (entry.startswith("through_batch=")
                            and entry != f"through_batch={keep}"):
                        shutil.rmtree(os.path.join(seg_root, entry),
                                      ignore_errors=True)
            # Programmatic backstop for the quiescence contract (ADVICE
            # r14): a batch that committed between the watermark read
            # and this point has rows ABOVE `keep` — removing the raw
            # directories would delete them with nothing folded.
            # Re-probe the raw high-water mark and, if it moved past
            # the committed watermark, SKIP raw reclamation entirely:
            # the reader already ignores every row <= keep, so leaving
            # the journals costs only the space the NEXT fold reclaims.
            # (The re-check itself can still race a commit in flight —
            # quiescence remains the documented VACUUM contract; this
            # narrows the window from the whole fold to one probe.)
            live = -1
            for sub, schema in (("dfs", _DFS_SCHEMA), ("docs", _DOCS_SCHEMA)):
                b = _read_journal(spark, f"{root}/{sub}", schema).agg(
                    F.max("batch_id").alias("b")
                ).first()["b"]
                if b is not None:
                    live = max(live, int(b))
            if live <= keep:
                for sub in ("dfs", "docs"):
                    shutil.rmtree(f"{root}/{sub}", ignore_errors=True)
            # stale staging dirs from crashed folds are inert (never
            # read — generations are only the renamed targets) but
            # worth sweeping while we hold the lock
            for entry in os.listdir(root):
                if entry.startswith("_stage_"):
                    shutil.rmtree(os.path.join(root, entry),
                                  ignore_errors=True)

        w_old = _shingle_df_watermark(spark, base_path)
        raw_dfs = _read_journal(spark, f"{root}/dfs", _DFS_SCHEMA).where(
            F.col("batch_id") > w_old)
        raw_docs = _read_journal(spark, f"{root}/docs", _DOCS_SCHEMA).where(
            F.col("batch_id") > w_old)
        b_dfs = raw_dfs.agg(F.max("batch_id").alias("b")).first()["b"]
        b_docs = raw_docs.agg(F.max("batch_id").alias("b")).first()["b"]
        candidates = [b for b in (b_dfs, b_docs) if b is not None]
        if not candidates:
            if w_old >= 0:
                # finish a fold that crashed after committing its
                # generation but before reclaiming (finding r14-2:
                # otherwise the leftovers persist forever and the read
                # bound silently degrades back to the full history)
                _prune_and_reclaim(w_old)
            return None
        through = int(max(candidates))
        if b_dfs is None and w_old == -1:
            # no shingle state anywhere (every batch shingle-free):
            # there is no vocabulary journal to bound, and a watermark
            # carried by the dfs directory would have no generation to
            # commit — fold nothing rather than orphan the docs side.
            # (Equivalent to "the folded dfreq relation is empty", but
            # derivable without re-executing the whole reduction.)
            return None
        dfreq, n_docs = _shingle_df_state(spark, base_path)
        # 2: stage + one atomic rename; the partition value is the
        # DIRECTORY NAME, so the staged files stay narrow and a
        # half-written stage can never be taken for a generation
        for df, sub in (
            (n_docs.where(F.col("n_docs").isNotNull()).select("n_docs"),
             "compact_docs"),
            (dfreq.select("g3", "df"), "compact_dfs"),
        ):
            _commit_dir(df, root, f"{root}/{sub}/through_batch={through}",
                        f"_stage_{sub}_")
        _prune_and_reclaim(through)
        return through
    finally:
        os.close(lock_fd)


def _commit_dir(df: DataFrame, root: str, target: str, prefix: str) -> None:
    """Write ``df`` into a temp directory under ``root`` named with
    ``prefix``, then rename it to ``target`` in one step.  A ``target``
    that already exists was committed by a crashed attempt of the same
    deterministic fold and is kept as it is."""
    if os.path.isdir(target):
        return
    os.makedirs(os.path.dirname(target), exist_ok=True)
    stage = tempfile.mkdtemp(dir=root, prefix=prefix)
    df.write.mode("overwrite").parquet(stage)
    os.rename(stage, target)


#: per-doc novelty audit schema (flat + scalar; the novelty double is
#: rounded 6 exactly like the batch spec's output)
NOVELTY_SCHEMA = (
    "batch_id long, doc_id long, n_shingles long, n_novel long, "
    "novelty double"
)


def novelty_step(
    base_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> Callable:
    """Gate-chain step for FIRST-OCCURRENCE N-GRAM NOVELTY scoring — the
    streaming twin of q_text_novelty: every document is scored AT INGEST
    for the fraction of its distinct 3-gram shingles never seen in any
    earlier batch (crawl-value / marginal-new-content, priced per batch
    instead of per corpus rebuild).  One ``(batch_id, doc_id,
    n_shingles, n_novel, novelty)`` audit row per shingled doc lands in
    ``_novelty/scores`` beside the sink; ``_novelty/seen`` is the
    first-occurrence shingle store.

    REPLAY DETERMINISM is the design constraint the naive form fails:
    a replayed batch would find its own shingles already in the seen
    store and re-score everything 0 — so the store probe sees only
    strictly earlier batches (:func:`_first_seen`), and within-batch
    first occurrence is credited to the minimum doc_id, exactly the
    batch spec's rule.  Duplicates from replay collapse under the
    reader's earliest-batch reduction.  When batches partition the
    corpus in doc_id order, the audit rows equal q_text_novelty's
    output row-for-row (parity-pinned).

    Cost per batch: one batch-bounded shingle explode + distinct, one
    anti-join against the seen store bucketed by shingle (probe ∝
    batch shingles × store occupancy — the incremental-dedup shape,
    never corpus²), two appends."""
    from level2_to_cassandra_spark.operators import text as text_ops

    root = f"{base_path}/{_NOVELTY}"

    def step(batch, bid, persist):
        # persisted: feeds three plan branches across two write
        # actions (flagged, totals, seen append) — without it the
        # shingle explode recomputes per branch (ADVICE r14)
        occ = persist(
            text_ops.shingle_occurrences(
                batch, id_col=id_col, text_col=text_col
            ).distinct()
        )
        leaders, seal = _first_seen(f"{root}/seen", occ, "g3",
                                    F.col("doc_id"), bid)
        flagged = (
            leaders.select("doc_id")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_novel"))
        )
        totals = occ.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("n_shingles")
        )
        n_novel = F.coalesce(F.col("n_novel"), F.lit(0))
        scores = totals.join(flagged, "doc_id", "left").select(
            _bid(bid),
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("n_shingles").cast("long").alias("n_shingles"),
            n_novel.cast("long").alias("n_novel"),
            F.round(n_novel.cast("double") / F.col("n_shingles"), 6)
            .alias("novelty"),
        )
        return batch, [_append(scores, f"{root}/scores"), seal(occ)]

    return step


def read_novelty(spark, base_path: str) -> DataFrame:
    """Read the per-doc novelty audit table; replayed batches collapse
    on (batch_id, doc_id)."""
    return _read_journal(
        spark, f"{base_path}/{_NOVELTY}/scores", NOVELTY_SCHEMA, _DOC_KEY
    )


#: per-doc line-dedup audit schema — n_lines/n_kept plus the
#: reassembled kept_text, exactly q_dedup_lines' per-doc columns with
#: the batch_id attribution prepended
LINE_DEDUP_SCHEMA = (
    "batch_id long, doc_id long, n_lines long, n_kept long, "
    "kept_text string"
)


def line_dedup_path(base: str) -> str:
    """Beside the sink, underscore-prefixed — the monitor-table
    discipline.  ``/docs`` holds the per-doc audit rows, ``/seen``
    the append-only first-occurrence line store, ``/overspan`` the
    over-span doc rejects (r16)."""
    return f"{base}/_line_dedup"


def line_dedup_step(
    base_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> Callable:
    """Gate-chain step for LINE-LEVEL DEDUP at ingest — the streaming
    twin of q_dedup_lines: every document is line-deduped AT ADMIT
    against all lines seen in earlier batches (and earlier docs of its
    own batch), emitting one ``(batch_id, doc_id, n_lines, n_kept,
    kept_text)`` audit row per doc.  This is the C4 line-dedup step
    priced per micro-batch instead of per corpus rebuild: the kept_text
    column IS the line-deduped document a downstream curation sink would
    ingest.

    First occurrence (:func:`_first_seen`) is the minimum packed
    (doc_id, line_no) key among lines no earlier batch stored — the
    batch query's rule — so when batches partition the corpus in
    doc_id order the audit rows equal q_dedup_lines' output
    row-for-row (parity-pinned by test).  The store gains one row per
    NEWLY-SEEN line only (review r15 — appending every batch's full
    line set would grow the store with batch count even at zero new
    lines, and recurring lines are exactly what a boilerplate-heavy
    stream delivers).

    Cost per batch: one batch-bounded line explode (persisted across
    its three consumers), one exact anti-join against the seen store
    keyed by line_text, one window over batch lines, three appends.

    OVER-SPAN DOCUMENTS (review r16, 2nd pass): a doc with
    >= LINE_KEY_SPAN lines cannot take a sound packed first-occurrence
    key — the batch query RAISES (packed_line_key's guard), but a
    raising expression inside foreachBatch would wedge the stream on
    permanent replay of the same poison batch.  The gate instead
    REJECTS such docs wholesale at admit: their lines never enter the
    dedup (no audit row, no store rows) and the doc_id is journaled to
    ``/overspan`` for requeue/inspection; the step still admits the
    full batch (it is an audit monitor, not a
    filter).  The guarded key expression stays in the plan as defense
    in depth — it cannot fire on the filtered lines."""
    from level2_to_cassandra_spark.operators import text as text_ops

    root = line_dedup_path(base_path)

    def step(batch, bid, persist):
        # persisted: feeds the totals agg, the kept computation and
        # the seen append (three branches, two write actions)
        lines = persist(text_ops.line_segments(
            batch, id_col=id_col, text_col=text_col
        ))
        # guarded shared expression (ADVICE r15): raises on
        # line_no >= LINE_KEY_SPAN instead of mis-attributing
        key = text_ops.packed_line_key()
        # over-span docs (see docstring): journal + exclude their
        # lines wholesale so the key guard cannot poison the stream;
        # `over` is ~always empty and rides a broadcast
        over = (
            lines.where(F.col("line_no") >= text_ops.LINE_KEY_SPAN)
            .select("doc_id")
            .distinct()
        )
        lines_ok = lines.join(F.broadcast(over), "doc_id", "left_anti")
        leaders, seal = _first_seen(f"{root}/seen", lines_ok, "line_text",
                                    key, bid)
        # persisted: feeds the kept aggregation AND the seen-store
        # append
        fresh = persist(leaders.select("doc_id", "line_no", "line_text"))
        kept_agg = fresh.groupBy("doc_id").agg(
            F.count(F.lit(1)).cast("long").alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("line_no", "line_text"))
                    ),
                    lambda s: s["line_text"],
                ),
                " ",
            ).alias("kept_text"),
        )
        totals = lines_ok.groupBy("doc_id").agg(
            F.count(F.lit(1)).cast("long").alias("n_lines")
        )
        audit = totals.join(kept_agg, "doc_id", "left").select(
            _bid(bid),
            F.col("doc_id").cast("long").alias("doc_id"),
            "n_lines",
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce(F.col("kept_text"), F.lit("")).alias("kept_text"),
        )
        overspan = over.select(
            _bid(bid), F.col("doc_id").cast("long").alias("doc_id")
        )
        return batch, [
            _append(overspan, f"{root}/overspan"),
            _append(audit, f"{root}/docs"),
            seal(fresh),
        ]

    return step


#: over-span reject journal: docs whose line count exceeds the packed
#: first-occurrence key span (rejected wholesale at admit — docstring)
LINE_OVERSPAN_SCHEMA = "batch_id long, doc_id long"


def read_line_overspan(spark, base_path: str) -> DataFrame:
    """Read the over-span doc reject journal (review r16, 2nd pass —
    the streaming stand-in for packed_line_key's batch-side raise);
    replayed batches collapse on (batch_id, doc_id)."""
    return _read_journal(
        spark, f"{line_dedup_path(base_path)}/overspan",
        LINE_OVERSPAN_SCHEMA, _DOC_KEY,
    )


def read_line_dedup(spark, base_path: str) -> DataFrame:
    """Read the per-doc line-dedup audit table; replayed batches
    collapse on (batch_id, doc_id)."""
    return _read_journal(
        spark, f"{line_dedup_path(base_path)}/docs", LINE_DEDUP_SCHEMA,
        _DOC_KEY,
    )


#: reject-journal schema: the q_quality_gopher metric columns plus the
#: batch attribution (replay dedup key component)
QUALITY_GATE_SCHEMA = (
    "batch_id long, doc_id long, n_words long, mean_word_len double, "
    "alpha_frac double, symbol_ratio double"
)


def quality_gate_step(base_path: str) -> Callable:
    """Gate-chain step for the GOPHER QUALITY GATE — the streaming twin
    of q_quality_gopher: each micro-batch of documents is scored with
    the SAME shared transform the batch query serves from
    (queries/llm.py::gopher_stats — rule set and rounding shared
    verbatim, so gate and query agree bit-for-bit by construction and by
    parity test), then split two ways:

    * docs whose composite pass_gopher bit is 1 are admitted
      UNCHANGED (original columns);
    * rejects are journaled to ``_quality_gate/rejects`` with their raw
      metrics — auditable by reason (which rule failed is re-derivable
      from the stored metrics without re-reading the text), the
      q_curate_corpus stance applied at ingest.

    A NULL-text doc scores NULL metrics and pass_gopher = 0
    (gopher_stats' contract), so the two legs PARTITION the batch:
    nothing drops, nothing lands twice.  The gate is STATELESS (pure
    per-row expressions — no store, no history).  Cost per batch:
    map-side expression work fused into each leg's scan of the
    persisted batch — zero shuffles, zero Python, zero state
    (plan-pinned in tests/test_plans.py).

    SCHEMA CONTRACT: batch columns other than doc_id pass through to
    the sink unchanged, so they may not collide with the computed
    metric names (n_words / mean_word_len / alpha_frac / symbol_ratio
    / pass_gopher) — gopher_stats raises a named ValueError on the
    first batch instead of letting Spark die later with an ambiguous-
    reference error (review r15); rename such payload columns
    upstream."""
    from level2_to_cassandra_spark.queries.llm import gopher_stats

    def step(batch, bid, persist):
        cols = list(batch.columns)
        stats = gopher_stats(
            batch, keep=tuple(c for c in cols if c != "doc_id")
        )
        return _split(
            stats, F.col("pass_gopher") == 1, F.col("pass_gopher") == 0,
            cols, bid,
            ("n_words", "mean_word_len", "alpha_frac", "symbol_ratio"),
            f"{base_path}/{_QUALITY}/rejects",
        )

    return step


def read_quality_rejects(spark, base_path: str) -> DataFrame:
    """Read the quality-gate reject audit table; replayed batches
    collapse on (batch_id, doc_id)."""
    return _read_journal(
        spark, f"{base_path}/{_QUALITY}/rejects", QUALITY_GATE_SCHEMA,
        _DOC_KEY,
    )


#: reject-journal schema: the three per-gate bits + the vote count
#: (which gate(s) failed re-derives from the stored row) plus the
#: batch attribution (replay dedup key component)
VOTE_GATE_SCHEMA = (
    "batch_id long, doc_id long, pass_gopher long, "
    "pass_classifier long, pass_repetition long, votes long"
)


def quality_vote_step(
    base_path: str,
    min_votes: int = 2,
) -> Callable:
    """Gate-chain step for the QUALITY-VOTE ENSEMBLE GATE — the
    streaming twin of q_quality_vote and the robust form of the
    single-signal gates: each micro-batch of documents is scored by all
    THREE quality families via the SAME shared chained transform the
    batch query serves from (queries/traindata.py::quality_votes —
    gopher rules, classifier raw-score sign, duplicated-trigram
    fraction, chained scan→project), then split at ``min_votes``
    (default 2 of 3 — the batch query's majority rule, so gate and query
    agree bit-for-bit by construction and by parity test):

    * docs with votes ≥ min_votes are admitted UNCHANGED
      (original columns);
    * rejects are journaled to ``_vote_gate/rejects`` with their three
      per-gate bits and vote count — WHICH gate(s) failed re-derives
      from the stored row, and the journal re-thresholds at any
      min_votes without re-scoring.

    A NULL-text doc fails all three gates (votes 0 — the shared
    transform's contract), so the two legs PARTITION the batch.  The
    gate is STATELESS.  Cost per batch: three chained map-side
    transforms fused into each leg's scan of the persisted batch —
    zero shuffles, zero Python, zero state (the q_quality_vote plan
    shape, priced per micro-batch).

    SCHEMA CONTRACT: batch columns other than doc_id/text pass
    through unchanged and may not collide with the vote columns or
    the member transforms' computed names — the shared transforms
    raise named ValueErrors at build time (rename upstream)."""
    from level2_to_cassandra_spark.queries.traindata import quality_votes

    def step(batch, bid, persist):
        cols = list(batch.columns)
        flags = quality_votes(
            batch, keep=tuple(c for c in cols if c != "doc_id")
        )
        return _split(
            flags, F.col("votes") >= int(min_votes),
            F.col("votes") < int(min_votes), cols, bid,
            ("pass_gopher", "pass_classifier", "pass_repetition", "votes"),
            f"{base_path}/{_VOTE}/rejects",
        )

    return step


def read_vote_rejects(spark, base_path: str) -> DataFrame:
    """Read the vote-gate reject audit table; replayed batches
    collapse on (batch_id, doc_id)."""
    return _read_journal(
        spark, f"{base_path}/{_VOTE}/rejects", VOTE_GATE_SCHEMA, _DOC_KEY
    )


#: mixture-journal schema: one cell per (batch, source) — the
#: batch_id keys replay dedup in the reader
MIXTURE_SCHEMA = "batch_id long, source string, n_docs long"


def mixture_step(base_path: str) -> Callable:
    """Gate-chain step for the REALIZED-MIXTURE monitor — the
    observability end of the mixture-planning chain (q_mixture_plan →
    q_mix_temperature → q_mix_interleave planned it; this watches
    whether the stream that actually lands FOLLOWS it): each micro-batch
    is admitted UNCHANGED, and one (source → count) cell row per source
    is journaled to ``_mixture/cells`` keyed by batch_id.  The journal
    is the whole state: read_mixture folds it into cumulative per-source
    counts and serves both the realized share and the √n-damped target
    recomputed through the SAME shared transform the batch query serves
    from (queries/traindata.py::mix_weights) — so a drifting source mix
    (a crawler stalled, one feed flooding) is visible per batch without
    ever rescanning the sink.

    Cost per batch: ONE map-side-combined #sources-row aggregate of
    the already-persisted batch; zero Python, zero state, zero extra
    scans of history."""

    def step(batch, bid, persist):
        cells = batch.groupBy("source").agg(
            F.count(F.lit(1)).cast("long").alias("n_docs")
        ).select(_bid(bid), "source", "n_docs")
        return batch, [_append(cells, f"{base_path}/{_MIXTURE}/cells")]

    return step


def read_mixture(spark, base_path: str) -> DataFrame:
    """Serve the cumulative realized-vs-target mixture from the cell
    journal alone: per source the landed doc count, the realized
    share (exact integer counts, ONE rounded division), and the
    √n-damped target weight + 100k-epoch allocation through the
    SHARED mix_weights transform — bit-for-bit the batch query's
    columns when the journal covers the same corpus (parity-pinned).
    Replayed batches collapse on (batch_id, source) before the
    fold."""
    from level2_to_cassandra_spark.functions import round_signless
    from level2_to_cassandra_spark.queries.traindata import mix_weights

    counts = (
        _read_journal(
            spark, f"{base_path}/{_MIXTURE}/cells", MIXTURE_SCHEMA,
            ("batch_id", "source"),
        )
        .groupBy("source")
        .agg(F.sum("n_docs").cast("long").alias("n_docs"))
    )
    realized = F.col("n_docs").cast("double") / F.sum("n_docs").over(
        Window.partitionBy()
    ).cast("double")
    return mix_weights(counts).join(
        counts.select(
            "source",
            round_signless(realized, 6).alias("realized_share"),
        ),
        "source",
    ).select(
        "source", "n_docs", "realized_share", "weight", "epoch_docs"
    )


#: reject-journal schema: the swept-threshold decision inputs (raw
#: unrounded score/p and the score bin the sweep thresholds on) plus
#: the batch attribution (replay dedup key component)
CLASSIFIER_GATE_SCHEMA = (
    "batch_id long, doc_id long, bin long, score double, p double"
)


def classifier_gate_step(
    base_path: str,
    threshold_bin: int = 5,
) -> Callable:
    """Gate-chain step for the CLASSIFIER-SCORE ADMIT GATE — the missing
    member of the calibrate → threshold → gate chain (VERDICT r15 gap
    #4) and the model-based filter every production curation stack runs
    at ingest: each micro-batch of documents is scored with the SAME
    shared scoring/binning transform the batch calibration/threshold
    queries serve from (queries/traindata.py::_calib_lab — weights,
    token hashing, raw unrounded score and bin cut shared verbatim, so
    gate and sweep agree bit-for-bit by construction and by parity
    test), then split at a SWEPT threshold:

    * ``threshold_bin`` is a score-bin index on q_classifier_threshold's
      sweep spine (predict positive at t ⇔ bin ≥ t — the exact rule the
      sweep prices, so the operator reads the sweep's P/R/F1 row for t
      and deploys that t here, knowing the gate reproduces the row);
      the default 5 is the score ≥ 0 ⇔ p ≥ 0.5 cut;
    * docs with bin ≥ threshold_bin are admitted UNCHANGED
      (original columns);
    * rejects are journaled to ``_classifier_gate/rejects`` with their
      raw score, p and bin — the decision inputs, auditable and
      re-sweepable without re-scoring.

    A NULL-text doc scores a NULL bin and the admit condition is NULL
    → ``otherwise(0)`` rejects it (journaled with NULL score), so the
    two legs PARTITION the batch: nothing drops, nothing lands twice.
    The gate is STATELESS.  Cost per batch: map-side expression work
    fused into each leg's scan of the persisted batch — zero shuffles,
    zero Python, zero state.  At 100 TB this is the ideal admit shape:
    the 64-weight model rides the plan as a literal (any broadcastable
    model works the same), and throughput scales with scan parallelism.

    SCHEMA CONTRACT: batch columns other than doc_id pass through to
    the sink unchanged, so they may not collide with _calib_lab's
    computed columns (bin / score / p / label) — the shared transform
    raises a named ValueError on the first batch instead of letting
    Spark die later with an ambiguous-reference error; rename such
    payload columns upstream."""
    from level2_to_cassandra_spark.queries.traindata import _calib_lab

    def step(batch, bid, persist):
        cols = list(batch.columns)
        # the gate's own split column is reserved too (review r16, 2nd
        # pass: _calib_lab's guard covers only ITS computed names — a
        # payload '__admit' would be silently overwritten and delivered
        # corrupted)
        clash = {c for c in cols if c.lower() == "__admit"}
        if clash:
            raise ValueError(
                "classifier gate reserved column collides with "
                f"batch payload columns: {sorted(clash)} — rename "
                "them upstream"
            )
        admit = F.when(
            F.col("bin") >= F.lit(int(threshold_bin)), 1
        ).otherwise(0)
        scored = _calib_lab(batch, keep=tuple(cols)).withColumn(
            "__admit", admit
        )
        return _split(
            scored, F.col("__admit") == 1, F.col("__admit") == 0, cols,
            bid, ("bin", "score", "p"),
            f"{base_path}/{_CLASSIFIER}/rejects",
        )

    return step


def read_classifier_rejects(spark, base_path: str) -> DataFrame:
    """Read the classifier-gate reject audit table; replayed batches
    collapse on (batch_id, doc_id)."""
    return _read_journal(
        spark, f"{base_path}/{_CLASSIFIER}/rejects",
        CLASSIFIER_GATE_SCHEMA, _DOC_KEY,
    )


#: reject-journal schema: the duplicate doc, its canonical URL, and
#: the batch attribution (replay dedup key component)
URL_DEDUP_SCHEMA = "batch_id long, doc_id long, canonical_url string"


def url_dedup_path(base: str) -> str:
    """Beside the sink, underscore-prefixed — the monitor-table
    discipline.  ``/rejects`` holds the per-doc duplicate audit rows,
    and ``/seen`` the append-only first-occurrence canonical-URL
    store."""
    return f"{base}/_url_dedup"


def url_dedup_step(base_path: str) -> Callable:
    """Gate-chain step for URL-FRONTIER DEDUP at admit — the streaming
    twin of q_dedup_url and the shape of a crawl frontier: every
    document's canonical URL (queries/llm.py::canonical_urls —
    construction and normalizer shared VERBATIM with the batch query) is
    checked against all canonicals seen in earlier batches and earlier
    docs of its own batch; only the first occurrence per canonical is
    admitted (original columns), duplicates are journaled with their
    canonical for audit.

    First occurrence (:func:`_first_seen`) is the minimum doc_id among
    docs whose canonical no earlier batch stored — the batch query's
    rule — so when batches partition the corpus in doc_id order the
    admitted set equals q_dedup_url's is_canonical=1 set exactly
    (parity-pinned by test).

    Cost per batch: map-side canonicalization fused into the batch
    scan, one exact anti-join against the seen store keyed by
    canonical URL, one window over batch canonicals, two appends.
    The store gains one row per NEWLY-SEEN canonical only (the
    admitted leaders' keys — review r15: appending every batch's full
    canonical set would grow the store with batch count even at zero
    new URLs, and recurring keys are the dominant case for a crawl
    frontier); a NULL canonical (NULL payload fields propagate
    through F.concat) joins and stores under an empty-string sentinel
    key, because a NULL anti-join key never matches and would be
    re-admitted every batch — the sentinel cannot collide with a real
    canonical, which always carries host+path (review r15).

    CHOSEN SEMANTIC for NULL canonicals (ADVICE r15, stated
    explicitly): ALL unparseable-URL docs collapse onto the one
    sentinel key stream-wide — the first ever admitted, every later
    one rejected (journaled with canonical_url NULL, so they stay
    auditable and recoverable).  This is deliberately the batch
    query's NULL-grouping semantic (q_dedup_url groups NULL canonicals
    together too), which the row-for-row parity pin requires.  A real
    crawl frontier that must KEEP distinct unparseable documents
    should key the sentinel by doc identity instead (e.g. coalesce to
    ``concat('\\0', sha2(url, 256))`` — admits every one, still never
    NULL, still collision-free with real canonicals); that variant
    intentionally diverges from the batch query and is not what this
    parity-pinned twin implements."""
    from level2_to_cassandra_spark.queries.llm import canonical_urls

    root = url_dedup_path(base_path)

    def step(batch, bid, persist):
        # persisted: feeds the probe/leader derivation and the reject
        # anti-join (two derivations, three actions)
        canon = persist(canonical_urls(batch).select(
            "doc_id", "canonical_url",
            F.coalesce("canonical_url", F.lit("")).alias("__ck"),
        ))
        leaders, seal = _first_seen(f"{root}/seen", canon, "__ck",
                                    F.col("doc_id"), bid,
                                    store_key="canonical_url")
        # one row per NEWLY-SEEN canonical: its minimum-doc_id leader —
        # feeds the admit join, the reject anti-join and the store
        # append
        fresh = persist(leaders.select("doc_id", "__ck"))
        rejects = canon.join(
            fresh.select("doc_id"), "doc_id", "left_anti"
        ).select(
            _bid(bid), F.col("doc_id").cast("long").alias("doc_id"),
            "canonical_url",
        )
        return batch.join(fresh.select("doc_id"), "doc_id"), [
            _append(rejects, f"{root}/rejects"), seal(fresh)
        ]

    return step


def read_url_rejects(spark, base_path: str) -> DataFrame:
    """Read the URL-dedup duplicate audit table; replayed batches
    collapse on (batch_id, doc_id)."""
    return _read_journal(
        spark, f"{url_dedup_path(base_path)}/rejects", URL_DEDUP_SCHEMA,
        _DOC_KEY,
    )


#: stored minutely grid-partial schema — operators/rollup.py's partial
#: format plus the batch_id attribution (replay dedup key component)
GRID_PARTIALS_SCHEMA = (
    "minute timestamp, key string, bin long, pn long, "
    "vmin double, vmax double, batch_id long"
)


def grid_rollup_step(
    base_path: str,
    ts_col: str = "ts",
    key_col: str = "event_type",
    value_col: str = "value",
) -> Callable:
    """Gate-chain step for CONTINUOUS-AGGREGATE MAINTENANCE of the
    mergeable quantile layer — the streaming twin of q_rollup_quantile's
    stored level: every micro-batch appends its minutely fixed-grid
    histogram partials (operators/rollup.py — the SAME grid the batch
    query stores) to ``_grid_rollup/partials`` beside the sink, and
    :func:`grid_rollup_bounds` serves hour/day/any-grain quantile BOUNDS
    from the journal alone, never re-scanning raw rows.  This is the
    TimescaleDB continuous-aggregate pattern priced per micro-batch: at
    100 TB/day the raw stream is written once and every dashboard grain
    re-derives from the grid-sized partials.

    MERGEABILITY is what makes the journal correct under ANY batching:
    counts merge by sum and extremes by min/max, so partial rows from
    different batches covering the same (minute, key, bin) cell fold
    to exactly the one-shot batch aggregate — the parity test splits
    the fixture on a NON-time-aligned key and still matches
    q_rollup_quantile's bounds bit-for-bit.  Replays collapse on the
    full (batch_id, minute, key, bin) key.

    Cost per batch: ONE map-side-combined aggregate over the batch
    (the q_rollup_quantile level-1 exchange, batch-bounded) + one
    append."""
    from level2_to_cassandra_spark.operators import rollup as rollup_ops

    def step(batch, bid, persist):
        parts = rollup_ops.minute_grid_partials(
            batch, ts_col=ts_col, key_col=key_col, value_col=value_col,
        ).select(
            "minute",
            F.col("key").cast("string").alias("key"),
            "bin",
            "pn",
            # cast to the pinned journal schema like the key above
            # (self-review r15: an int/float/decimal value_col would
            # otherwise write a journal the fixed double reader schema
            # can never read back)
            F.col("vmin").cast("double").alias("vmin"),
            F.col("vmax").cast("double").alias("vmax"),
            _bid(bid),
        )
        return batch, [_append(parts, f"{base_path}/{_GRID}/partials")]

    return step


def read_grid_partials(spark, base_path: str) -> DataFrame:
    """The folded minutely grid-partial relation (minute, key, bin,
    pn, vmin, vmax): replayed batches collapse on the full journal key
    (their rows are deterministic re-derivations), then partial rows
    from DIFFERENT batches covering the same cell merge by sum/min/max
    — the mergeability that makes the journal grain-serving."""
    raw = _read_journal(
        spark, f"{base_path}/{_GRID}/partials", GRID_PARTIALS_SCHEMA,
        ("batch_id", "minute", "key", "bin"),
    )
    return raw.groupBy("minute", "key", "bin").agg(
        F.sum("pn").alias("pn"),
        F.min("vmin").alias("vmin"),
        F.max("vmax").alias("vmax"),
    )


def grid_rollup_bounds(spark, base_path: str, grain: str = "hour") -> DataFrame:
    """Serve (grain-bucket, key) quantile BOUNDS from the journal
    alone — operators/rollup.py::grid_quantile_bounds over the folded
    partials; no raw-row access at any grain."""
    from level2_to_cassandra_spark.operators import rollup as rollup_ops

    return rollup_ops.grid_quantile_bounds(
        read_grid_partials(spark, base_path), grain=grain
    )
