"""Per-micro-batch ingest observability (SURVEY.md §2 A9-A11 adjacent —
the operational telemetry the reference daemon has none of: its only
signal is a per-message eprintln on failure, main.rs:224-229).

A production ingest needs to answer, per micro-batch: how many rows
landed, what event-time range they covered (watermark lag), and
whether any carried a broken upsert key.  This module wraps any
``foreachBatch`` sink callback to append one audit row per
(batch, table) to a parquet metrics table beside the sink.

Cost model: the four counters are observed metrics
(``DataFrame.observe``) on the batch handed to the sink, so they are
computed inside the sink write's own job — no cache, no second job
over the batch.  Spark delivers an ``Observation``'s result once the
first action over the observed frame finishes, and does so inside
``foreachBatch`` too: each callback gets a fresh ``Observation`` and
reads it after the wrapped write returns.  The only other job per
batch is the one-row journal append, built from a pandas frame that
crosses to the JVM through Arrow (a Python list would go through a
pickled Python RDD, several times slower per append).

Delivery semantics: the metrics append runs AFTER the wrapped sink
write succeeds, inside the same at-least-once foreachBatch attempt —
a replayed batch writes a second metrics row with the same batch_id
(at-least-once telemetry over an idempotent data sink); readers
aggregate with ``dropDuplicates(["batch_id"])`` as usual for audit
logs.
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

#: audit-table schema (kept flat + scalar so any engine can read it)
METRICS_SCHEMA = (
    "batch_id long, table_suffix string, n_rows long, "
    "n_null_key long, min_event_ts timestamp, max_event_ts timestamp"
)


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
    delivered, before the sink's upsert dedup.
    """

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
        row = pd.DataFrame({
            "batch_id": [int(batch_id)],
            "table_suffix": [table_suffix],
            "n_rows": [m.get("n_rows", 0)],
            "n_null_key": [m.get("n_null_key", 0)],
            "min_event_ts": pd.to_datetime([m.get("min_us")], unit="us",
                                           utc=True),
            "max_event_ts": pd.to_datetime([m.get("max_us")], unit="us",
                                           utc=True),
        })
        batch_df.sparkSession.createDataFrame(
            row, METRICS_SCHEMA
        ).coalesce(1).write.mode("append").parquet(
            f"{metrics_path(base_path)}/{table_suffix}"
        )

    return _write


def _observed(obs: Observation) -> dict:
    """An ``Observation``'s metrics, or ``{}`` when the optimizer pruned
    the observed node: a batch it can prove empty (a local empty
    relation) completes the observation with an empty row, which
    ``Observation.get`` cannot convert."""
    if obs._jo.getRow().length() == 0:
        return {}
    return obs.get


def _read_journal(spark, path: str, schema: str) -> DataFrame:
    """Read a monitor journal/store directory with its pinned schema,
    or an EMPTY relation of that schema when no batch has been
    delivered yet — the SAME classifier the incremental-admit sinks
    use (operators/dedup.py::is_empty_store_error, one definition so
    the condition set cannot drift between the two reader families).
    Non-empty errors (permissions, transient FS, corrupt footer on a
    populated journal) re-raise — swallowing one would silently
    report an empty monitor over a journal that exists (ADVICE r12:
    the raw readers raised before the first delivered batch, unlike
    the admit stores' graceful empty classification)."""
    from pyspark.errors import AnalysisException

    from level2_to_cassandra_spark.operators.dedup import (
        is_empty_store_error,
    )

    try:
        return spark.read.schema(schema).parquet(path)
    except AnalysisException as e:
        if not is_empty_store_error(e):
            raise
        return spark.createDataFrame([], schema)


def read_metrics(spark, base_path: str, table_suffix: str) -> DataFrame:
    """Read the audit table for one sink table (empty before the
    first delivered batch)."""
    return _read_journal(
        spark, f"{metrics_path(base_path)}/{table_suffix}", METRICS_SCHEMA
    )


#: drift-audit schema (flat + scalar, same rationale as METRICS_SCHEMA;
#: ``key`` is always written as STRING — the wrapper casts arbitrary
#: key columns so the fixed read schema can never type-mismatch the
#: written parquet)
DRIFT_SCHEMA = (
    "batch_id long, stream string, key string, n_ref long, "
    "n_batch long, psi double, drift_flag boolean"
)


def drift_path(base: str) -> str:
    """The drift audit lives beside the sink tables, underscore-
    prefixed like the ingest-metrics table; one subdirectory per
    wrapped stream (the metrics-table discipline) so two streams
    sharing a base never interleave their independent batch_id
    sequences."""
    return f"{base}/_drift_metrics"


def foreach_batch_with_drift(
    inner: Callable[[DataFrame, int], None],
    base_path: str,
    ref_cells: DataFrame,
    stream: str = "events",
    key_col: str = "event_type",
    value_col: str = "value",
) -> Callable[[DataFrame, int], None]:
    """Wrap a foreachBatch sink callback with per-batch DISTRIBUTION
    DRIFT scoring — the streaming twin of q_drift_psi: every
    micro-batch is compared against a FROZEN reference histogram
    (:func:`operators.drift.reference_cells`, built once offline) and
    one ``(batch_id, key, psi, drift_flag)`` audit row per reference
    key is appended beside the sink.  This is the data-quality gate a
    production ingest runs continuously: the alarm fires while the
    drifted batches are landing, not at the next offline audit.

    Cost: the batch is persisted once and shared by the sink write and
    the scoring aggregate (trigger-bounded cache; the scoring is a
    join, which observed metrics cannot carry).  Delivery semantics
    are :func:`foreach_batch_with_metrics`'s: the audit append runs
    after the wrapped write succeeds inside the same at-least-once
    attempt, so replayed batches duplicate their audit rows and
    readers dedup on ``(batch_id, key)``.  The reference relation is
    #keys × ≤N_BINS rows and broadcast into the scoring join — per
    batch the added work is one map-side binning pass + one
    (key, bin) count aggregate.

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

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            inner(batch_df, batch_id)
            out = psi_against_reference(
                batch_df, ref_snap, key_col=key_col, value_col=value_col
            ).select(
                F.lit(int(batch_id)).cast("long").alias("batch_id"),
                F.lit(stream).alias("stream"),
                F.col("key").cast("string").alias("key"),
                "n_ref", "n_batch", "psi", "drift_flag",
            )
            out.coalesce(1).write.mode("append").parquet(
                f"{drift_path(base_path)}/{stream}"
            )
        finally:
            batch_df.unpersist()

    return _write


def read_drift(spark, base_path: str, stream: str = "events") -> DataFrame:
    """Read one stream's drift audit table (empty before the first
    delivered batch)."""
    return _read_journal(
        spark, f"{drift_path(base_path)}/{stream}", DRIFT_SCHEMA
    )


#: KS-audit schema — the DRIFT_SCHEMA shape with the exact statistic
#: in place of the binned one (``key`` cast to STRING by the wrapper,
#: same rationale).
KS_SCHEMA = (
    "batch_id long, stream string, key string, n_ref long, "
    "n_batch long, ks double, drift_flag boolean"
)


def ks_path(base: str) -> str:
    """Beside the sink, underscore-prefixed, one subdirectory per
    stream — the drift_path/metrics_path discipline."""
    return f"{base}/_ks_metrics"


def foreach_batch_with_ks(
    inner: Callable[[DataFrame, int], None],
    base_path: str,
    ref_dist: DataFrame,
    stream: str = "events",
    key_col: str = "event_type",
    value_col: str = "value",
) -> Callable[[DataFrame, int], None]:
    """Wrap a foreachBatch sink callback with per-batch EXACT
    KOLMOGOROV-SMIRNOV drift scoring — the streaming twin of
    q_drift_ks (VERDICT r13 #4), completing the drift family's
    build/score splits (PSI: foreach_batch_with_drift; embedding:
    foreach_batch_with_embedding_drift; nonparametric sup-distance:
    THIS).  The reference CDF grid is frozen ONCE
    (:func:`operators.drift.ks_reference_dist`, built offline) and
    every micro-batch is scored with one (key, value) aggregate + one
    union-grid-sized window pass; one ``(batch_id, key, ks,
    drift_flag)`` audit row per scored key is appended beside the
    sink.

    Cost/delivery semantics are :func:`foreach_batch_with_drift`'s:
    batch persisted once (sink + scoring share the read), audit append
    after the wrapped write inside the same at-least-once attempt —
    replayed batches duplicate audit rows, readers dedup on
    ``(batch_id, key)``.  Unlike the PSI reference (#keys × ≤10 rows,
    snapshotted with a bounded collect), the KS grid is
    VALUE-CARDINALITY-bounded — potentially far too large to collect —
    so it is PERSISTED for the stream's lifetime instead: the scoring
    join reads it once per batch, and an unpersisted caller relation
    would re-run the reference build every micro-batch.  At production
    scale the grid is a parquet staging table and this persist is a
    cache over its scan.  The persist outlives the STREAM, not just a
    batch — call the returned callback's ``teardown()`` handle after
    ``query.awaitTermination()`` / ``stop()`` to release the executor
    storage (ADVICE r14: without it the cache pins memory for the
    process lifetime once the stream ends)."""
    from level2_to_cassandra_spark.operators.drift import (
        ks_against_reference,
    )

    ref_dist = ref_dist.persist()

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            inner(batch_df, batch_id)
            out = ks_against_reference(
                batch_df, ref_dist, key_col=key_col, value_col=value_col
            ).select(
                F.lit(int(batch_id)).cast("long").alias("batch_id"),
                F.lit(stream).alias("stream"),
                F.col("key").cast("string").alias("key"),
                "n_ref", "n_batch", "ks", "drift_flag",
            )
            out.coalesce(1).write.mode("append").parquet(
                f"{ks_path(base_path)}/{stream}"
            )
        finally:
            batch_df.unpersist()

    # teardown handle: unpersist the stream-lifetime reference cache
    # once the query terminates (idempotent — unpersist on an already
    # unpersisted relation is a no-op)
    _write.teardown = lambda: ref_dist.unpersist()
    return _write


def read_ks(spark, base_path: str, stream: str = "events") -> DataFrame:
    """Read one stream's KS audit table (empty before the first
    delivered batch)."""
    return _read_journal(
        spark, f"{ks_path(base_path)}/{stream}", KS_SCHEMA
    )


#: embedding-drift audit schema — one row per (batch, occupied cell),
#: mirroring q_drift_embedding's per-cell output so the audit table
#: carries every cell's contribution, not just the scalar psi.
EMBED_DRIFT_SCHEMA = (
    "batch_id long, stream string, cluster_id long, c_ref long, "
    "c_cur long, psi_term double, psi double, drift_flag boolean"
)


def embed_drift_path(base: str) -> str:
    """Beside the sink, underscore-prefixed, one subdirectory per
    stream — the drift_path/metrics_path discipline."""
    return f"{base}/_embed_drift_metrics"


def foreach_batch_with_embedding_drift(
    inner: Callable[[DataFrame, int], None],
    base_path: str,
    centroids: DataFrame,
    ref_cells: DataFrame,
    n_cells: int,
    stream: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> Callable[[DataFrame, int], None]:
    """Wrap a foreachBatch sink callback with per-batch EMBEDDING-SPACE
    drift scoring — the streaming twin of q_drift_embedding
    (VERDICT r10 task #6): each embedding micro-batch is quantized
    against a FROZEN codebook (``centroids`` — the centroid relation
    the offline label table was assigned against, e.g.
    ``similarity.ivf_index(em, lloyd_iters=_KMEANS_ITERS-1)[0]``) and
    its cluster occupancy is PSI-compared against the frozen reference
    occupancy (:func:`operators.drift.cluster_reference_cells` over
    the label table's reference cohort).  One audit row per occupied
    cell per batch, so the per-cell contributions land in the audit
    table exactly as the batch query emits them.

    ``n_cells`` is the quantizer's cell count (the Laplace
    denominator — queries/llm.py::_KMEANS_K for the session kmeans
    table), NOT the occupied-cell count.

    Cost/delivery semantics follow :func:`foreach_batch_with_drift`:
    the batch is persisted and shared by the sink write and the
    scoring pass; both the codebook and the reference occupancy are
    SNAPSHOTTED once (bounded collects — each is ≤n_cells rows by
    construction) so no per-batch rebuild or union-branch recompute
    of the caller's relations can occur; the audit append runs after
    the wrapped write inside the same at-least-once attempt, so
    replayed batches duplicate audit rows and readers dedup on
    ``(batch_id, cluster_id)``.  Per batch the added work is one
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

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            inner(batch_df, batch_id)
            labeled = ivf_assign_np(
                batch_df, cent_snap, id_col=id_col, vec_col=vec_col,
                round_assign=6,
            )
            out = psi_against_cluster_reference(
                labeled, ref_snap, n_cells=n_cells
            ).select(
                F.lit(int(batch_id)).cast("long").alias("batch_id"),
                F.lit(stream).alias("stream"),
                "cluster_id", "c_ref", "c_cur", "psi_term", "psi",
                "drift_flag",
            )
            out.coalesce(1).write.mode("append").parquet(
                f"{embed_drift_path(base_path)}/{stream}"
            )
        finally:
            batch_df.unpersist()

    return _write


def read_embed_drift(spark, base_path: str,
                     stream: str = "embeddings") -> DataFrame:
    """Read one stream's embedding-drift audit table (empty before
    the first delivered batch)."""
    return _read_journal(
        spark, f"{embed_drift_path(base_path)}/{stream}", EMBED_DRIFT_SCHEMA
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


def covariance_path(base: str) -> str:
    """Beside the sink, underscore-prefixed, one subdirectory per
    stream — the drift_path/metrics_path discipline."""
    return f"{base}/_covariance_state"


def foreach_batch_with_covariance(
    inner: Callable[[DataFrame, int], None],
    base_path: str,
    dim: int = 64,
    stream: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> Callable[[DataFrame, int], None]:
    """Wrap a foreachBatch sink callback with INCREMENTAL COVARIANCE
    maintenance — the streaming twin of q_embed_covariance: each
    embedding micro-batch folds into the running second-moment state,
    so the corpus covariance (the moment matrix behind PCA/whitening
    and eigen-spectrum drift diagnostics) is ALWAYS CURRENT at the
    ingest boundary instead of requiring a full offline corpus pass
    after every load.

    The Gram sums are exactly additive over row-disjoint batches
    (sxy/sxi/syj/cnt are plain sums), so the state is an append-only
    journal of per-batch partials — dim·(dim+1)/2 rows per batch —
    and :func:`read_covariance` reduces it to the query's output
    shape on demand.  Per batch the added work is ONE Arrow-batched
    numpy matrix product over the admitted rows (map-side, zero
    shuffles — the same kernel the offline query runs) plus a
    2080-row aggregate and a single-file append: O(dim²) cost
    regardless of corpus size, which is what makes moment maintenance
    viable at 100 TB where the offline re-scan is a full corpus read.

    Row admission mirrors q_embed_covariance exactly (non-NULL,
    correct length, no NULL elements; the kernel additionally masks
    non-finite content) so the maintained state and the offline query
    agree cell-for-cell — parity-pinned by
    test_streaming_covariance_matches_batch_query.

    Delivery semantics follow the module's audit-table discipline:
    the journal append runs AFTER the wrapped sink write inside the
    same at-least-once attempt; a replayed batch re-derives the SAME
    deterministic partials under the same batch_id, and readers dedup
    on (batch_id, i, j) — so replay cannot double-count a batch into
    the moments (no read-modify-write race by construction)."""
    from level2_to_cassandra_spark.operators.similarity import (
        admit_predicate,
        gram_partials,
    )

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            inner(batch_df, batch_id)
            # the SHARED admission predicate — an inline copy here
            # would silently desynchronize the journal from
            # q_embed_covariance the first time the predicate evolves
            # (it did in r12: the finiteness leg)
            admitted = batch_df.where(admit_predicate(dim, vec_col))
            parts = (
                gram_partials(admitted, dim=dim, id_col=id_col,
                              vec_col=vec_col)
                .groupBy("i", "j")
                .agg(
                    F.sum("sxy").alias("sxy"),
                    F.sum("sxi").alias("sxi"),
                    F.sum("syj").alias("syj"),
                    F.sum("cnt").alias("cnt"),
                )
                .select(
                    F.lit(int(batch_id)).cast("long").alias("batch_id"),
                    "i", "j", "sxy", "sxi", "syj", "cnt",
                )
            )
            parts.coalesce(1).write.mode("append").parquet(
                f"{covariance_path(base_path)}/{stream}"
            )
        finally:
            batch_df.unpersist()

    return _write


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
            spark, f"{covariance_path(base_path)}/{stream}",
            COVARIANCE_SCHEMA,
        )
        .dropDuplicates(["batch_id", "i", "j"])
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


def outlier_path(base: str) -> str:
    """Beside the sink, underscore-prefixed — the drift_path
    discipline."""
    return f"{base}/_embed_outliers"


def foreach_batch_with_outlier_gate(
    inner: Callable[[DataFrame, int], None],
    base_path: str,
    centroid: list[float],
    cnorm: float,
    tau: float = -0.15,
    stream: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> Callable[[DataFrame, int], None]:
    """Wrap a foreachBatch sink callback with the CENTROID-COSINE
    OUTLIER GATE — the streaming twin of q_embed_outlier
    (queries/llm.py): each micro-batch is scored against a FROZEN
    centroid (``centroid``/``cnorm`` from
    operators/similarity.py::centroid_stats over the reference
    corpus — the same frozen-reference discipline as the drift
    monitors) and split three ways:

    * rows the admission filter accepts whose rounded cosine clears
      ``tau`` flow to the wrapped sink UNCHANGED (original columns);
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
    lands twice.

    Cost: the batch is persisted and shared by the three legs; per
    batch the added work is two map-side folds (cosine + norm) over
    the batch — zero shuffles, zero Python, O(dim) frozen state.
    Delivery follows the monitor discipline: the quarantine append
    runs AFTER the wrapped write inside the same at-least-once
    attempt, so replays duplicate quarantine rows and readers dedup
    on (batch_id, vec_id)."""
    from level2_to_cassandra_spark.operators.similarity import (
        admit_predicate,
        centroid_cosine,
        vector_norm,
    )

    cos_r = centroid_cosine(centroid, cnorm, vec_col)
    scoreable = admit_predicate(dim, vec_col) & (vector_norm(vec_col) > 0)
    if cnorm <= 0:  # degenerate reference: nothing is scoreable
        scoreable = F.lit(False)

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            scored = batch_df.withColumn("__cos", cos_r)
            inner(
                batch_df.where(scoreable & (cos_r >= F.lit(tau))),
                batch_id,
            )
            quarantined = scored.where(
                scoreable & (F.col("__cos") < F.lit(tau))
            ).select(
                F.lit(int(batch_id)).cast("long").alias("batch_id"),
                F.col(id_col).cast("long").alias("vec_id"),
                F.col("__cos").alias("cos_centroid"),
                F.lit("outlier").alias("reason"),
            ).unionByName(
                batch_df.where(~scoreable).select(
                    F.lit(int(batch_id)).cast("long").alias("batch_id"),
                    F.col(id_col).cast("long").alias("vec_id"),
                    F.lit(None).cast("double").alias("cos_centroid"),
                    F.lit("malformed").alias("reason"),
                )
            )
            quarantined.coalesce(1).write.mode("append").parquet(
                f"{outlier_path(base_path)}/{stream}"
            )
        finally:
            batch_df.unpersist()

    return _write


def read_outlier_quarantine(spark, base_path: str,
                            stream: str = "embeddings") -> DataFrame:
    """Read one stream's outlier-gate quarantine table (empty before
    the first delivered batch)."""
    return _read_journal(
        spark, f"{outlier_path(base_path)}/{stream}", OUTLIER_GATE_SCHEMA
    )


def vocab_store_path(base: str) -> str:
    """The seen-term store — beside the sink, underscore-prefixed."""
    return f"{base}/_vocab_terms"


def foreach_batch_with_vocab_growth(
    inner: Callable[[DataFrame, int], None],
    base_path: str,
    text_col: str = "text",
) -> Callable[[DataFrame, int], None]:
    """Wrap a foreachBatch sink callback with a VOCABULARY-GROWTH
    monitor — Heaps' law at the ingest boundary: per micro-batch, the
    batch's distinct terms are anti-joined against the seen-term
    store and only the UNSEEN ones are appended, keyed by the batch
    that first contributed them.  A flattening new-term curve is the
    signal that more of this source adds no lexical diversity — the
    streaming complement of q_text_zipf's spectrum check.

    REPLAY SEMANTICS BY CONSTRUCTION (no separate audit table to
    de-duplicate): the store row ``(term, batch_id)`` is the only
    state, and a replayed batch's terms are already in the store from
    the first attempt, so its anti-join contributes nothing — the
    growth curve (:func:`read_vocab_growth`) is DERIVED from the
    store and is identical under at-least-once delivery; attribution
    stays with the first-writing batch (the dedup.py write-order
    discipline, with the store itself as the journal).

    Cost: one map-side tokenize+distinct over the batch and one term
    equi-(anti-)join against the store — batch-bounded × vocabulary,
    never corpus; the store is vocabulary-sized (Heaps-sublinear in
    the corpus), the same scale class as the tf postings staging
    table.  The store append runs AFTER the wrapped write inside the
    same attempt.  Appending to the store the anti-join reads is safe
    because the parquet read's file index is SNAPSHOTTED when
    :func:`_read_store_or_none` builds the relation — files the
    append adds are not in that index, so the write cannot observe
    its own output (no persist needed: unlike the dedup sinks, there
    is only ONE action over the fresh relation)."""
    from level2_to_cassandra_spark.operators import text as text_ops
    from level2_to_cassandra_spark.operators.dedup import (
        _read_store_or_none,
    )

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            inner(batch_df, batch_id)
            terms = (
                batch_df.select(
                    F.explode(text_ops.tokens(text_col)).alias("term")
                )
                .distinct()
            )
            spark = batch_df.sparkSession
            store = vocab_store_path(base_path)
            seen = _read_store_or_none(spark, store)
            if seen is not None:
                terms = terms.join(
                    seen.select("term"), "term", "left_anti"
                )
            terms.select(
                "term", F.lit(int(batch_id)).cast("long").alias("batch_id")
            ).write.mode("append").parquet(store)
        finally:
            batch_df.unpersist()

    return _write


def read_vocab_growth(spark, base_path: str) -> DataFrame:
    """Reduce the seen-term store to the growth curve: one row per
    contributing batch ``(batch_id, n_new, vocab_size)`` with
    vocab_size the running total — #batches rows, reduced from the
    vocabulary-sized store with one aggregate + one tiny window."""
    from pyspark.sql import Window as W

    per = (
        _read_journal(
            spark, vocab_store_path(base_path),
            "term string, batch_id long",
        )
        .groupBy("batch_id")
        .agg(F.count(F.lit(1)).alias("n_new"))
    )
    w = W.orderBy("batch_id").rowsBetween(W.unboundedPreceding, 0)
    return per.select(
        "batch_id", "n_new", F.sum("n_new").over(w).alias("vocab_size")
    )


def shingle_df_path(base: str) -> str:
    """The shingle document-frequency journal — beside the sink,
    underscore-prefixed; ``dfs/`` holds per-batch df deltas, ``docs/``
    the per-batch document counts the corpus-relative cut needs."""
    return f"{base}/_shingle_df"


def foreach_batch_with_shingle_df(
    inner: Callable[[DataFrame, int], None],
    base_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> Callable[[DataFrame, int], None]:
    """Wrap a foreachBatch sink callback with SHINGLE-DF JOURNAL
    maintenance — the streaming twin of q_text_boilerplate's
    expensive global state (the 3-gram document-frequency relation):
    each micro-batch appends its per-shingle df DELTA and its doc
    count, and :func:`read_hot_shingles` reduces the journal to the
    CURRENT corpus-hot set under the exact batch cut
    (operators/text.py::hot_shingles — one shared implementation, so
    batch and stream agree on hotness by construction).  Scoring any
    batch is then one broadcast join of that bounded set onto its
    occurrence stream — what the batch query does corpus-wide, priced
    per-batch.

    The journal is the covariance-journal pattern: per-batch rows are
    DETERMINISTIC re-derivations, so a replayed batch re-appends
    identical rows under the same batch_id and the reader's
    dropDuplicates collapses them — at-least-once delivery cannot
    double-count a batch into any df.  Each document must arrive in
    exactly one batch (the incremental-admit sinks upstream are what
    enforce that); a doc re-admitted under a different batch_id would
    double its shingles' dfs, same as re-inserting it into the batch
    corpus.

    Cost per batch: one map-side shingle explode + one df aggregate
    over the BATCH (batch-bounded, never corpus) and two appends; the
    journal grows by the batch's distinct-shingle count and reduces
    vocabulary-sized, the tf-postings scale class."""
    from level2_to_cassandra_spark.operators import text as text_ops

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            inner(batch_df, batch_id)
            bid = F.lit(int(batch_id)).cast("long").alias("batch_id")
            occ = text_ops.shingle_occurrences(
                batch_df, id_col=id_col, text_col=text_col
            )
            (
                occ.distinct()
                .groupBy("g3")
                .agg(F.count(F.lit(1)).alias("df_delta"))
                .select("g3", "df_delta", bid)
                .write.mode("append")
                .parquet(f"{shingle_df_path(base_path)}/dfs")
            )
            batch_df.select(F.count(F.lit(1)).alias("n_docs")).select(
                "n_docs", bid
            ).write.mode("append").parquet(
                f"{shingle_df_path(base_path)}/docs"
            )
        finally:
            batch_df.unpersist()

    return _write


def _shingle_df_watermark(spark, base_path: str) -> int:
    """The journal's compaction watermark: the highest ``through_batch``
    among committed compact-dfs segments, or -1 when never compacted.
    Segments are PARTITIONED by through_batch, so this reads only the
    partition listing, not segment data — and the dfs directory (not
    docs) is deliberately the single source of truth: it is written
    LAST in :func:`compact_shingle_df`, so the watermark advances only
    once a generation is complete."""
    seg = _read_journal(
        spark, f"{shingle_df_path(base_path)}/compact_dfs",
        "g3 string, df long, through_batch long",
    )
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
    w = _shingle_df_watermark(spark, base_path)
    base = (
        _read_journal(
            spark, f"{shingle_df_path(base_path)}/compact_dfs",
            "g3 string, df long, through_batch long",
        )
        .where(F.col("through_batch") == w)
        .dropDuplicates(["g3"])
        .select("g3", "df")
    )
    deltas = (
        _read_journal(
            spark, f"{shingle_df_path(base_path)}/dfs",
            "g3 string, df_delta long, batch_id long",
        )
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
        _read_journal(
            spark, f"{shingle_df_path(base_path)}/compact_docs",
            "n_docs long, through_batch long",
        )
        .where(F.col("through_batch") == w)
        .dropDuplicates()
        .select("n_docs")
    )
    docs_delta = (
        _read_journal(
            spark, f"{shingle_df_path(base_path)}/docs",
            "n_docs long, batch_id long",
        )
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
    bound)."""
    import os
    import shutil
    import tempfile

    from level2_to_cassandra_spark.streaming.sink import (
        _acquire_compact_lock,
    )

    root = shingle_df_path(base_path)
    os.makedirs(root, exist_ok=True)
    lock_fd = _acquire_compact_lock(f"{root}/_compact.lock")
    try:
        _migrate_flat_segments(spark, base_path)

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
            for sub, schema in (
                ("dfs", "g3 string, df_delta long, batch_id long"),
                ("docs", "n_docs long, batch_id long"),
            ):
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
                if entry.startswith(("_stage_", "_mig_")):
                    shutil.rmtree(os.path.join(root, entry),
                                  ignore_errors=True)

        w_old = _shingle_df_watermark(spark, base_path)
        raw_dfs = _read_journal(
            spark, f"{root}/dfs",
            "g3 string, df_delta long, batch_id long",
        ).where(F.col("batch_id") > w_old)
        raw_docs = _read_journal(
            spark, f"{root}/docs",
            "n_docs long, batch_id long",
        ).where(F.col("batch_id") > w_old)
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

        def _commit_generation(df, sub: str) -> None:
            # 2: stage + one atomic rename; the partition value is the
            # DIRECTORY NAME, so the staged files stay narrow and a
            # half-written stage can never be taken for a generation
            target = f"{root}/{sub}/through_batch={through}"
            if os.path.isdir(target):
                return  # a crashed retry already committed it (3)
            os.makedirs(f"{root}/{sub}", exist_ok=True)
            stage = tempfile.mkdtemp(dir=root, prefix=f"_stage_{sub}_")
            df.write.mode("overwrite").parquet(stage)
            os.rename(stage, target)

        _commit_generation(
            n_docs.where(F.col("n_docs").isNotNull()).select("n_docs"),
            "compact_docs",
        )
        _commit_generation(dfreq.select("g3", "df"), "compact_dfs")
        _prune_and_reclaim(through)
        return through
    finally:
        os.close(lock_fd)


def _migrate_flat_segments(spark, base_path: str) -> None:
    """One-shot layout migration: the first (intra-r14) compaction
    format wrote segments as FLAT parquet files with through_batch as
    a data column; the generation-directory layout would sit beside
    them and make partition discovery refuse the mixed directory.  Any
    flat files found are rewritten into their generation directories
    and removed — runs under the compaction lock, before anything
    reads the segment dirs."""
    import glob as globmod
    import os
    import shutil
    import tempfile

    root = shingle_df_path(base_path)
    for sub, cols in (("compact_dfs", ("g3", "df")),
                      ("compact_docs", ("n_docs",))):
        seg_root = f"{root}/{sub}"
        flat = sorted(globmod.glob(f"{seg_root}/*.parquet"))
        if not flat:
            continue
        rows = spark.read.parquet(*flat)
        gens = [int(r.through_batch) for r in
                rows.select("through_batch").distinct().collect()]
        for gen in gens:
            target = f"{seg_root}/through_batch={gen}"
            if os.path.isdir(target):
                continue
            stage = tempfile.mkdtemp(dir=root, prefix=f"_mig_{sub}_")
            rows.where(F.col("through_batch") == gen).select(
                *cols
            ).write.mode("overwrite").parquet(stage)
            os.rename(stage, target)
        for f in flat:
            os.remove(f)
        for extra in globmod.glob(f"{seg_root}/_SUCCESS*") + globmod.glob(
            f"{seg_root}/.*.crc"
        ):
            if os.path.isfile(extra):
                os.remove(extra)


#: per-doc novelty audit schema (flat + scalar; the novelty double is
#: rounded 6 exactly like the batch spec's output)
NOVELTY_SCHEMA = (
    "batch_id long, doc_id long, n_shingles long, n_novel long, "
    "novelty double"
)


def novelty_path(base: str) -> str:
    """Beside the sink, underscore-prefixed — the monitor-table
    discipline.  ``/scores`` holds the per-doc audit rows, ``/seen``
    the append-only first-occurrence shingle store."""
    return f"{base}/_novelty"


def foreach_batch_with_novelty(
    inner: Callable[[DataFrame, int], None],
    base_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> Callable[[DataFrame, int], None]:
    """Wrap a foreachBatch sink callback with FIRST-OCCURRENCE N-GRAM
    NOVELTY scoring — the streaming twin of q_text_novelty: every
    document is scored AT INGEST for the fraction of its distinct
    3-gram shingles never seen in any earlier batch (crawl-value /
    marginal-new-content, priced per batch instead of per corpus
    rebuild).  One ``(batch_id, doc_id, n_shingles, n_novel,
    novelty)`` audit row per shingled doc lands beside the sink.

    REPLAY DETERMINISM is the design constraint the naive form fails:
    a replayed batch would find its own shingles already in the seen
    store and re-score everything 0.  Both sides of the computation
    are therefore keyed by batch_id — the score anti-joins the store
    FILTERED TO STRICTLY EARLIER BATCHES (``batch_id < bid``: a
    crashed attempt's own rows are excluded, and later batches cannot
    have run — foreachBatch replays only the last uncommitted batch),
    and within-batch first occurrence is credited to the minimum
    doc_id, exactly the batch spec's rule.  The store append runs LAST
    (the admit-sink discipline) and duplicates from replay collapse
    under the reader's earliest-batch reduction.  When batches
    partition the corpus in doc_id order, the audit rows equal
    q_text_novelty's output row-for-row (parity-pinned).

    Cost per batch: one batch-bounded shingle explode + distinct, one
    anti-join against the seen store bucketed by shingle (probe ∝
    batch shingles × store occupancy — the incremental-dedup shape,
    never corpus²), two appends."""
    from level2_to_cassandra_spark.operators import text as text_ops

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        occ = None
        try:
            inner(batch_df, batch_id)
            bid = int(batch_id)
            # persisted: feeds three plan branches across two write
            # actions (flagged, totals, seen append) — without it the
            # shingle explode recomputes per branch (ADVICE r14)
            occ = (
                text_ops.shingle_occurrences(
                    batch_df, id_col=id_col, text_col=text_col
                )
                .distinct()
                .persist()
            )
            seen = (
                _read_journal(
                    spark := batch_df.sparkSession,
                    f"{novelty_path(base_path)}/seen",
                    "g3 string, batch_id long",
                )
                .where(F.col("batch_id") < bid)
                .select("g3")
                .distinct()
            )
            w_min = Window.partitionBy("g3")
            flagged = (
                occ.join(seen, "g3", "left_anti")
                .withColumn("first_doc", F.min("doc_id").over(w_min))
                .where(F.col("first_doc") == F.col("doc_id"))
                .select("doc_id")
                .groupBy("doc_id")
                .agg(F.count(F.lit(1)).alias("n_novel"))
            )
            totals = occ.groupBy("doc_id").agg(
                F.count(F.lit(1)).alias("n_shingles")
            )
            scores = (
                totals.join(flagged, "doc_id", "left")
                .select(
                    F.lit(bid).cast("long").alias("batch_id"),
                    F.col("doc_id").cast("long").alias("doc_id"),
                    F.col("n_shingles").cast("long").alias("n_shingles"),
                    F.coalesce(F.col("n_novel"), F.lit(0))
                    .cast("long").alias("n_novel"),
                    F.round(
                        F.coalesce(F.col("n_novel"), F.lit(0))
                        .cast("double") / F.col("n_shingles"),
                        6,
                    ).alias("novelty"),
                )
            )
            scores.coalesce(1).write.mode("append").parquet(
                f"{novelty_path(base_path)}/scores"
            )
            # store append LAST: a crash before this line re-scores the
            # replay identically (its own rows are batch_id-filtered
            # out of the probe either way)
            occ.select(
                "g3", F.lit(bid).cast("long").alias("batch_id")
            ).write.mode("append").parquet(
                f"{novelty_path(base_path)}/seen"
            )
        finally:
            if occ is not None:
                occ.unpersist()
            batch_df.unpersist()

    return _write


def read_novelty(spark, base_path: str) -> DataFrame:
    """Read the per-doc novelty audit table (empty before the first
    delivered batch); replayed batches collapse on (batch_id, doc_id)
    — the rows are deterministic re-derivations."""
    return _read_journal(
        spark, f"{novelty_path(base_path)}/scores", NOVELTY_SCHEMA
    ).dropDuplicates(["batch_id", "doc_id"])


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
    the append-only first-occurrence line store, ``/bloom`` the
    store's Bloom side-file OR-partials (geometry-versioned subdirs,
    r16), ``/overspan`` the over-span doc rejects (r16)."""
    return f"{base}/_line_dedup"


def foreach_batch_with_line_dedup(
    inner: Callable[[DataFrame, int], None],
    base_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> Callable[[DataFrame, int], None]:
    """Wrap a foreachBatch sink callback with LINE-LEVEL DEDUP at
    ingest — the streaming twin of q_dedup_lines: every document is
    line-deduped AT ADMIT against all lines seen in earlier batches
    (and earlier docs of its own batch), emitting one ``(batch_id,
    doc_id, n_lines, n_kept, kept_text)`` audit row per doc.  This is
    the C4 line-dedup step priced per micro-batch instead of per
    corpus rebuild: the kept_text column IS the line-deduped document
    a downstream curation sink would ingest.

    REPLAY DETERMINISM follows foreach_batch_with_novelty exactly:
    the probe anti-joins the seen store FILTERED TO STRICTLY EARLIER
    BATCHES (``batch_id < bid`` — a crashed attempt's own rows are
    excluded; later batches cannot have run), within-batch first
    occurrence is the minimum packed (doc_id, line_no) key (the batch
    query's rule), and the store append runs LAST so a replay
    re-derives identical rows.  When batches partition the corpus in
    doc_id order the audit rows equal q_dedup_lines' output
    row-for-row (parity-pinned by test).

    Cost per batch: one batch-bounded line explode (persisted across
    its three consumers), one BLOOM-BOUNDED anti-join against the seen
    store keyed by line_text, one window over batch lines, three
    appends.  The Bloom side-file (operators/bloom.py — design note
    there) routes only maybe-seen lines into the exact anti-join:
    lines whose probe misses are definitely fresh and skip it, so the
    join input is ~|batch ∩ store| + ε·|batch| instead of |batch|;
    false positives fall through to the exact join (correctness
    unchanged), false negatives cannot occur because each batch's
    Bloom partial is written BEFORE its store append (bloom ⊇ store
    under every crash point).  The filter folds ONCE per stream into
    an in-memory cache (operators/bloom.py::BloomCache) and lives in
    a GEOMETRY-VERSIONED subdir, so a resized filter rebuilds itself
    instead of silently mis-probing (review r16, 2nd pass).

    OVER-SPAN DOCUMENTS (review r16, 2nd pass): a doc with
    >= LINE_KEY_SPAN lines cannot take a sound packed first-occurrence
    key — the batch query RAISES (packed_line_key's guard), but a
    raising expression inside foreachBatch would wedge the stream on
    permanent replay of the same poison batch.  The gate instead
    REJECTS such docs wholesale at admit: their lines never enter the
    dedup (no audit row, no store rows) and the doc_id is journaled to
    ``/overspan`` for requeue/inspection; the wrapped sink still
    receives the full batch (this wrapper is an audit monitor, not a
    filter).  The guarded key expression stays in the plan as defense
    in depth — it cannot fire on the filtered lines."""
    from level2_to_cassandra_spark.operators import bloom as bloom_ops
    from level2_to_cassandra_spark.operators import text as text_ops

    cache = bloom_ops.BloomCache()

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        lines = fresh = None
        try:
            inner(batch_df, batch_id)
            bid = int(batch_id)
            # persisted: feeds the totals agg, the kept computation and
            # the seen append (three branches, two write actions)
            lines = text_ops.line_segments(
                batch_df, id_col=id_col, text_col=text_col
            ).persist()
            seen = (
                _read_journal(
                    batch_df.sparkSession,
                    f"{line_dedup_path(base_path)}/seen",
                    "line_text string, batch_id long",
                )
                .where(F.col("batch_id") < bid)
                .select("line_text")
                .distinct()
            )
            # guarded shared expression (ADVICE r15): raises on
            # line_no >= LINE_KEY_SPAN instead of mis-attributing
            key = text_ops.packed_line_key()
            # over-span docs (see docstring): journal + exclude their
            # lines wholesale so the key guard cannot poison the
            # stream; `over` is ~always empty and rides a broadcast
            over = (
                lines.where(
                    F.col("line_no") >= text_ops.LINE_KEY_SPAN
                )
                .select("doc_id")
                .distinct()
            )
            lines_ok = lines.join(F.broadcast(over), "doc_id", "left_anti")
            over.select(
                F.lit(bid).cast("long").alias("batch_id"),
                F.col("doc_id").cast("long").alias("doc_id"),
            ).coalesce(1).write.mode("append").parquet(
                f"{line_dedup_path(base_path)}/overspan"
            )
            # Bloom pre-filter (r16): only maybe-seen lines pay the
            # exact store anti-join; misses are definitely fresh.
            # Empty filter (batch 0 / pre-side-file store / lost or
            # resized journal) -> exact full-batch probe (operators/
            # bloom.py::probe_unseen)
            cache.ensure(_read_journal(
                batch_df.sparkSession,
                f"{line_dedup_path(base_path)}/bloom/"
                f"{bloom_ops.journal_subdir()}",
                bloom_ops.BLOOM_SCHEMA,
            ))
            unseen = bloom_ops.probe_unseen(
                cache, lines_ok, "line_text", seen
            )
            # persisted: feeds the kept aggregation AND the seen-store
            # append (review r15 — the store gains one row per
            # NEWLY-SEEN line only; appending every batch's full line
            # set would grow the store with batch count even at zero
            # new lines, and recurring lines are exactly what a
            # boilerplate-heavy stream delivers)
            fresh = (
                unseen
                .withColumn(
                    "first_key",
                    F.min(key).over(Window.partitionBy("line_text")),
                )
                .where(F.col("first_key") == key)
                .select("doc_id", "line_no", "line_text")
                .persist()
            )
            kept_agg = fresh.groupBy("doc_id").agg(
                F.count(F.lit(1)).cast("long").alias("n_kept"),
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct("line_no", "line_text")
                            )
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
                F.lit(bid).cast("long").alias("batch_id"),
                F.col("doc_id").cast("long").alias("doc_id"),
                "n_lines",
                F.coalesce(F.col("n_kept"), F.lit(0))
                .cast("long").alias("n_kept"),
                F.coalesce(F.col("kept_text"), F.lit(""))
                .alias("kept_text"),
            )
            audit.coalesce(1).write.mode("append").parquet(
                f"{line_dedup_path(base_path)}/docs"
            )
            # Bloom partial BEFORE the store append (bloom ⊇ store
            # under every crash point) + the one-time whole-store
            # migration backfill — operators/bloom.py::append_partial
            bloom_ops.append_partial(
                cache,
                f"{line_dedup_path(base_path)}/bloom/"
                f"{bloom_ops.journal_subdir()}",
                fresh.select("line_text"),
                "line_text",
                _read_journal(
                    batch_df.sparkSession,
                    f"{line_dedup_path(base_path)}/seen",
                    "line_text string, batch_id long",
                ).select("line_text"),
                bid,
            )
            # store append LAST: a crash before this line re-scores the
            # replay identically (its own rows are batch_id-filtered
            # out of the probe either way).  Only the FRESH lines are
            # appended — the store's reader contract is the SET of
            # lines ever seen, and every fresh line_text has exactly
            # one surviving first-occurrence row, so fresh ∪ store
            # equals the old full-batch append with one row per line
            # instead of one per (line × batch-it-recurs-in)
            fresh.select(
                "line_text", F.lit(bid).cast("long").alias("batch_id")
            ).write.mode("append").parquet(
                f"{line_dedup_path(base_path)}/seen"
            )
        finally:
            if fresh is not None:
                fresh.unpersist()
            if lines is not None:
                lines.unpersist()
            batch_df.unpersist()

    return _write


#: over-span reject journal: docs whose line count exceeds the packed
#: first-occurrence key span (rejected wholesale at admit — docstring)
LINE_OVERSPAN_SCHEMA = "batch_id long, doc_id long"


def read_line_overspan(spark, base_path: str) -> DataFrame:
    """Read the over-span doc reject journal (review r16, 2nd pass —
    the streaming stand-in for packed_line_key's batch-side raise);
    replayed batches collapse on (batch_id, doc_id)."""
    return _read_journal(
        spark, f"{line_dedup_path(base_path)}/overspan",
        LINE_OVERSPAN_SCHEMA,
    ).dropDuplicates(["batch_id", "doc_id"])


def read_line_dedup(spark, base_path: str) -> DataFrame:
    """Read the per-doc line-dedup audit table (empty before the first
    delivered batch); replayed batches collapse on (batch_id, doc_id)
    — the rows are deterministic re-derivations."""
    return _read_journal(
        spark, f"{line_dedup_path(base_path)}/docs", LINE_DEDUP_SCHEMA
    ).dropDuplicates(["batch_id", "doc_id"])


#: reject-journal schema: the q_quality_gopher metric columns plus the
#: batch attribution (replay dedup key component)
QUALITY_GATE_SCHEMA = (
    "batch_id long, doc_id long, n_words long, mean_word_len double, "
    "alpha_frac double, symbol_ratio double"
)


def quality_gate_path(base: str) -> str:
    """Beside the sink, underscore-prefixed — the monitor-table
    discipline.  ``/rejects`` holds the per-doc reject audit rows."""
    return f"{base}/_quality_gate"


def foreach_batch_with_quality_gate(
    inner: Callable[[DataFrame, int], None],
    base_path: str,
) -> Callable[[DataFrame, int], None]:
    """Wrap a foreachBatch sink callback with the GOPHER QUALITY GATE
    — the streaming twin of q_quality_gopher: each micro-batch of
    documents is scored with the SAME shared transform the batch query
    serves from (queries/llm.py::gopher_stats — rule set and rounding
    shared verbatim, so gate and query agree bit-for-bit by
    construction and by parity test), then split two ways:

    * docs whose composite pass_gopher bit is 1 flow to the wrapped
      sink UNCHANGED (original columns);
    * rejects are journaled with their raw metrics — auditable by
      reason (which rule failed is re-derivable from the stored
      metrics without re-reading the text), the q_curate_corpus
      stance applied at ingest.

    A NULL-text doc scores NULL metrics and pass_gopher = 0
    (gopher_stats' contract), so the two legs PARTITION the batch:
    nothing drops, nothing lands twice.

    The gate is STATELESS (pure per-row expressions — no store, no
    history), so replay determinism is free: a replayed batch
    re-derives identical legs and readers dedup the reject journal on
    (batch_id, doc_id).  Cost per batch: map-side expression work
    fused into each leg's scan of the persisted batch — zero shuffles,
    zero Python, zero state.

    SCHEMA CONTRACT: batch columns other than doc_id pass through to
    the sink unchanged, so they may not collide with the computed
    metric names (n_words / mean_word_len / alpha_frac / symbol_ratio
    / pass_gopher) — gopher_stats raises a named ValueError on the
    first batch instead of letting Spark die later with an ambiguous-
    reference error (review r15); rename such payload columns
    upstream."""
    from level2_to_cassandra_spark.queries.llm import gopher_stats

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            bid = int(batch_id)
            cols = list(batch_df.columns)
            stats = gopher_stats(
                batch_df,
                keep=tuple(c for c in cols if c != "doc_id"),
            )
            inner(stats.where(F.col("pass_gopher") == 1).select(*cols),
                  batch_id)
            rejects = stats.where(F.col("pass_gopher") == 0).select(
                F.lit(bid).cast("long").alias("batch_id"),
                F.col("doc_id").cast("long").alias("doc_id"),
                "n_words", "mean_word_len", "alpha_frac", "symbol_ratio",
            )
            rejects.coalesce(1).write.mode("append").parquet(
                f"{quality_gate_path(base_path)}/rejects"
            )
        finally:
            batch_df.unpersist()

    return _write


def read_quality_rejects(spark, base_path: str) -> DataFrame:
    """Read the quality-gate reject audit table (empty before the
    first delivered batch); replayed batches collapse on (batch_id,
    doc_id) — the gate is stateless, so rows are deterministic
    re-derivations."""
    return _read_journal(
        spark, f"{quality_gate_path(base_path)}/rejects",
        QUALITY_GATE_SCHEMA,
    ).dropDuplicates(["batch_id", "doc_id"])


#: reject-journal schema: the three per-gate bits + the vote count
#: (which gate(s) failed re-derives from the stored row) plus the
#: batch attribution (replay dedup key component)
VOTE_GATE_SCHEMA = (
    "batch_id long, doc_id long, pass_gopher long, "
    "pass_classifier long, pass_repetition long, votes long"
)


def vote_gate_path(base: str) -> str:
    """Beside the sink, underscore-prefixed — the monitor-table
    discipline.  ``/rejects`` holds the per-doc reject audit rows."""
    return f"{base}/_vote_gate"


def foreach_batch_with_quality_vote(
    inner: Callable[[DataFrame, int], None],
    base_path: str,
    min_votes: int = 2,
) -> Callable[[DataFrame, int], None]:
    """Wrap a foreachBatch sink callback with the QUALITY-VOTE
    ENSEMBLE GATE — the streaming twin of q_quality_vote and the
    robust form of the single-signal gates: each micro-batch of
    documents is scored by all THREE quality families via the SAME
    shared chained transform the batch query serves from
    (queries/traindata.py::quality_votes — gopher rules, classifier
    raw-score sign, duplicated-trigram fraction, chained
    scan→project), then split at ``min_votes`` (default 2 of 3 — the
    batch query's majority rule, so gate and query agree bit-for-bit
    by construction and by parity test):

    * docs with votes ≥ min_votes flow to the wrapped sink UNCHANGED
      (original columns);
    * rejects are journaled with their three per-gate bits and vote
      count — WHICH gate(s) failed re-derives from the stored row,
      and the journal re-thresholds at any min_votes without
      re-scoring.

    A NULL-text doc fails all three gates (votes 0 — the shared
    transform's contract), so the two legs PARTITION the batch.  The
    gate is STATELESS — replay determinism is free, readers dedup on
    (batch_id, doc_id).  Cost per batch: three chained map-side
    transforms fused into each leg's scan of the persisted batch —
    zero shuffles, zero Python, zero state (the q_quality_vote plan
    shape, priced per micro-batch).

    SCHEMA CONTRACT: batch columns other than doc_id/text pass
    through unchanged and may not collide with the vote columns or
    the member transforms' computed names — the shared transforms
    raise named ValueErrors at build time (rename upstream)."""
    from level2_to_cassandra_spark.queries.traindata import quality_votes

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            bid = int(batch_id)
            cols = list(batch_df.columns)
            flags = quality_votes(
                batch_df, keep=tuple(c for c in cols if c != "doc_id")
            )
            inner(
                flags.where(F.col("votes") >= int(min_votes))
                .select(*cols),
                batch_id,
            )
            rejects = flags.where(
                F.col("votes") < int(min_votes)
            ).select(
                F.lit(bid).cast("long").alias("batch_id"),
                F.col("doc_id").cast("long").alias("doc_id"),
                "pass_gopher", "pass_classifier", "pass_repetition",
                "votes",
            )
            rejects.coalesce(1).write.mode("append").parquet(
                f"{vote_gate_path(base_path)}/rejects"
            )
        finally:
            batch_df.unpersist()

    return _write


def read_vote_rejects(spark, base_path: str) -> DataFrame:
    """Read the vote-gate reject audit table (empty before the first
    delivered batch); replayed batches collapse on (batch_id, doc_id)
    — the gate is stateless, so rows are deterministic
    re-derivations."""
    return _read_journal(
        spark, f"{vote_gate_path(base_path)}/rejects", VOTE_GATE_SCHEMA
    ).dropDuplicates(["batch_id", "doc_id"])


#: mixture-journal schema: one cell per (batch, source) — the
#: batch_id keys replay dedup in the reader
MIXTURE_SCHEMA = "batch_id long, source string, n_docs long"


def mixture_path(base: str) -> str:
    """Beside the sink, underscore-prefixed — the monitor-table
    discipline."""
    return f"{base}/_mixture"


def foreach_batch_with_mixture(
    inner: Callable[[DataFrame, int], None],
    base_path: str,
) -> Callable[[DataFrame, int], None]:
    """Wrap a foreachBatch sink callback with the REALIZED-MIXTURE
    monitor — the observability end of the mixture-planning chain
    (q_mixture_plan → q_mix_temperature → q_mix_interleave planned
    it; this watches whether the stream that actually lands FOLLOWS
    it): each micro-batch passes to the wrapped sink UNCHANGED, and
    one (source → count) cell row per source is journaled keyed by
    batch_id.  The journal is the whole state: read_mixture folds it
    into cumulative per-source counts and serves both the realized
    share and the √n-damped target recomputed through the SAME
    shared transform the batch query serves from
    (queries/traindata.py::mix_weights) — so a drifting source mix
    (a crawler stalled, one feed flooding) is visible per batch
    without ever rescanning the sink.

    Replay determinism: the cell aggregate is a pure function of the
    batch, rows are keyed by batch_id, and the reader dedups on
    (batch_id, source) — the journal-keyed-by-batch_id pattern (the
    covariance/shingle-df discipline).  Cost per batch: ONE
    map-side-combined #sources-row aggregate of the already-persisted
    batch; zero Python, zero state, zero extra scans of history."""

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            bid = int(batch_id)
            inner(batch_df, batch_id)
            cells = batch_df.groupBy("source").agg(
                F.count(F.lit(1)).cast("long").alias("n_docs")
            ).select(
                F.lit(bid).cast("long").alias("batch_id"),
                "source",
                "n_docs",
            )
            cells.coalesce(1).write.mode("append").parquet(
                f"{mixture_path(base_path)}/cells"
            )
        finally:
            batch_df.unpersist()

    return _write


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
            spark, f"{mixture_path(base_path)}/cells", MIXTURE_SCHEMA
        )
        .dropDuplicates(["batch_id", "source"])
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


def classifier_gate_path(base: str) -> str:
    """Beside the sink, underscore-prefixed — the monitor-table
    discipline.  ``/rejects`` holds the per-doc reject audit rows."""
    return f"{base}/_classifier_gate"


def foreach_batch_with_classifier_gate(
    inner: Callable[[DataFrame, int], None],
    base_path: str,
    threshold_bin: int = 5,
) -> Callable[[DataFrame, int], None]:
    """Wrap a foreachBatch sink callback with the CLASSIFIER-SCORE
    ADMIT GATE — the missing member of the calibrate → threshold →
    gate chain (VERDICT r15 gap #4) and the model-based filter every
    production curation stack runs at ingest: each micro-batch of
    documents is scored with the SAME shared scoring/binning transform
    the batch calibration/threshold queries serve from
    (queries/traindata.py::_calib_lab — weights, token hashing, raw
    unrounded score and bin cut shared verbatim, so gate and sweep
    agree bit-for-bit by construction and by parity test), then split
    at a SWEPT threshold:

    * ``threshold_bin`` is a score-bin index on q_classifier_threshold's
      sweep spine (predict positive at t ⇔ bin ≥ t — the exact rule the
      sweep prices, so the operator reads the sweep's P/R/F1 row for t
      and deploys that t here, knowing the gate reproduces the row);
      the default 5 is the score ≥ 0 ⇔ p ≥ 0.5 cut;
    * docs with bin ≥ threshold_bin flow to the wrapped sink UNCHANGED
      (original columns);
    * rejects are journaled with their raw score, p and bin — the
      decision inputs, auditable and re-sweepable without re-scoring.

    A NULL-text doc scores a NULL bin and the admit condition is NULL
    → ``otherwise(0)`` rejects it (journaled with NULL score), so the
    two legs PARTITION the batch: nothing drops, nothing lands twice.

    The gate is STATELESS (pure per-row expressions — no store, no
    history), so replay determinism is free: a replayed batch
    re-derives identical legs and readers dedup the reject journal on
    (batch_id, doc_id).  Cost per batch: map-side expression work
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

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            bid = int(batch_id)
            cols = list(batch_df.columns)
            # the gate's own split column is reserved too (review r16,
            # 2nd pass: _calib_lab's guard covers only ITS computed
            # names — a payload '__admit' would be silently overwritten
            # and delivered corrupted)
            clash = {c for c in cols if c.lower() == "__admit"}
            if clash:
                raise ValueError(
                    "classifier gate reserved column collides with "
                    f"batch payload columns: {sorted(clash)} — rename "
                    "them upstream"
                )
            scored = _calib_lab(batch_df, keep=tuple(cols))
            admit = F.when(
                F.col("bin") >= F.lit(int(threshold_bin)), 1
            ).otherwise(0)
            scored = scored.withColumn("__admit", admit)
            inner(scored.where(F.col("__admit") == 1).select(*cols),
                  batch_id)
            rejects = scored.where(F.col("__admit") == 0).select(
                F.lit(bid).cast("long").alias("batch_id"),
                F.col("doc_id").cast("long").alias("doc_id"),
                "bin", "score", "p",
            )
            rejects.coalesce(1).write.mode("append").parquet(
                f"{classifier_gate_path(base_path)}/rejects"
            )
        finally:
            batch_df.unpersist()

    return _write


def read_classifier_rejects(spark, base_path: str) -> DataFrame:
    """Read the classifier-gate reject audit table (empty before the
    first delivered batch); replayed batches collapse on (batch_id,
    doc_id) — the gate is stateless, so rows are deterministic
    re-derivations."""
    return _read_journal(
        spark, f"{classifier_gate_path(base_path)}/rejects",
        CLASSIFIER_GATE_SCHEMA,
    ).dropDuplicates(["batch_id", "doc_id"])


#: reject-journal schema: the duplicate doc, its canonical URL, and
#: the batch attribution (replay dedup key component)
URL_DEDUP_SCHEMA = "batch_id long, doc_id long, canonical_url string"


def url_dedup_path(base: str) -> str:
    """Beside the sink, underscore-prefixed — the monitor-table
    discipline.  ``/rejects`` holds the per-doc duplicate audit rows,
    ``/seen`` the append-only first-occurrence canonical-URL store,
    ``/bloom`` the store's Bloom side-file OR-partials (r16)."""
    return f"{base}/_url_dedup"


def foreach_batch_with_url_dedup(
    inner: Callable[[DataFrame, int], None],
    base_path: str,
) -> Callable[[DataFrame, int], None]:
    """Wrap a foreachBatch sink callback with URL-FRONTIER DEDUP at
    admit — the streaming twin of q_dedup_url and the shape of a crawl
    frontier: every document's canonical URL (queries/llm.py::
    canonical_urls — construction and normalizer shared VERBATIM with
    the batch query) is checked against all canonicals seen in earlier
    batches and earlier docs of its own batch; only the first
    occurrence per canonical flows to the wrapped sink (original
    columns), duplicates are journaled with their canonical for audit.

    REPLAY DETERMINISM follows foreach_batch_with_line_dedup exactly:
    the probe anti-joins the seen store FILTERED TO STRICTLY EARLIER
    BATCHES (``batch_id < bid``), within-batch first occurrence is the
    minimum doc_id (the batch query's rule), and the store append runs
    LAST so a replay re-derives identical legs.  When batches
    partition the corpus in doc_id order the admitted set equals
    q_dedup_url's is_canonical=1 set exactly (parity-pinned by test).

    Cost per batch: map-side canonicalization fused into the batch
    scan, one BLOOM-BOUNDED anti-join against the seen store keyed by
    canonical URL (r16, operators/bloom.py design note: only
    maybe-seen canonicals probe the exact store — the join input is
    ~|batch ∩ store| + ε·|batch|; misses are definitely fresh; the
    batch's Bloom partial writes BEFORE its store append so
    bloom ⊇ store under every crash point), one window over batch
    canonicals, three appends.  The store gains one row per
    NEWLY-SEEN canonical only
    (the admitted leaders' keys — review r15: appending every batch's
    full canonical set would grow the store with batch count even at
    zero new URLs, and recurring keys are the dominant case for a
    crawl frontier); a NULL canonical (NULL payload fields propagate
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
    from level2_to_cassandra_spark.operators import bloom as bloom_ops
    from level2_to_cassandra_spark.queries.llm import canonical_urls

    cache = bloom_ops.BloomCache()

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        canon = fresh = None
        try:
            bid = int(batch_id)
            # persisted: feeds the probe/leader derivation and the
            # reject anti-join (two derivations, three actions)
            canon = canonical_urls(batch_df).select(
                "doc_id", "canonical_url",
                F.coalesce("canonical_url", F.lit("")).alias("__ck"),
            ).persist()
            seen = (
                _read_journal(
                    batch_df.sparkSession,
                    f"{url_dedup_path(base_path)}/seen",
                    "canonical_url string, batch_id long",
                )
                .where(F.col("batch_id") < bid)
                .select(F.col("canonical_url").alias("__ck"))
                .distinct()
            )
            # Bloom pre-filter (r16, operators/bloom.py design note):
            # only maybe-seen canonicals pay the exact store anti-join;
            # empty filter (batch 0 / pre-side-file store / lost or
            # resized journal) -> exact full-batch probe.  Folds once
            # per stream (BloomCache); geometry-versioned subdir.
            cache.ensure(_read_journal(
                batch_df.sparkSession,
                f"{url_dedup_path(base_path)}/bloom/"
                f"{bloom_ops.journal_subdir()}",
                bloom_ops.BLOOM_SCHEMA,
            ))
            unseen = bloom_ops.probe_unseen(cache, canon, "__ck", seen)
            # one row per NEWLY-SEEN canonical: its minimum-doc_id
            # leader (the batch query's rule) — feeds the admit join,
            # the reject anti-join and the store append
            w = Window.partitionBy("__ck")
            fresh = (
                unseen
                .withColumn("__lead", F.min("doc_id").over(w))
                .where(F.col("__lead") == F.col("doc_id"))
                .select("doc_id", "__ck")
                .persist()
            )
            inner(batch_df.join(fresh.select("doc_id"), "doc_id"),
                  batch_id)
            rejects = canon.join(
                fresh.select("doc_id"), "doc_id", "left_anti"
            ).select(
                F.lit(bid).cast("long").alias("batch_id"),
                F.col("doc_id").cast("long").alias("doc_id"),
                "canonical_url",
            )
            rejects.coalesce(1).write.mode("append").parquet(
                f"{url_dedup_path(base_path)}/rejects"
            )
            # Bloom partial BEFORE the store append (bloom ⊇ store
            # under every crash point) + the one-time whole-store
            # migration backfill — operators/bloom.py::append_partial
            bloom_ops.append_partial(
                cache,
                f"{url_dedup_path(base_path)}/bloom/"
                f"{bloom_ops.journal_subdir()}",
                fresh.select("__ck"),
                "__ck",
                _read_journal(
                    batch_df.sparkSession,
                    f"{url_dedup_path(base_path)}/seen",
                    "canonical_url string, batch_id long",
                ).select("canonical_url"),
                bid,
            )
            # store append LAST: a crash before this line re-derives
            # the replay identically (its own rows are batch_id-
            # filtered out of the probe either way)
            fresh.select(
                F.col("__ck").alias("canonical_url"),
                F.lit(bid).cast("long").alias("batch_id"),
            ).write.mode("append").parquet(
                f"{url_dedup_path(base_path)}/seen"
            )
        finally:
            if fresh is not None:
                fresh.unpersist()
            if canon is not None:
                canon.unpersist()
            batch_df.unpersist()

    return _write


def read_url_rejects(spark, base_path: str) -> DataFrame:
    """Read the URL-dedup duplicate audit table (empty before the
    first delivered batch); replayed batches collapse on (batch_id,
    doc_id) — the rows are deterministic re-derivations."""
    return _read_journal(
        spark, f"{url_dedup_path(base_path)}/rejects", URL_DEDUP_SCHEMA
    ).dropDuplicates(["batch_id", "doc_id"])


#: stored minutely grid-partial schema — operators/rollup.py's partial
#: format plus the batch_id attribution (replay dedup key component)
GRID_PARTIALS_SCHEMA = (
    "minute timestamp, key string, bin long, pn long, "
    "vmin double, vmax double, batch_id long"
)


def grid_rollup_path(base: str) -> str:
    """Beside the sink, underscore-prefixed — the monitor-table
    discipline.  ``/partials`` holds the append-only minutely grid
    partials journal."""
    return f"{base}/_grid_rollup"


def foreach_batch_with_grid_rollup(
    inner: Callable[[DataFrame, int], None],
    base_path: str,
    ts_col: str = "ts",
    key_col: str = "event_type",
    value_col: str = "value",
) -> Callable[[DataFrame, int], None]:
    """Wrap a foreachBatch sink callback with CONTINUOUS-AGGREGATE
    MAINTENANCE of the mergeable quantile layer — the streaming twin
    of q_rollup_quantile's stored level: every micro-batch appends its
    minutely fixed-grid histogram partials (operators/rollup.py — the
    SAME grid the batch query stores) to a journal beside the sink,
    and :func:`grid_rollup_bounds` serves hour/day/any-grain quantile
    BOUNDS from the journal alone, never re-scanning raw rows.  This
    is the TimescaleDB continuous-aggregate pattern priced per
    micro-batch: at 100 TB/day the raw stream is written once and
    every dashboard grain re-derives from the grid-sized partials.

    MERGEABILITY is what makes the journal correct under ANY batching:
    counts merge by sum and extremes by min/max, so partial rows from
    different batches covering the same (minute, key, bin) cell fold
    to exactly the one-shot batch aggregate — the parity test splits
    the fixture on a NON-time-aligned key and still matches
    q_rollup_quantile's bounds bit-for-bit.  REPLAY: partial rows are
    deterministic per batch and keyed by batch_id, so the reader's
    dropDuplicates on the full (batch_id, minute, key, bin) key
    collapses a replayed batch's second append (at-least-once journal
    over idempotent rows — the covariance-journal discipline).

    Cost per batch: ONE map-side-combined aggregate over the batch
    (the q_rollup_quantile level-1 exchange, batch-bounded) + one
    append."""
    from level2_to_cassandra_spark.operators import rollup as rollup_ops

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            inner(batch_df, batch_id)
            parts = rollup_ops.minute_grid_partials(
                batch_df, ts_col=ts_col, key_col=key_col,
                value_col=value_col,
            ).select(
                "minute",
                F.col("key").cast("string").alias("key"),
                "bin",
                "pn",
                # cast to the pinned journal schema like the key above
                # (self-review r15: an int/float/decimal value_col would
                # otherwise write a journal the fixed double reader
                # schema can never read back)
                F.col("vmin").cast("double").alias("vmin"),
                F.col("vmax").cast("double").alias("vmax"),
                F.lit(int(batch_id)).cast("long").alias("batch_id"),
            )
            parts.coalesce(1).write.mode("append").parquet(
                f"{grid_rollup_path(base_path)}/partials"
            )
        finally:
            batch_df.unpersist()

    return _write


def read_grid_partials(spark, base_path: str) -> DataFrame:
    """The folded minutely grid-partial relation (minute, key, bin,
    pn, vmin, vmax): replayed batches collapse on the full journal key
    (their rows are deterministic re-derivations), then partial rows
    from DIFFERENT batches covering the same cell merge by sum/min/max
    — the mergeability that makes the journal grain-serving."""
    raw = _read_journal(
        spark, f"{grid_rollup_path(base_path)}/partials",
        GRID_PARTIALS_SCHEMA,
    ).dropDuplicates(["batch_id", "minute", "key", "bin"])
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
