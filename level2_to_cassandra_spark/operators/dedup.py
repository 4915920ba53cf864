"""Deduplication operators.

``latest_by_key`` is the batch semantic of the reference sink's keyed
upsert (Cassandra ``PRIMARY KEY (symbol, time, price)`` last-write-wins,
reference main.rs:87,145): deterministic "keep newest row per key" —
unlike ``dropDuplicates`` which keeps an *arbitrary* row.

``exact_dedup`` / ``content_hash`` cover exact content dedup for
training-data pipelines; near-dup (MinHash/SimHash/Jaccard) lives in
this module too.  All operators are single-shuffle: one hash exchange on
the dedup key, no driver collection — the shape that survives 100 TB.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def latest_by_key(df: DataFrame, keys: Sequence[str],
                  order: Sequence[Column]) -> DataFrame:
    """Keep exactly one row per ``keys`` — the first under ``order``.

    Pass e.g. ``order=[F.desc("ts")]`` for last-write-wins.  Include a
    unique tiebreaker in ``order`` for full determinism.  Plan: one
    shuffle on ``keys`` + in-partition sort + filter (row_number()==1);
    AQE handles skewed keys.
    """
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def content_hash(col: Column | str, bits: int = 256) -> Column:
    """Stable content hash for exact dedup: sha2 (collision-safe at any
    corpus size) — use xxhash64 only for non-adversarial bucketing."""
    return F.sha2(F.col(col) if isinstance(col, str) else col, bits)


def exact_dedup(df: DataFrame, text_col: str = "text",
                tiebreak: Sequence[Column] | None = None) -> DataFrame:
    """Exact-content dedup: group rows by sha2(text), keep the first
    row under ``tiebreak`` (default: ascending natural order of all
    remaining columns is NOT assumed — caller supplies determinism)."""
    order = list(tiebreak) if tiebreak else [F.asc(text_col)]
    return latest_by_key(
        df.withColumn("__h", content_hash(text_col)), ["__h"], order
    ).drop("__h")


def connected_components(edges: DataFrame, src: str = "id_a",
                         dst: str = "id_b",
                         max_iter: int = 20) -> DataFrame:
    """Connected components of an undirected pair graph by iterative
    min-label propagation: every node's label converges to the minimum
    node id reachable from it.  Output: ``(node, label)`` for every
    node appearing in ``edges`` — ``label`` is the component's
    canonical (minimum) id.

    This is the step that turns near-duplicate PAIRS into dedup
    DECISIONS: duplicate relations are not transitive-closed by the
    pair join (A~B, B~C but A≁C), so a pipeline that drops "the second
    doc of every pair" over-deletes; grouping pairs into components and
    keeping one canonical doc per component is the standard semantic
    (the reference has no analog — pairs come from
    :mod:`operators.minhash`).

    Scale shape: each iteration is two equi-joins over NARROW 2-column
    relations — (1) one-hop min propagation along edges, (2) a pointer
    jump ``label ← label(label)`` (valid because labels are
    monotonically non-increasing node ids of the same component, so
    ``label(label)`` always exists and never increases) — giving
    O(log diameter) convergence instead of O(diameter).  All shuffles
    are on node ids, never on document content.  The per-iteration
    convergence probe is a ``limit(1).count()`` on CHANGED labels — a
    driver action per *iteration* (bounded by ``max_iter``), never per
    row.  Each iteration's result is ``localCheckpoint``ed: an eager
    materialization that TRUNCATES lineage — without it the logical
    plan nests the whole previous iteration several times over and the
    driver dies planning a 2^iterations-node tree long before any
    executor runs.  At cluster scale use a reliable ``checkpoint``
    (checkpoint dir) instead so the truncated lineage also survives
    executor loss.
    """
    sym = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .unionByName(
            edges.select(F.col(dst).alias("s"), F.col(src).alias("d"))
        )
        .persist()
    )
    labels = (
        sym.select(F.col("s").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        prop = (
            sym.join(labels, sym["s"] == labels["node"])
            .select(F.col("d").alias("node"), F.col("label"))
        )
        stepped = (
            labels.unionByName(prop)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
        )
        new_labels = (
            stepped.join(
                stepped.select(
                    F.col("node").alias("label"), F.col("label").alias("__l2")
                ),
                "label",
            )
            .select("node", F.col("__l2").alias("label"))
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .where(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    sym.unpersist()
    return labels


def _first_content(batch: DataFrame, store_path: str, text_col: str,
                   id_col: str, bid: int):
    """The exact leg of both admit steps: the first-of-content rows of
    ``batch`` (lowest ``id_col`` per sha2(text)) whose hash no strictly
    earlier batch stored at ``store_path`` (monitor.py::_first_seen).
    Returns ``(first, seal)``; ``seal(admitted)`` is the store append
    of the admitted rows' hashes.  NULL-text rows are dropped: sha2(NULL)
    is NULL and can never anti-match."""
    from level2_to_cassandra_spark.streaming.monitor import _first_seen

    leaders, seal = _first_seen(
        store_path,
        batch.where(F.col(text_col).isNotNull())
        .withColumn("__h", content_hash(text_col)),
        "__h", F.col(id_col), bid,
    )
    return leaders.drop("__lead", "__h"), lambda admitted: seal(
        admitted.withColumn("__h", content_hash(text_col))
    )


def incremental_dedup_step(store_path: str, text_col: str = "text",
                           id_col: str = "doc_id"):
    """Gate-chain step (streaming/monitor.py::gate_chain) for STREAMING
    incremental corpus dedup — the micro-batch twin of
    q_dedup_incremental (queries/llm.py), which verifies the same admit
    rule against DuckDB in batch form.  Per micro-batch: keep the
    first-of-content row (lowest ``id_col`` per sha2(text)) and LEFT
    ANTI join it against the hash store at ``store_path``; the
    survivors are admitted, and after the sink write their hashes are
    appended to the store under the batch_id.  The probe reads only
    the hashes of strictly earlier batches, so a replayed batch
    (foreachBatch is at-least-once) re-derives the same admission
    wherever the crash fell, and the step may sit anywhere in a chain;
    duplicate admitted rows are reconciled by the same content-hash
    dedup downstream.

    Admit rule across the stream: a document is admitted iff its
    content has never been seen in any earlier micro-batch, and it has
    the lowest id among same-content rows of its own batch —
    first-arrival-batch wins, exactly the sequential generalization of
    the batch query's new-vs-seen split.

    Scale shape per batch: one shuffle on the 256-bit content hash
    (fixed-width key) + an anti join against the store, which in
    production is bucketed by hash so the corpus side never
    re-shuffles; the store grows by admitted hashes only.  NULL-text
    rows are dropped (same reasoning as the batch twin)."""

    def step(batch, bid, persist):
        admitted, seal = _first_content(batch, store_path, text_col,
                                        id_col, bid)
        return admitted, [seal(admitted)]

    return step


def seed_multimodal_store(assets: DataFrame, store_path: str,
                          text_col: str = "text", id_col: str = "doc_id",
                          vec_col: str = "embedding",
                          n_planes: int = 6, n_tables: int = 8,
                          dim: int = 64) -> None:
    """Bootstrap the multimodal admit store from an already-ingested
    corpus: ``{store}/hashes`` (distinct content hashes — the exact
    leg's anti-join side), ``{store}/buckets`` (every seen vector's
    sign-LSH (table, bucket) rows — the near-dup probe index) and
    ``{store}/vecs`` (id → vector, for the exact cosine re-rank).
    ALL seen rows seed the bucket/vector legs — duplicate-content
    history is still history, and the batch spec's embedding leg scans
    the UNFILTERED embeddings table, so a NULL-text asset's vector
    must still reject near-dups (only the HASH leg drops NULL text:
    sha2(NULL) can never anti-match, mirroring the batch spec's
    ``d.text IS NOT NULL`` on the documents side alone).  Seeded rows
    carry no batch_id, so every batch's probe sees them
    (monitor.py::_earlier).  At production scale each of these is a
    bucketed staging table; here they are the parquet twins."""
    from level2_to_cassandra_spark.operators import similarity

    assets.where(F.col(text_col).isNotNull()).select(
        content_hash(text_col).alias("__h")
    ).distinct().write.mode("overwrite").parquet(f"{store_path}/hashes")
    similarity.lsh_buckets_np(
        assets, id_col, vec_col, n_planes, n_tables, dim=dim,
        scheme="rademacher",
    ).select("table", "bucket", F.col(id_col).alias("__sid")).write.mode(
        "overwrite"
    ).parquet(f"{store_path}/buckets")
    assets.select(
        F.col(id_col).alias("__sid"), F.col(vec_col).alias("__sv")
    ).write.mode("overwrite").parquet(f"{store_path}/vecs")


def multimodal_admit_step(store_path: str, text_col: str = "text",
                          id_col: str = "doc_id",
                          vec_col: str = "embedding",
                          n_planes: int = 6, n_tables: int = 8,
                          dim: int = 64, threshold: float = 0.35):
    """Gate-chain step (streaming/monitor.py::gate_chain) for STREAMING
    cross-modal incremental admit — the micro-batch twin of
    q_dedup_incremental_multimodal (queries/llm.py), which
    hash-verifies the same admit rule against DuckDB in batch form.
    Per micro-batch of (id, text, vector) assets:

    * EXACT leg — keep the first-of-content row (lowest id per
      sha2(text)), LEFT ANTI against ``{store}/hashes``;
    * EMBEDDING leg — sign-LSH bucketize the exact survivors (ONE
      Arrow matmul pass, the same Rademacher planes as
      q_llm_dedup_embed), equi-join ``{store}/buckets`` on
      (table, bucket), re-rank candidates with the exact rounded
      cosine against ``{store}/vecs``, and reject survivors with any
      seen neighbor at cos ≥ ``threshold``;
    * after the sink write, append the admitted assets' bucket, vector
      and hash rows under the batch_id.  Every store probe reads only
      rows of strictly earlier batches (monitor.py::_earlier), so a
      replay after a crash anywhere among the appends re-derives the
      same admission and rewrites the same rows (duplicate admitted
      rows are reconciled by content-hash downstream; duplicate store
      rows are harmless — the probes are set-semantics).

    Admitted batches GROW the store, so a later micro-batch's
    near-dup of an earlier admitted doc is rejected — first-arrival
    wins across the stream, the sequential generalization of the batch
    query's new-vs-seen split.

    Scale shape per batch: one content-hash shuffle + anti join (store
    side bucketed by hash in production), one map-side bucketize pass,
    and a candidate join bounded by batch × bucket occupancy — the
    batch never joins the corpus, only its bucket collisions."""
    from level2_to_cassandra_spark.operators import similarity
    from level2_to_cassandra_spark.streaming.monitor import (
        _append,
        _bid,
        _earlier,
    )

    def step(batch, bid, persist):
        spark = batch.sparkSession

        def vecs(df):
            return df.select(F.col(id_col).alias("__sid"),
                             F.col(vec_col).alias("__sv"), _bid(bid))

        def earlier(rows, name):
            return _earlier(spark, f"{store_path}/{name}", rows.schema,
                            bid).drop("batch_id")

        first, seal = _first_content(batch, f"{store_path}/hashes",
                                     text_col, id_col, bid)
        # the survivors feed the bucketize pass, the candidate probe
        # AND the admitted frame — one cache, trigger-bounded.  The
        # bucket rows are ALSO persisted: the store append reuses them
        # (semi-joined down to the admitted ids) instead of paying the
        # Arrow matmul kernel a second time per micro-batch.
        first = persist(first)
        bkts = persist(similarity.lsh_buckets_np(
            first, id_col, vec_col, n_planes, n_tables, dim=dim,
            scheme="rademacher",
        ).select("table", "bucket", F.col(id_col).alias("__sid"),
                 _bid(bid)))
        cand = (
            bkts.select("table", "bucket", F.col("__sid").alias("__nid"))
            .join(earlier(bkts, "buckets"), ["table", "bucket"])
            .select("__nid", "__sid")
            .distinct()
        )
        nv = similarity.as_double(F.col(vec_col))
        sv = similarity.as_double(F.col("__sv"))
        pairs = (
            cand.join(
                first.select(F.col(id_col).alias("__nid"), F.col(vec_col)),
                "__nid",
            )
            .join(earlier(vecs(first), "vecs"), "__sid")
            .select(
                "__nid",
                (
                    similarity.dot(nv, sv)
                    / (similarity.l2_norm(nv) * similarity.l2_norm(sv))
                ).alias("__cos"),
            )
        )
        rejected = (
            pairs.where(F.round(F.col("__cos"), 4) >= threshold)
            .select(F.col("__nid").alias(id_col))
            .distinct()
        )
        admitted = first.join(rejected, id_col, "left_anti")
        # the probe pass's bucket rows, cut to the admitted ids —
        # identical rows to re-bucketizing `admitted`, for zero extra
        # kernel passes
        new_bkts = bkts.join(
            admitted.select(F.col(id_col).alias("__sid")), "__sid",
            "left_semi",
        ).select("table", "bucket", "__sid", "batch_id")
        return admitted, [
            _append(new_bkts, f"{store_path}/buckets", one_file=False),
            _append(vecs(admitted), f"{store_path}/vecs", one_file=False),
            seal(admitted),
        ]

    return step
