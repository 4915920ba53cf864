"""Similarity search over embedding columns (SURVEY.md §2 B11).

All kernels are JVM higher-order functions (`zip_with`/`aggregate`) —
codegen'd, Arrow-free, no Python per row.  Two search strategies:

* :func:`brute_topk` — exact cosine top-k: broadcast the (small) query
  set against the corpus; one pass over the corpus per batch of
  queries, a ranking window for the top-k cut.  At 100 TB this is the
  baseline that always works: corpus stays partitioned, queries
  broadcast, no corpus×corpus blow-up.
* :func:`lsh_bucketize` — random-hyperplane (sign) LSH: deterministic
  hash-derived planes → n-bit bucket signature.  Candidate pairs only
  form within a bucket (equi-join on the signature — a plain hash
  shuffle), then exact cosine re-ranks.  This is the corpus×corpus
  scale path: candidates ∝ bucket sizes, not N².
* :func:`ivf_topk` — IVF (inverted-file) ANN: a deterministic coarse
  quantizer (hash-seeded spherical k-means, one Lloyd step) partitions
  the corpus into cells; each query probes only its ``nprobe`` nearest
  cells and exact cosine re-ranks the survivors.  The query-side scale
  path: per query the scan shrinks from N to ~nprobe·N/n_cells, and at
  cluster scale the corpus is written bucketed by cell so a probe is a
  broadcast join against pre-localized buckets — no corpus shuffle per
  query batch.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ — sequential left fold, so results are deterministic."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two (float) array columns, in double."""
    da, db = as_double(a), as_double(b)
    return dot(da, db) / (l2_norm(da) * l2_norm(db))


#: Broadcast-sane ceiling on the query side of brute_topk.  At ~1 KiB
#: per embedding row, 100k rows ≈ 100 MiB — the upper edge of what a
#: broadcast should carry.  Above it the right plan is NOT one giant
#: broadcast: chunk the queries (filter on a query-id range or hash
#: bucket), brute_topk each chunk, union the results — or switch to
#: the ANN family, which is the scale path for big query sets.
MAX_BROADCAST_QUERIES = 100_000


def brute_topk(corpus: DataFrame, queries: DataFrame, k: int,
               id_col: str = "vec_id", vec_col: str = "embedding",
               round_cos: int | None = None) -> DataFrame:
    """Exact top-k cosine neighbors per query vector.

    ``queries`` is broadcast (must be driver-bounded — a batch of query
    vectors, not a second corpus; :data:`MAX_BROADCAST_QUERIES`
    fail-fast guard, the brute-force twin of the ADC family's
    MAX_QUERY_BATCH); self-matches are excluded.  Output:
    (query_id, neighbor_id, cos, rank).

    ``round_cos`` rounds the cosine to that many decimals BEFORE the
    ranking window, making the top-k cut engine-invariant (float
    last-ulp differences can't flip a boundary pair) — callers that
    compare against another engine should rank on the rounded value
    rather than over-fetching and re-ranking.
    """
    # limit(cap+1) bounds the guard's own scan; the count is one cheap
    # action vs the crossJoin it protects
    n_q = queries.limit(MAX_BROADCAST_QUERIES + 1).count()
    if n_q > MAX_BROADCAST_QUERIES:
        raise ValueError(
            f"brute_topk queries side exceeds MAX_BROADCAST_QUERIES="
            f"{MAX_BROADCAST_QUERIES} rows — this is a second corpus, "
            "not a query batch; chunk the queries and union, or use "
            "the ANN operators (ann_topk/ivf_topk/ivfpq_topk)"
        )
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
        )
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv")
    )
    cos = cosine(F.col("__qv"), F.col("__cv"))
    if round_cos is not None:
        cos = F.round(cos, round_cos)
    scored = (
        c.crossJoin(q)
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", cos.alias("cos"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def _plane_component(table: int, plane: int, i: Column) -> Column:
    """Deterministic pseudo-random hyperplane component in [-0.5, 0.5):
    derived from xxhash64(table, plane, i) — reproducible across
    runs/executors with no RNG state to ship."""
    h = F.xxhash64(F.lit(table), F.lit(plane), i)
    return (F.pmod(h, F.lit(10_000)).cast("double") / 10_000.0) - 0.5


def _rademacher_component(table: int, plane: int, d: int) -> float:
    """±1 plane weight from an LCG→xorshift→LCG→xorshift chain —
    ENGINE-PORTABLE: only 64-bit-safe integer multiply/add/mod/xor/
    shift, so Python, Spark SQL and DuckDB derive bit-identical planes
    from (table, plane, d) alone.  Rademacher (±1) entries are a
    standard random-hyperplane family (sign-LSH needs only symmetric
    zero-mean weights); the portability is what lets a DuckDB oracle
    replicate the FULL candidate generation instead of settling for a
    rows-only check.

    Why the xorshift steps are load-bearing: an LCG (any number of
    rounds, any seed packing) is AFFINE, so two planes whose packed
    seeds differ by a constant Δ produce states differing by the
    constant M·Δ — whenever that constant's low bits vanish, whole
    planes become exact copies/complements of each other (measured:
    2-bucket tables and a near-cartesian candidate join under a
    power-of-two packing; 13 degenerate plane pairs under a two-round
    pure LCG).  ``x ^= x >> k`` is non-affine and breaks the
    structure: across 128 planes the worst pairwise agreement is 0.72
    and no identical/complement pairs remain.  All intermediates stay
    < 2³¹, products < 2⁶² — no overflow on any engine.  The SQL twin
    is generated from this same chain in queries/llm.py
    (``_rademacher_weight_sql``)."""
    if d >= 65536 or plane >= 256 or table >= 256:
        raise ValueError("rademacher packing bounds: d<65536, p<256, t<256")
    x = (1103515245 * (table * 1000003 + plane * 7919 + d) + 12345) \
        % 2147483648
    x = x ^ (x >> 13)
    x = (1103515245 * x + 12345) % 2147483648
    x = x ^ (x >> 7)
    return 1.0 if (x >> 16) % 2 == 0 else -1.0


#: (n_tables, n_planes, dim[, scheme]) → {(table, plane): [w₀…w_dim)}.
#: The plane weights are pure functions of (table, plane, i);
#: materializing them once (a dim-row JVM job at first use for the
#: 'hash' scheme, cached for the session) and embedding them as array
#: literals removes n_tables·n_planes·dim interpreted
#: xxhash64+pmod+cast evaluations from EVERY corpus row — measured
#: 4 s → 0.3 s for the sf0.1 bucketize alone.  Values are
#: bit-identical to the inline derivation (same hash, same arithmetic,
#: evaluated JVM-side with the index cast to the lambda's int type).
_PLANE_CACHE: dict[tuple, dict[tuple[int, int], list[float]]] = {}


def _plane_literals(spark, n_tables: int, n_planes: int,
                    dim: int, scheme: str = "hash",
                    ) -> dict[tuple[int, int], list[float]]:
    if scheme == "rademacher":
        key = (n_tables, n_planes, dim, "rademacher")
        if key not in _PLANE_CACHE:
            _PLANE_CACHE[key] = {
                (t, p): [
                    _rademacher_component(t, p, d) for d in range(dim)
                ]
                for t in range(n_tables)
                for p in range(n_planes)
            }
        return _PLANE_CACHE[key]
    key = (n_tables, n_planes, dim)
    if key not in _PLANE_CACHE:
        i = F.col("id").cast("int")  # transform's index type
        rows = (
            spark.range(dim)
            .select(
                "id",
                *[
                    _plane_component(t, p, i).alias(f"w_{t}_{p}")
                    for t in range(n_tables)
                    for p in range(n_planes)
                ],
            )
            .orderBy("id")
            .collect()
        )
        _PLANE_CACHE[key] = {
            (t, p): [r[f"w_{t}_{p}"] for r in rows]
            for t in range(n_tables)
            for p in range(n_planes)
        }
    return _PLANE_CACHE[key]


def lsh_signatures(df: DataFrame, n_planes: int = 4, n_tables: int = 8,
                   vec_col: str = "embedding",
                   dim: int | None = None,
                   scheme: str = "hash") -> DataFrame:
    """Append ``sigs``: an ``n_tables``-long array of sign-LSH bucket
    ids (one ``n_planes``-bit bucket per table).  A pair at angle θ
    collides in one table with p = (1−θ/π)^n_planes; across L
    independent tables the capture probability is 1−(1−p)^L — n_planes
    trades candidate volume (bucket granularity) against per-table
    recall, n_tables buys recall linearly in work.

    ``dim`` skips the one-row dimensionality probe when the caller
    knows the embedding width (it is a fixed schema property at
    ingest time; the probe reads a single row otherwise).
    """
    if dim is None:
        dim = df.select(F.size(F.col(vec_col))).first()[0]
    planes = _plane_literals(df.sparkSession, n_tables, n_planes, dim, scheme)
    v = F.col(vec_col)  # float×double multiplies cast per element — no
    # separate as_double pass (CollapseProject would inline it per use)
    sigs = []
    for t in range(n_tables):
        bucket = F.lit(0).cast("long")
        for p in range(n_planes):
            w = F.array(*[F.lit(x) for x in planes[(t, p)]])
            proj = F.aggregate(
                F.zip_with(v, w, lambda x, wx: x * wx),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            bucket = bucket + F.when(proj >= 0, F.lit(1 << p)).otherwise(F.lit(0))
        sigs.append(bucket)
    return df.withColumn("sigs", F.array(*sigs))


def lsh_bucketize(df: DataFrame, n_planes: int = 4, n_tables: int = 8,
                  vec_col: str = "embedding",
                  dim: int | None = None,
                  scheme: str = "hash") -> DataFrame:
    """Append multi-table sign-LSH buckets: one (table, bucket) row per
    input row per table — the exploded form of :func:`lsh_signatures`."""
    return (
        lsh_signatures(df, n_planes, n_tables, vec_col, dim, scheme)
        .select(*df.columns, F.posexplode("sigs").alias("table", "bucket"))
    )


def lsh_buckets_agg(df: DataFrame, id_col: str = "vec_id",
                    vec_col: str = "embedding",
                    n_planes: int = 4, n_tables: int = 8,
                    dim: int | None = None,
                    scheme: str = "hash") -> DataFrame:
    """(id, table, bucket) rows, bit-identical to :func:`lsh_bucketize`
    but one-pass columnar: posexplode the vector, broadcast-join a
    ``dim``-row plane-weight matrix, and fold all n_tables·n_planes
    projections in a single codegen'd 32-SUM aggregate (map-side
    combine; the shuffle carries n_tables·n_planes doubles per vector).
    The column-expression twin (:func:`lsh_signatures`) evaluates one
    interpreted zip-multiply-fold PER (table, plane) per row — the same
    6× trap the simhash rework closed (operators/text.py::
    simhash_fingerprints); it remains the inline/property-test form.

    Bit-identity argument: a vector's components never leave their map
    partition (explode preserves order; the broadcast join streams the
    probe side), so the hash-agg partial accumulates x·w in component
    order — the exact addition sequence of the column form's left fold
    (0.0 + x₀w₀ ≡ x₀w₀).  Rows the explode cannot emit are restored by
    a left join with the column form's values: NULL and empty vectors
    both get bucket 0 in every table (``zip_with`` pads the short side
    with nulls, so the column form's whole fold nulls out and no bit is
    ever set).  (Vectors CONTAINING null components, or shorter than
    ``dim``, diverge the same way — the column form nulls the fold,
    this form skips the missing component; the fixtures and every
    caller guarantee fixed-width, null-free vectors.)
    """
    from level2_to_cassandra_spark.catalog import spread_scan

    spark = df.sparkSession
    if dim is None:
        dim = df.select(F.size(F.col(vec_col))).first()[0]
    planes = _plane_literals(spark, n_tables, n_planes, dim, scheme)
    tp = [(t, p) for t in range(n_tables) for p in range(n_planes)]
    w = spark.createDataFrame(
        [(i, *[planes[c][i] for c in tp]) for i in range(dim)],
        "__i int" + "".join(f", __w_{t}_{p} double" for t, p in tp),
    )
    comp = spread_scan(df.select(id_col, vec_col)).select(
        id_col, F.posexplode(F.col(vec_col)).alias("__i", "__x")
    )
    projs = comp.join(F.broadcast(w), "__i").groupBy(id_col).agg(
        *[
            F.sum(F.col("__x").cast("double") * F.col(f"__w_{t}_{p}"))
            .alias(f"__p_{t}_{p}")
            for t, p in tp
        ]
    )
    ids = df.select(id_col)
    buckets = []
    for t in range(n_tables):
        b = F.lit(0).cast("long")
        for p in range(n_planes):
            b = b + F.when(
                F.col(f"__p_{t}_{p}") >= 0, F.lit(1 << p)
            ).otherwise(F.lit(0))
        buckets.append(
            F.when(F.col(f"__p_{t}_0").isNull(), F.lit(0).cast("long"))
            .otherwise(b)
        )
    return ids.join(projs, id_col, "left").select(
        id_col, F.posexplode(F.array(*buckets)).alias("table", "bucket")
    )


def lsh_buckets_np(df: DataFrame, id_col: str = "vec_id",
                   vec_col: str = "embedding",
                   n_planes: int = 4, n_tables: int = 8,
                   dim: int | None = None,
                   scheme: str = "hash") -> DataFrame:
    """(id, table, bucket) rows, bit-identical to :func:`lsh_buckets_agg`
    and :func:`lsh_bucketize`, computed as an Arrow-batched numpy matrix
    multiply (``mapInPandas``) — the fast path for the projection step.

    Why a Python kernel here when the engine bans row-Python: a sign-LSH
    signature IS a dense (n × dim)·(dim × tables·planes) matrix product,
    the one shape where vectorized Arrow batches beat JVM expression
    evaluation outright — the 128-accumulator HashAggregate form
    (:func:`lsh_buckets_agg`) pays ~250 ns per (component, plane) update
    (measured 4 s steady-state at sf0.1), the numpy product runs the
    same FLOPs in milliseconds.  Scales as a pure map-side pass: no
    shuffle, parallelism = scan partitions.

    Bit-identity argument (load-bearing: the Rademacher scheme feeds a
    DuckDB oracle that recomputes buckets from scratch): the projection
    accumulates with an explicit sequential loop over components
    (``proj += X[:, d] · W[d]``), i.e. the same left-fold addition
    order as the column form's ``aggregate`` and DuckDB's
    ``list_reduce``; components are cast float32→float64 exactly, plane
    weights are identical Python-float literals on every path, and
    IEEE-754 double ``*``/``+`` are deterministic per (order, operands)
    across numpy and the JVM.  numpy's own pairwise-summing ``sum`` /
    ``@`` would NOT preserve the fold order — that is why the loop.

    Null/short/overlong vectors get bucket 0 in every table, matching
    the column form (its fold nulls out, so no bit is ever set).
    """
    import numpy as np
    import pandas as pd

    spark = df.sparkSession
    if dim is None:
        dim = df.select(F.size(F.col(vec_col))).first()[0]
    planes = _plane_literals(spark, n_tables, n_planes, dim, scheme)
    tp = [(t, p) for t in range(n_tables) for p in range(n_planes)]
    w_mat = np.array(
        [[planes[c][d] for c in tp] for d in range(dim)], dtype=np.float64
    )  # dim × (tables·planes)
    n_t = n_tables

    def gen(it):
        for pdf in it:
            n = len(pdf)
            if n == 0:
                continue
            ok = np.fromiter(
                (v is not None and len(v) == dim for v in pdf[vec_col]),
                dtype=bool, count=n,
            )
            x = np.zeros((n, dim), dtype=np.float64)
            if ok.any():
                x[ok] = np.stack(
                    [np.asarray(v, dtype=np.float64)
                     for v, o in zip(pdf[vec_col], ok) if o]
                )
            proj = np.zeros((n, len(tp)), dtype=np.float64)
            for d in range(dim):  # sequential fold — see docstring
                proj += x[:, d:d + 1] * w_mat[d]
            bits = (proj >= 0)
            buckets = np.zeros((n, n_t), dtype=np.int64)
            for i, (t, p) in enumerate(tp):
                buckets[:, t] += bits[:, i].astype(np.int64) << p
            buckets[~ok] = 0
            yield pd.DataFrame(
                {
                    id_col: np.repeat(pdf[id_col].to_numpy(), n_t),
                    "table": np.tile(
                        np.arange(n_t, dtype=np.int32), n
                    ),
                    "bucket": buckets.reshape(-1),
                }
            )

    # Natural scan partitioning, deliberately NOT spread_scan: the
    # numpy product amortizes so well per Arrow batch that fanning a
    # small input across defaultParallelism Python workers costs more
    # in worker startup than it saves (measured 2.1 s -> 1.5 s for the
    # 8x16 query at sf0.1); at real scale the table's files already
    # provide the parallelism.
    return df.select(id_col, vec_col).mapInPandas(
        gen, schema=f"{id_col} long, table int, bucket long"
    )


def lsh_candidate_pairs(df: DataFrame, id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        n_planes: int = 4, n_tables: int = 8,
                        scheme: str = "hash",
                        dim: int | None = None,
                        buckets: DataFrame | None = None) -> DataFrame:
    """Candidate near-duplicate pairs = same bucket in ANY table, with
    exact cosine attached for re-ranking/thresholding.  The join key is
    (table, bucket) — one shuffle; candidate count ∝ Σ bucket² per
    table, never N².

    Dataflow (measured 30 s → ~6 s → ~2 s at sf0.1, where a loose
    threshold makes ~40 % of all pairs candidates):

    * the self-join and the across-tables dedup run on NARROW
      (table, bucket, id) rows — the 64-float vectors never enter the
      candidate join or the distinct's shuffle.  (A shuffle-free
      first-collision filter — keep the pair only in the lowest table
      whose buckets agree, testing the two signature arrays inline —
      was measured 1.9 s vs the distinct's 1.5 s here: the ~5
      interpreted small-array ops per joined row cost more than the
      narrow-row exchange they avoid, so distinct stays);
    * the cast and the norm are computed ONCE per corpus row below the
      re-attach joins (projections do not collapse through joins — the
      same hoisting as the embed query; an aliased norm inside a
      transform lambda would be inlined by CollapseProject and
      re-evaluated per element), so the per-pair kernel is one fused
      zip-multiply-fold plus a scalar divide instead of cast + zip +
      fold + two norm folds — higher-order functions are interpreted
      per element, so array passes per pair dominate the re-rank;
    * vectors re-attach to the deduplicated pairs via two hash joins
      (broadcast at small SF by AQE), so each pair's kernel runs
      exactly once.

    The bucketized relation is persisted: it feeds both sides of the
    self-join and ReuseExchange does not match across the alias
    branches.

    ``buckets`` optionally supplies a PRE-BUILT ``(id, table, bucket)``
    relation (:func:`lsh_buckets_np` semantics — same planes/tables/
    scheme) so callers sharing one corpus can materialize the LSH
    hash tables ONCE (a parquet staging table — queries/llm.py::
    _lsh_embed_buckets / _lsh_ann_buckets, catalog.staged artifacts).
    With it supplied the Arrow bucketize pass and the per-call persist
    both disappear from the serve plan (each join branch replays a
    parquet scan instead)."""
    if buckets is not None:
        b = buckets.select("table", "bucket",
                           F.col(id_col).alias("__id"))
    else:
        b = (
            lsh_buckets_np(df, id_col, vec_col, n_planes, n_tables,
                           dim=dim, scheme=scheme)
            .select("table", "bucket", F.col(id_col).alias("__id"))
            .persist()
        )
    from level2_to_cassandra_spark.catalog import spread_keys

    pairs = (
        b.select("table", "bucket", F.col("__id").alias("id_a"))
        .join(b.select("table", "bucket", F.col("__id").alias("id_b")),
              ["table", "bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()  # union across tables — narrow rows only
    )
    # Spread the deduplicated pairs to cluster width BEFORE the vector
    # re-attach: the distinct's output is a few MB, so AQE coalesced
    # it to ONE partition and the entire re-rank — both broadcast
    # joins plus the 64-element interpreted cosine fold per pair —
    # was measured running as a single task (1.6-1.9 s of
    # q_llm_dedup_embed's 2.4 s, r17; see catalog.spread_keys).
    pairs = spread_keys(pairs, "id_a", "id_b")
    v = as_double(F.col(vec_col))
    vecs = df.select(
        F.col(id_col).alias("__id"),
        v.alias("__dv"),
        l2_norm(v).alias("__n"),
    )
    return (
        pairs.join(
            vecs.select(F.col("__id").alias("id_a"),
                        F.col("__dv").alias("__va"),
                        F.col("__n").alias("__na")), "id_a")
        .join(
            vecs.select(F.col("__id").alias("id_b"),
                        F.col("__dv").alias("__vb"),
                        F.col("__n").alias("__nb")), "id_b")
        .select(
            "id_a",
            "id_b",
            (
                dot(F.col("__va"), F.col("__vb"))
                / (F.col("__na") * F.col("__nb"))
            ).alias("cos"),
        )
    )


def _cells_array(cent: DataFrame) -> DataFrame:
    """(internal) the centroid relation folded into ONE row holding
    ``__cells``: array<struct<cell, __cv, __cn>> with the norm
    precomputed per centroid.  Cross-joined (broadcast) onto corpus or
    query rows it turns cell assignment into a per-row array fold —
    no n_cells× row blow-up, no groupBy shuffle of wide vectors.
    ``collect_list`` order is irrelevant: both consumers (argmax fold,
    probe sort) are order-insensitive."""
    return cent.agg(
        F.collect_list(
            F.struct(
                F.col("cell"),
                F.col("__cv"),
                l2_norm(F.col("__cv")).alias("__cn"),
            )
        ).alias("__cells")
    )


def _best_cell(vec: Column, norm: Column) -> Column:
    """(internal) argmax-by-cosine over the ``__cells`` array: a
    ``greatest``-fold over struct(cos, cell) — lexicographic struct
    order makes it the deterministic argmax (ties break to the highest
    cell id, exactly like the previous max(struct) formulation).
    ``vec``/``norm`` must be pre-cast/pre-computed in a projection
    BELOW the crossJoin (joins are CollapseProject barriers) so the
    norm fold runs once per row, not once per cell."""
    return F.aggregate(
        F.col("__cells"),
        F.struct(F.lit(-2.0).alias("__cos"), F.lit(-1).alias("cell")),
        lambda acc, c: F.greatest(
            acc,
            F.struct(
                (dot(vec, c["__cv"]) / (norm * c["__cn"])).alias("__cos"),
                c["cell"].alias("cell"),
            ),
        ),
    )["cell"]


def np_round_half_away(a, nd: int):
    """Vectorized ROUND half-away-from-zero of the BINARY double value
    (trunc(|x|·10^nd + 0.5)·sign(x)/10^nd) — bit-identical to DuckDB's
    scaled ROUND, including sign of zero, and the rounding the
    Arrow-side IVF assignment uses so its argmax keys match the DuckDB
    oracle's.  Intentionally NOT Spark's ``F.round``: that HALF_UPs
    the double's SHORTEST DECIMAL REPR via BigDecimal, so the two
    disagree on repr-tie values (repr ends in '5' at the target scale
    — measure ~1e-10 among computed doubles, but exact short decimals
    hit it; see functions.round_half_up for the FLOOR form that is
    bitwise-portable across all three engines) and BigDecimal
    normalizes −0.0 to +0.0.  tests/test_properties.py pins all of
    this empirically."""
    import numpy as np

    scale = 10.0 ** nd
    # copysign, not sign-multiply: preserves -0.0 for a == -0.0
    # exactly as DuckDB does (np.sign(-0.0) is +0.0 and would flip it)
    return np.copysign(np.trunc(np.abs(a) * scale + 0.5), a) / scale


def ivf_assign_np(df: DataFrame, cent: DataFrame,
                  id_col: str = "vec_id",
                  vec_col: str = "embedding",
                  round_assign: int | None = None) -> DataFrame:
    """Append ``cell``: max-cosine centroid per row, as an Arrow-batched
    numpy product — the fast twin of the :func:`_best_cell` array fold
    (same 20×-class win as :func:`lsh_buckets_np`: cell assignment is a
    dense (n × dim)·(dim × n_cells) matrix product).  Map-side only: the
    centroid relation is n_cells rows (collected once — it is broadcast-
    sized by construction) and the input vector rides through the Arrow
    batch, so no join is ever needed to re-attach it — at corpus scale
    this is one pass, zero shuffles.

    Tie-break mirrors ``_best_cell``'s ``greatest(struct(cos, cell))``:
    equal cosines resolve to the LARGEST cell id.  Exact ties are
    boundary-measure-zero (centroid components are pre-rounded to 6
    decimals, vectors are data); parity with the fold form is asserted
    in tests.  NULL/short vectors keep the fold form's behavior: the
    fold's cosine is NULL for every cell, greatest() never beats the
    (-2.0, -1) seed, so cell = -1.

    ``round_assign`` selects the ENGINE-PORTABLE assignment mode: the
    full cosine (divided by |v| too — scaling moves rounding
    boundaries, so the argmax must round the same quantity another
    engine computes) is rounded half-away-from-zero to that many
    decimals BEFORE the argmax.  Without rounding, an external oracle
    recomputing cosines with a different summation order flips the
    argmax whenever two cells sit within float-jitter of each other;
    with it, near-ties collapse to EQUAL rounded keys on both engines
    and the shared largest-cell tie-break decides identically.  The
    residual risk is a raw cosine within one ulp of a rounding
    boundary — measure-zero on data (same argument as ``round_cos``
    in :func:`brute_topk`).  Zero-norm vectors get cell -1 (cosine
    undefined — mirrors the NULL behavior above).
    """
    import numpy as np
    import pandas as pd

    rows = sorted(cent.collect(), key=lambda r: r["cell"])
    cells = np.array([r["cell"] for r in rows], dtype=np.int32)
    c_mat = np.array([r["__cv"] for r in rows], dtype=np.float64)
    # argmax of dot(v,c)/(|v||c|) over c: |v| is constant per row, so
    # fold |c| into the centroid matrix once
    c_unit = (c_mat / np.sqrt((c_mat * c_mat).sum(axis=1))[:, None]).T
    dim = c_mat.shape[1]

    def gen(it):
        for pdf in it:
            n = len(pdf)
            if n == 0:
                continue
            ok = np.fromiter(
                (v is not None and len(v) == dim for v in pdf[vec_col]),
                dtype=bool, count=n,
            )
            x = np.zeros((n, dim), dtype=np.float64)
            if ok.any():
                x[ok] = np.stack(
                    [np.asarray(v, dtype=np.float64)
                     for v, o in zip(pdf[vec_col], ok) if o]
                )
            p = x @ c_unit  # n × n_cells
            # zero-norm vectors have undefined cosine → cell -1 in
            # EVERY mode (the fold form's NULL cosine never beats its
            # (-2.0, -1) seed; without this mask the all-zero p row
            # would tie-argmax to the largest cell instead)
            vn = np.sqrt((x * x).sum(axis=1))
            ok &= vn > 0
            if round_assign is not None:
                with np.errstate(divide="ignore", invalid="ignore"):
                    p = p / np.where(vn > 0, vn, 1.0)[:, None]
                p = np_round_half_away(p, round_assign)
            m = p.max(axis=1)
            # last (= largest cell id; rows sorted by cell) argmax
            best = p.shape[1] - 1 - np.argmax(p[:, ::-1] == m[:, None],
                                              axis=1)
            out = pdf[[id_col, vec_col]].copy()
            out["cell"] = np.where(ok, cells[best], np.int32(-1))
            yield out

    # Natural scan partitioning — same rationale as lsh_buckets_np:
    # per-batch matmul cost is negligible, Python worker fan-out is not.
    return df.select(id_col, vec_col).mapInPandas(
        gen,
        schema=f"{id_col} long, {vec_col} array<float>, cell int",
    )


def ivf_seeds(corpus: DataFrame, n_cells: int = 16,
              id_col: str = "vec_id", vec_col: str = "embedding",
              scheme: str = "hash") -> DataFrame:
    """(cell, __cv) seed centroids: the ``n_cells`` corpus vectors with
    the smallest seed hash, numbered by that same order — a
    reproducible pseudo-random sample picked with a TakeOrdered top-N
    (no global sort materialized).  Callers that only need a CLUSTER
    ASSIGNMENT (e.g. SemDeDup's cluster-then-prune) feed these straight
    to :func:`ivf_assign_np`, skipping :func:`ivf_index`'s mean
    recomputation pass entirely."""
    if scheme == "portable":
        hcol = F.md5(F.col(id_col).cast("string"))
    elif scheme == "hash":
        hcol = F.xxhash64(F.col(id_col))
    else:
        raise ValueError(f"unknown ivf scheme {scheme!r}")
    w = Window.orderBy(F.asc("__h"), F.asc("__hid"))
    return (
        corpus.select(
            as_double(F.col(vec_col)).alias("__cv"),
            hcol.alias("__h"),
            F.col(id_col).alias("__hid"),
        )
        .orderBy("__h", "__hid")
        .limit(n_cells)
        .withColumn("cell", F.row_number().over(w))
        .select("cell", "__cv")
    )


def ivf_index(corpus: DataFrame, n_cells: int = 16,
              id_col: str = "vec_id", vec_col: str = "embedding",
              lloyd_iters: int = 1, scheme: str = "hash",
              round_assign: int | None = None,
              seed_cent: DataFrame | None = None,
              ) -> tuple[DataFrame, DataFrame | None]:
    """Deterministic coarse quantizer + inverted file in ``lloyd_iters``
    corpus passes TOTAL: ``(cent, assigned)`` where ``assigned`` is the
    LAST Lloyd iteration's cell assignment (persisted — at cluster
    scale this is the bucketed-by-cell staging table) and ``cent`` are
    the per-cell MEANS of exactly that assignment.

    Seeds are the ``n_cells`` corpus vectors with the smallest
    xxhash64(id) — a reproducible pseudo-random sample picked with a
    TakeOrdered top-N (no global sort materialized).  Each Lloyd
    iteration reassigns every vector to its max-cosine centroid
    (spherical k-means) and recomputes cell means element-wise via
    posexplode → avg → re-assemble.  Centroid components are rounded to
    6 decimals so cell-assignment boundaries are stable across
    summation orders (same engine-invariance trick as ``round_cos`` in
    :func:`brute_topk`).

    Returning the assignment that PRODUCED the final centroids (rather
    than re-assigning against them, as rounds ≤ 4 did) both removes a
    full corpus ``mapInPandas`` pass (VERDICT r04 #4: similarity.py ran
    ivf_assign_np twice at lloyd_iters=1) and makes the index
    internally coherent: each inverted list's representative is the
    true mean of exactly its members, and every list cell exists in
    ``cent`` (a cell with no members vanishes from both — probes never
    select it).  The persist is what keeps it one pass: the means
    collect() materializes the cache; the probe join then reads the
    staging table instead of re-running the Arrow kernel.

    ``scheme="portable"`` switches the seed-picking hash from xxhash64
    to the lowercase-hex md5 of the DECIMAL id string, ordered
    lexicographically — fixed-width hex compares identically as a
    binary string and as the unsigned 64/128-bit integer it encodes,
    and both Spark and DuckDB produce the same md5 hex of the same
    digits, so an external oracle reproduces the exact seed set and
    numbering.  ``round_assign`` (see :func:`ivf_assign_np`) makes the
    Lloyd assignment itself engine-invariant.  At ``lloyd_iters=0``
    no assignment exists: returns ``(seeds, None)`` (``ivf_centroids``
    handles this; direct callers must too)."""
    # seed_cent: caller-supplied (cell, __cv) seed relation — IVF-PQ
    # shares one collected seed set between the coarse quantizer and
    # the PQ codebooks, saving a TakeOrdered corpus scan
    cent = (seed_cent if seed_cent is not None
            else ivf_seeds(corpus, n_cells, id_col, vec_col, scheme))
    assigned = None
    for _ in range(lloyd_iters):
        if assigned is not None:
            assigned.unpersist()
        assigned = ivf_assign_np(corpus, cent, id_col, vec_col,
                                 round_assign=round_assign).persist()
        means = (
            assigned.select("cell", as_double(F.col(vec_col)).alias("__v"))
            .select("cell", F.posexplode("__v").alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(F.avg("x").alias("x"))
            .groupBy("cell")
            .agg(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "x"))),
                    lambda s: F.round(s["x"], 6),
                ).alias("__cv")
            )
        )
        # Materialize each iteration's centroids as an n_cells-row
        # LITERAL relation: the centroid plan is consumed lazily by
        # several downstream branches (the next Lloyd pass, the probe
        # broadcast, ivf_assign_np's driver collect) and would
        # otherwise re-execute the whole corpus-wide iteration once PER
        # consumer — with lloyd_iters > 1 that recompute compounds
        # geometrically.  n_cells rows of dim doubles is driver-bounded
        # by construction (it is the relation we broadcast anyway).
        cent = corpus.sparkSession.createDataFrame(
            means.collect(), "cell int, __cv array<double>"
        )
    return cent, assigned


def ivf_centroids(corpus: DataFrame, n_cells: int = 16,
                  id_col: str = "vec_id", vec_col: str = "embedding",
                  lloyd_iters: int = 1) -> DataFrame:
    """Centroids only — see :func:`ivf_index`.  Releases the staging
    assignment for callers that just want the quantizer.  At
    lloyd_iters=0 there is no assignment and the seeds ARE the
    centroids (the pre-refactor contract)."""
    cent, assigned = ivf_index(corpus, n_cells, id_col, vec_col,
                               lloyd_iters)
    if assigned is not None:
        assigned.unpersist()
    return cent


def ivf_topk(corpus: DataFrame, queries: DataFrame, k: int,
             n_cells: int = 16, nprobe: int = 4,
             id_col: str = "vec_id", vec_col: str = "embedding",
             round_cos: int | None = None, scheme: str = "hash",
             round_assign: int | None = None,
             round_probe: int | None = None,
             index: tuple[DataFrame, DataFrame] | None = None,
             ) -> DataFrame:
    """Approximate top-k cosine neighbors per query via IVF probing.
    Output: (query_id, neighbor_id, cos, rank) — the same contract as
    :func:`brute_topk`, against which recall is tested.

    Scale shape: the centroid relation is n_cells rows (broadcast
    everywhere); the corpus is assigned to cells in ONE pass total
    (:func:`ivf_index` — the inverted file IS the last Lloyd
    assignment, read back from its persisted staging form) and joined
    on cell with the probe list (queries × nprobe rows, broadcast by
    AQE).  Per query only ~nprobe/n_cells of the corpus is scanned; at
    cluster scale the assigned corpus is the bucketed-by-cell staging
    table, making repeated query batches zero-shuffle probes.

    ``scheme``/``round_assign``/``round_probe`` select the
    engine-portable index + probe (see :func:`ivf_index` /
    :func:`ivf_assign_np`): probe-cell ranking rounds the
    query-centroid cosine before the (cos DESC, cell ASC) cut, for
    the same cross-engine argmax-stability reason as the assignment.

    Cache ownership: the persisted assignment + cell array ARE the
    index — they deliberately outlive this call so repeated query
    batches probe without rebuilding (the advertised use).  A caller
    that is done with the index releases it with
    ``spark.catalog.clearCache()`` (what bench.py does per query) or
    by unpersisting the returned plan's sources; nothing re-persists
    on later calls with the same corpus because each call builds a
    fresh staging relation.

    ``index`` optionally supplies a PRE-BUILT ``(cent, assigned)``
    pair (:func:`ivf_index` semantics — same scheme/rounding/n_cells)
    so callers sharing one corpus can materialize the inverted file
    ONCE (a parquet staging table — queries/llm.py::_ivf_relation)
    and serve every probe batch from it; the build is deterministic,
    so serving from the staged index is bit-identical to a fresh
    build (the _ivfpq_session_index precedent)."""
    if index is not None:
        cent, assigned = index
    else:
        cent, assigned = ivf_index(corpus, n_cells, id_col, vec_col,
                                   scheme=scheme,
                                   round_assign=round_assign)
    cells = _cells_array(cent).persist()
    # norms and the re-rank cosine stay JVM-side so the scoring kernel
    # is bit-identical to brute_topk's
    inv = assigned.select(
        "cell",
        F.col(id_col).alias("neighbor_id"),
        as_double(F.col(vec_col)).alias("__cvv"),
        l2_norm(as_double(F.col(vec_col))).alias("__cn"),
    )
    # top-nprobe cells per query as an array sort + slice on the (tiny)
    # __cells array — no n_cells× row explosion, no ranking-window
    # shuffle; struct asc order on (−cos, cell) ≡ (cos DESC, cell ASC),
    # the same deterministic cut as the previous row_number form
    def _probe_key(c):
        cos_qc = dot(F.col("__qv"), c["__cv"]) / (F.col("__qn") * c["__cn"])
        if round_probe is not None:
            cos_qc = F.round(cos_qc, round_probe)
        return cos_qc

    probe_order = F.transform(
        F.col("__cells"),
        lambda c: F.struct(
            (-_probe_key(c)).alias("__neg"),
            c["cell"].alias("cell"),
        ),
    )
    probes = (
        queries.select(
            F.col(id_col).alias("query_id"),
            as_double(F.col(vec_col)).alias("__qv"),
            l2_norm(as_double(F.col(vec_col))).alias("__qn"),
        )
        .crossJoin(F.broadcast(cells))
        .select(
            "query_id",
            "__qv",
            "__qn",
            F.explode(
                F.slice(F.array_sort(probe_order), 1, nprobe)
            ).alias("__pc"),
        )
        .select("query_id", "__qv", "__qn", F.col("__pc.cell").alias("cell"))
    )
    # per-pair kernel: ONE zip-multiply-fold + a scalar divide — both
    # norms ride the probe/inverted-file rows, computed once per row
    cos = dot(F.col("__qv"), F.col("__cvv")) / (F.col("__qn") * F.col("__cn"))
    if round_cos is not None:
        cos = F.round(cos, round_cos)
    scored = (
        inv.join(probes, "cell")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", cos.alias("cos"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ): compressed-domain ANN via ADC scans
# ---------------------------------------------------------------------------
#
# A 64-d float32 vector is 256 bytes; its PQ code is M=8 one-byte code
# ids plus one stored norm — ~30x less. At 100 TB of embeddings that is
# the difference between "the index fits in cluster memory" and "every
# query re-reads the lake": the ADC (asymmetric distance computation)
# scan ranks candidates from the codes alone, and only the top-shortlist
# rows ever touch the full-precision vectors again. Jegou et al.,
# "Product Quantization for Nearest Neighbor Search", TPAMI 2011.
#
# Everything is engine-portable by the same discipline as the IVF
# quantizer above: seeds from the md5 order, one Lloyd step whose
# argmin rounds the subspace L2^2 to 6 decimals (ties -> smallest
# code), codebook means rounded to 6, per-subspace ADC partial dots
# rounded to 6, the approximate cosine rounded to 6 before the
# shortlist window, the exact re-rank rounded like brute_topk -- so a
# DuckDB oracle replays the ENTIRE compressed pipeline bit-for-bit.

_PQ_M = 8        #: subspaces (codes per vector)
_PQ_SUBDIM = 8   #: dims per subspace (M * SUBDIM = fixture dim 64)
_PQ_K = 16       #: codebook entries per subspace

#: Fail-fast ceiling on the ADC paths' driver-side query-batch collect
#: (VERDICT r05 #4, mirroring MAX_SINK_TOPICS at streaming/sink.py).
#: The classic ADC formulation precomputes one lookup table PER QUERY
#: driver-side and ships them in the kernel closure — linear driver
#: memory and per-executor closure bloat in the batch size, so an
#: unbounded query relation must error loudly, not OOM quietly.  For
#: larger batches the distributed alternative is to chunk the query
#: relation and union the per-chunk top-k results (each chunk bounded
#: by this ceiling), or to flip to the symmetric formulation: join the
#: encoded queries to the codebook relation and compute the LUT
#: executor-side per (query-partition, subspace).
MAX_QUERY_BATCH = 1024


def _collect_query_batch(queries: DataFrame, id_col: str,
                         vec_col: str) -> list:
    """Collect the query batch driver-side with the
    :data:`MAX_QUERY_BATCH` fail-fast guard.  ``limit(cap+1)`` bounds
    the transfer itself — an over-limit relation moves at most cap+1
    rows before erroring, never the full relation."""
    rows = queries.select(id_col, vec_col).limit(
        MAX_QUERY_BATCH + 1
    ).collect()
    if len(rows) > MAX_QUERY_BATCH:
        raise ValueError(
            f"ADC query batch exceeds MAX_QUERY_BATCH={MAX_QUERY_BATCH}: "
            "the per-query lookup tables are built driver-side and ship "
            "in the scan closure — chunk the query relation and union "
            "the per-chunk results instead"
        )
    return rows


def _l2sq(a: Column, b: Column) -> Column:
    """Σ (aᵢ−bᵢ)² — sequential left fold (deterministic order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _cb_relation(spark, cb: dict[tuple[int, int], list[float]],
                 m: int) -> DataFrame:
    """The codebook as a ONE-ROW relation, crossJoin(broadcast)-ed onto
    corpus rows — codebook values ride the plan as DATA, not as
    expression nodes.  (The first cut embedded them as ~1000-node
    CreateArray/CreateStruct literal trees per consumer; Catalyst
    analysis of those trees cost multiple driver-side SECONDS per plan
    while the actual compute was milliseconds.)  One column,
    ``__cands``: array[sub] of array<struct<code, cw>>, survivors
    only, code-ascending — what the fold-form encode argmin scans."""
    cands = [
        [
            {"code": code, "cw": cw}
            for (ss, code), cw in sorted(cb.items())
            if ss == s
        ]
        for s in range(m)
    ]
    return spark.createDataFrame(
        [(cands,)],
        "__cands array<array<struct<code:int,cw:array<double>>>>",
    )


def pq_train(corpus: DataFrame, m: int = _PQ_M, k: int = _PQ_K,
             sub_dim: int = _PQ_SUBDIM, id_col: str = "vec_id",
             vec_col: str = "embedding", seed_rows: list | None = None,
             ) -> dict[tuple[int, int], list[float]]:
    """Train per-subspace codebooks: seeds are the subvectors of the
    ``k`` corpus rows with the smallest md5(id) (the IVF seed order —
    one TakeOrdered, no global sort), then ONE Lloyd step over the
    corpus assigns every subvector to its nearest seed (rounded L2²,
    smallest-code ties) and recomputes each code as the member mean
    rounded to 6 decimals.  Returns the driver-side dict
    ``{(sub, code): [w₀…w_subdim)}`` — k·m rows of sub_dim doubles,
    broadcast-sized by construction (it rides plans as a one-row
    broadcast relation, see :func:`_cb_relation`).
    Codes with no members vanish (exactly like empty IVF cells);
    every consumer enumerates survivors only, so both engines agree.
    ``seed_rows``: pre-collected ``ivf_seeds(..., k, scheme="portable")``
    rows — pass when the caller already has them (IVF-PQ shares the
    same 16 md5-order rows with its coarse quantizer, saving one
    TakeOrdered corpus scan per index build).
    """
    seeds = seed_rows if seed_rows is not None else ivf_seeds(
        corpus, k, id_col, vec_col, scheme="portable"
    ).collect()
    cb0: dict[tuple[int, int], list[float]] = {}
    for r in seeds:
        for s in range(m):
            cb0[(s, r["cell"])] = list(r["__cv"][s * sub_dim:(s + 1) * sub_dim])

    # one Arrow corpus pass: per-subspace rounded-L2² argmin vs the
    # seed codebook, then a (sub, code, pos) mean — 8*16*8 = 1024 groups.
    assigned = pq_assign_np(corpus, cb0, mode="train", m=m,
                            sub_dim=sub_dim, id_col=id_col, vec_col=vec_col)
    means = (
        assigned.select("sub", "code", F.posexplode("__sv").alias("pos", "x"))
        .groupBy("sub", "code", "pos")
        .agg(F.round(F.avg("x"), 6).alias("x"))
        .collect()
    )
    cb: dict[tuple[int, int], list[float]] = {}
    for r in means:
        cb.setdefault((r["sub"], r["code"]), [0.0] * sub_dim)[r["pos"]] = r["x"]
    return cb


def _cb_np(cb: dict[tuple[int, int], list[float]], m: int):
    """Per-subspace ``(codes, codeword-matrix)`` numpy pairs,
    code-ascending — argmin's first-minimum then IS the smallest
    surviving code, the shared tie-break."""
    import numpy as np

    per = []
    for s in range(m):
        items = sorted((code, cw) for (ss, code), cw in cb.items() if ss == s)
        per.append((
            np.array([c for c, _ in items], dtype=np.int64),
            np.array([cw for _, cw in items], dtype=np.float64),
        ))
    return per


def pq_assign_np(corpus: DataFrame, cb: dict[tuple[int, int], list[float]],
                 mode: str, m: int = _PQ_M, sub_dim: int = _PQ_SUBDIM,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 carry_cell: bool = False) -> DataFrame:
    """Arrow-batched per-subspace codebook assignment — the fast twin
    of :func:`pq_encode_fold`'s array fold (same ~20× class win as
    :func:`lsh_buckets_np` / :func:`ivf_assign_np`: the per-subspace
    distance table is a dense broadcasting subtract-square-sum, and the
    interpreted higher-order-function fold was the dominant cost of
    the JVM form).  The L2² table is rounded half-away-from-zero to 6
    (``np_round_half_away`` — bit-identical to DuckDB's ROUND, see its
    docstring) before ``argmin``, whose first-minimum resolves ties to
    the smallest code exactly like the fold's ``array_min(struct(dist,
    code))`` and the oracle's ``ORDER BY dist, code``.

    ``mode="train"`` emits the exploded ``(sub, code, __sv)`` member
    rows the Lloyd mean aggregates; ``mode="encode"`` emits the narrow
    index relation ``(neighbor_id, codes, recon_norm)``.  Rows whose
    vector is NULL/mis-sized are dropped (fixture width is pinned in
    tests/test_catalog.py)."""
    import numpy as np
    import pandas as pd

    per = _cb_np(cb, m)
    dim = m * sub_dim

    def gen(it):
        for pdf in it:
            n = len(pdf)
            if n == 0:
                continue
            ok = np.fromiter(
                (v is not None and len(v) == dim for v in pdf[vec_col]),
                dtype=bool, count=n,
            )
            pdf = pdf[ok]
            n = len(pdf)
            if n == 0:
                continue
            x = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            ).reshape(n, m, sub_dim)
            codes_out = np.empty((n, m), dtype=np.int64)
            nsq = np.zeros(n, dtype=np.float64)
            for s in range(m):
                codes_s, mat = per[s]
                d = ((x[:, s, None, :] - mat[None, :, :]) ** 2).sum(-1)
                idx = np.argmin(np_round_half_away(d, 6), axis=1)
                codes_out[:, s] = codes_s[idx]
                if mode != "train":  # recon norm is encode-only output
                    nsq += (mat * mat).sum(axis=1)[idx]
            if mode == "train":
                yield pd.DataFrame({
                    "sub": np.tile(np.arange(m, dtype=np.int32), n),
                    "code": codes_out.reshape(-1),
                    "__sv": [x[i, s].tolist()
                             for i in range(n) for s in range(m)],
                })
            else:
                out = {
                    "neighbor_id": pdf[id_col].to_numpy(),
                    "codes": [c.tolist()
                              for c in codes_out.astype(np.int32)],
                    "recon_norm": np_round_half_away(np.sqrt(nsq), 6),
                }
                if carry_cell:  # IVF-PQ: coarse cell rides the index row
                    out["cell"] = pdf["cell"].to_numpy()
                yield pd.DataFrame(out)

    if mode == "train":
        schema = "sub int, code long, __sv array<double>"
    elif mode == "encode":
        schema = "neighbor_id long, codes array<int>, recon_norm double"
        if carry_cell:
            schema += ", cell int"
    else:
        raise ValueError(f"unknown pq_assign_np mode {mode!r}")
    cols = [id_col, vec_col] + (["cell"] if carry_cell else [])
    return corpus.select(*cols).mapInPandas(gen, schema=schema)


def pq_encode(corpus: DataFrame, cb: dict[tuple[int, int], list[float]],
              m: int = _PQ_M, k: int = _PQ_K, sub_dim: int = _PQ_SUBDIM,
              id_col: str = "vec_id", vec_col: str = "embedding",
              ) -> DataFrame:
    """Encode the corpus against a trained codebook: one Arrow pass
    (:func:`pq_assign_np`) emitting the narrow staging relation
    (id, codes array<long>, recon_norm) — THE relation a production
    index persists, bucketed however the ADC consumers join it.
    ``recon_norm`` is the exact L2 norm of the reconstruction
    (subspaces are orthogonal, so ‖recon‖² = Σ_m ‖codeword_m‖²),
    rounded to 6; it is what turns ADC inner products into approximate
    cosines without touching the full vector.  :func:`pq_encode_fold`
    is the pure-JVM reference form, parity-tested against this one."""
    return pq_assign_np(corpus, cb, mode="encode", m=m, sub_dim=sub_dim,
                        id_col=id_col, vec_col=vec_col)


def pq_encode_fold(corpus: DataFrame, cb: dict[tuple[int, int], list[float]],
                   m: int = _PQ_M, k: int = _PQ_K, sub_dim: int = _PQ_SUBDIM,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   ) -> DataFrame:
    """Pure-JVM reference form of :func:`pq_encode` (array-fold argmin
    over the broadcast codebook relation) — kept as the semantic spec
    the Arrow kernel is parity-tested against, exactly like
    ``_best_cell`` vs ``ivf_assign_np``."""
    ve = as_double(F.col(vec_col))
    row = corpus.select(
        F.col(id_col).alias("neighbor_id"), ve.alias("__ve")
    ).crossJoin(
        F.broadcast(_cb_relation(corpus.sparkSession, cb, m))
    )

    def _best(sv):
        # closure, NOT a default arg: F.transform treats a second
        # lambda parameter as the element INDEX and would clobber it
        return lambda c: F.struct(
            F.round(_l2sq(sv, c["cw"]), 6).alias("dist"),
            c["code"].alias("code"),
            F.aggregate(
                c["cw"], F.lit(0.0), lambda a, x: a + x * x
            ).alias("nsq"),
        )

    bests = []
    for s in range(m):
        sv = F.slice(F.col("__ve"), s * sub_dim + 1, sub_dim)
        cands = F.element_at(F.col("__cands"), s + 1)
        bests.append(F.array_min(F.transform(cands, _best(sv))))
    nsq_sum = bests[0]["nsq"]
    for b in bests[1:]:
        nsq_sum = nsq_sum + b["nsq"]
    return row.select(
        "neighbor_id",
        F.array(*[b["code"] for b in bests]).alias("codes"),
        F.round(F.sqrt(nsq_sum), 6).alias("recon_norm"),
    )


def pq_adc_topk(corpus: DataFrame, queries: DataFrame, topk: int = 10,
                shortlist: int = 30, m: int = _PQ_M, k_codes: int = _PQ_K,
                sub_dim: int = _PQ_SUBDIM, id_col: str = "vec_id",
                vec_col: str = "embedding", round_cos: int | None = 4,
                index: tuple[dict[tuple[int, int], list[float]],
                             DataFrame] | None = None,
                ) -> DataFrame:
    """PQ ANN: train → encode → ADC scan → exact re-rank.

    The ADC scan ranks every corpus row per query from its codes alone
    (per subspace: one partial dot of the full-precision query
    subvector with the selected codeword, rounded to 6; summed and
    normalized by ‖q‖·recon_norm into an approximate cosine, rounded
    to 6 before the shortlist window with an id tie-break).  Only the
    top-``shortlist`` rows per query are joined back (broadcast — the
    shortlist is queries×shortlist rows) to full vectors for the exact
    top-``topk`` cosine re-rank.  Corpus passes: 1 train + 1 encode +
    1 ADC + 1 filtered re-rank join; at cluster scale the encode
    output is the persisted index and steady-state queries run only
    the last two, reading ~m bytes per corpus row instead of the
    vector itself.

    ``index`` optionally supplies that persisted index — the
    ``(codebook, encoded)`` pair a prior :func:`pq_train` +
    :func:`pq_encode` produced over the SAME corpus (the caller owns
    that consistency, exactly like the ``postings``/``ranked``/
    ``signatures`` staging contracts): with it the train and encode
    corpus passes leave the serve path entirely and only the ADC scan
    + re-rank run (queries/llm.py::_pq_relation stages it once per
    session/corpus, the _ivfpq_session_index discipline)."""
    if index is not None:
        cb, enc = index
    else:
        cb = pq_train(corpus, m, k_codes, sub_dim, id_col, vec_col)
        enc = pq_encode(corpus, cb, m, k_codes, sub_dim, id_col, vec_col)
    scored = _adc_scored(enc, queries, cb, m, sub_dim, id_col, vec_col)
    return _adc_finish(scored, corpus, queries, topk, shortlist,
                       id_col, vec_col, round_cos)


def _adc_scored(enc: DataFrame, queries: DataFrame,
                cb: dict[tuple[int, int], list[float]],
                m: int, sub_dim: int, id_col: str, vec_col: str,
                probes: dict[int, set] | None = None,
                qrows: list | None = None) -> DataFrame:
    """ADC lookup-table scan → (query_id, neighbor_id, acos).

    Query batch to the driver — same bounded-collect discipline as the
    LSH plane matrices / IVF centroids (queries are a batch, not a
    second corpus; brute_topk broadcasts the same relation; pass
    ``qrows`` if the caller already collected it).  THE classic ADC
    lookup tables (one per subspace): every partial dot any corpus row
    can contribute is precomputed as T[s][query, code] = q_sub·codeword,
    rounded to 6 — scoring a corpus row is then m table lookups + adds
    per query, touching only its codes.  Bit-parity with the JVM
    per-row dot: the dot is the same fused multiply-add chain, rounded
    by the DuckDB-twin rounding (np_round_half_away docstring).

    ``probes`` (query_id → allowed cell set) turns the full scan into
    the IVF-PQ inverted-file scan: ``enc`` must then carry a ``cell``
    column.  Rows outside EVERY query's probe set are dropped before
    any scoring; rows inside the probed union are scored batched for
    all queries (the LUT batching) and masked per query afterwards —
    at scale the union filter is what shrinks the scan to
    ~nprobe/n_cells of the codes."""
    import numpy as np
    import pandas as pd

    if qrows is None:
        qrows = _collect_query_batch(queries, id_col, vec_col)
    qids = np.array([r[id_col] for r in qrows], dtype=np.int64)
    qmat = np.array(
        [r[vec_col] for r in qrows], dtype=np.float64
    ).reshape(len(qids), m * sub_dim)
    per = _cb_np(cb, m)
    qsub = qmat.reshape(len(qids), m, sub_dim)
    luts = [np_round_half_away(qsub[:, s, :] @ per[s][1].T, 6)
            for s in range(m)]
    if probes is not None:
        # hoisted per-query probe arrays + their union — sorted once,
        # not once per Arrow batch
        probe_arrs = [np.array(sorted(probes.get(int(qid), ())),
                               dtype=np.int64) for qid in qids]
        probe_union = (np.unique(np.concatenate(probe_arrs))
                       if probe_arrs else np.empty(0, dtype=np.int64))

    def adc(it):
        for pdf in it:
            if probes is not None and len(pdf):
                pdf = pdf[np.isin(pdf["cell"].to_numpy(), probe_union)]
            n = len(pdf)
            if n == 0 or len(qids) == 0:
                continue
            c = np.stack(
                [np.asarray(v, dtype=np.int64) for v in pdf["codes"]]
            )
            adot = np.zeros((len(qids), n), dtype=np.float64)
            for s in range(m):
                pos = np.searchsorted(per[s][0], c[:, s])
                adot += luts[s][:, pos]
            if probes is None:
                yield pd.DataFrame({
                    "query_id": np.repeat(qids, n),
                    "neighbor_id": np.tile(pdf["neighbor_id"].to_numpy(),
                                           len(qids)),
                    "recon_norm": np.tile(pdf["recon_norm"].to_numpy(),
                                          len(qids)),
                    "__adot": adot.reshape(-1),
                })
                continue
            cells = pdf["cell"].to_numpy()
            keep = np.zeros((len(qids), n), dtype=bool)
            for i, pa in enumerate(probe_arrs):
                keep[i] = np.isin(cells, pa)
            km = keep.reshape(-1)
            yield pd.DataFrame({
                "query_id": np.repeat(qids, n)[km],
                "neighbor_id": np.tile(pdf["neighbor_id"].to_numpy(),
                                       len(qids))[km],
                "recon_norm": np.tile(pdf["recon_norm"].to_numpy(),
                                      len(qids))[km],
                "__adot": adot.reshape(-1)[km],
            })

    q_norms = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            l2_norm(as_double(F.col(vec_col))).alias("__qn"),
        )
    )
    return (
        enc.mapInPandas(
            adc,
            schema="query_id long, neighbor_id long, "
                   "recon_norm double, __adot double",
        )
        .where(F.col("neighbor_id") != F.col("query_id"))
        .join(q_norms, "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                F.col("__adot") / (F.col("__qn") * F.col("recon_norm")), 6
            ).alias("acos"),
        )
    )


def _adc_finish(scored: DataFrame, corpus: DataFrame, queries: DataFrame,
                topk: int, shortlist: int, id_col: str, vec_col: str,
                round_cos: int | None) -> DataFrame:
    """Shortlist window + exact cosine re-rank shared by the PQ and
    IVF-PQ paths: keep the top-``shortlist`` approximate scores per
    query (id tie-break), join ONLY those rows back to full vectors
    (broadcast — queries×shortlist rows), re-rank by rounded exact
    cosine for the final top-``topk``."""
    ws = Window.partitionBy("query_id").orderBy(
        F.desc("acos"), F.asc("neighbor_id")
    )
    short = (
        scored.withColumn("__rn", F.row_number().over(ws))
        .where(F.col("__rn") <= shortlist)
        .select("query_id", "neighbor_id", "acos")
    )
    full = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        as_double(F.col(vec_col)).alias("__cv"),
    )
    qv = queries.select(
        F.col(id_col).alias("query_id"),
        as_double(F.col(vec_col)).alias("__qv2"),
    )
    cos = cosine(F.col("__qv2"), F.col("__cv"))
    if round_cos is not None:
        cos = F.round(cos, round_cos)
    wr = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("neighbor_id")
    )
    return (
        full.join(F.broadcast(short), "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .select("query_id", "neighbor_id", cos.alias("cos"))
        .withColumn("rank", F.row_number().over(wr))
        .where(F.col("rank") <= topk)
    )


def _adc_scored_residual(index: DataFrame,
                         cb: dict[tuple[int, int], list[float]],
                         qrows: list, cells, cmat,
                         m: int, sub_dim: int, id_col: str, vec_col: str,
                         probes: dict[int, set]) -> DataFrame:
    """Residual-mode ADC scan → (query_id, neighbor_id, acos).

    The approximate vector is centroid + decoded residual, so the
    approximate cosine decomposes into driver-precomputable tables
    (all tiny — n_q·k, n_q·n_cells, n_cells·k per subspace):

    * numerator  q·(c + r̂) = QC[q, cell] + Σ_s LUT[s][q, code]
      where QC = q·centroid and LUT[s] = q_sub·codeword (the same
      per-subspace partial dots as :func:`_adc_scored`, but against
      the RESIDUAL codebooks);
    * denominator ‖q‖·‖c + r̂‖ with
      ‖c + r̂‖² = ‖c‖² + 2·Σ_s CC[s][cell, code] + ‖r̂‖²
      (CC[s] = centroid_sub·codeword; ‖r̂‖ is the stored
      ``recon_norm`` — subspaces are orthogonal blocks, so the
      residual reconstruction norm is exactly the codeword-norm fold
      :func:`pq_assign_np` already emits).

    Scoring a corpus row therefore stays m lookups per query plus a
    per-row norm fold — same closure size class as the non-residual
    LUTs.  ``probes`` is mandatory here (the IVF-PQ composition always
    probe-restricts); rows outside every query's probe set are dropped
    before scoring, rows inside the union are scored batched and
    masked per query, exactly like :func:`_adc_scored`."""
    import numpy as np
    import pandas as pd

    qids = np.array([r[id_col] for r in qrows], dtype=np.int64)
    qmat = np.array(
        [r[vec_col] for r in qrows], dtype=np.float64
    ).reshape(len(qids), m * sub_dim)
    qn = np.sqrt((qmat * qmat).sum(axis=1))
    per = _cb_np(cb, m)
    qsub = qmat.reshape(len(qids), m, sub_dim)
    luts = [np_round_half_away(qsub[:, s, :] @ per[s][1].T, 6)
            for s in range(m)]
    cells = np.asarray(cells, dtype=np.int64)      # ascending (sorted)
    cmat = np.asarray(cmat, dtype=np.float64)
    cnorm_sq = (cmat * cmat).sum(axis=1)
    qc = qmat @ cmat.T                              # (n_q, n_cells)
    csub = cmat.reshape(len(cells), m, sub_dim)
    cc = [csub[:, s, :] @ per[s][1].T for s in range(m)]  # (n_cells, k_s)
    probe_arrs = [np.array(sorted(probes.get(int(qid), ())),
                           dtype=np.int64) for qid in qids]
    probe_union = (np.unique(np.concatenate(probe_arrs))
                   if probe_arrs else np.empty(0, dtype=np.int64))

    def adc_res(it):
        for pdf in it:
            if len(pdf):
                pdf = pdf[np.isin(pdf["cell"].to_numpy(), probe_union)]
            n = len(pdf)
            if n == 0 or len(qids) == 0:
                continue
            c = np.stack(
                [np.asarray(v, dtype=np.int64) for v in pdf["codes"]]
            )
            rowcells = pdf["cell"].to_numpy()
            ci = np.searchsorted(cells, rowcells)
            adot = np.zeros((len(qids), n), dtype=np.float64)
            cdotr = np.zeros(n, dtype=np.float64)
            for s in range(m):
                pos = np.searchsorted(per[s][0], c[:, s])
                adot += luts[s][:, pos]
                cdotr += cc[s][ci, pos]
            numer = qc[:, ci] + adot                       # (n_q, n)
            rnsq = pdf["recon_norm"].to_numpy() ** 2
            denom = np.sqrt(cnorm_sq[ci] + 2.0 * cdotr + rnsq)
            acos = np_round_half_away(
                numer / (qn[:, None] * denom[None, :]), 6
            )
            keep = np.zeros((len(qids), n), dtype=bool)
            for i, pa in enumerate(probe_arrs):
                keep[i] = np.isin(rowcells, pa)
            km = keep.reshape(-1)
            yield pd.DataFrame({
                "query_id": np.repeat(qids, n)[km],
                "neighbor_id": np.tile(pdf["neighbor_id"].to_numpy(),
                                       len(qids))[km],
                "acos": acos.reshape(-1)[km],
            })

    return (
        index.mapInPandas(
            adc_res,
            schema="query_id long, neighbor_id long, acos double",
        )
        .where(F.col("neighbor_id") != F.col("query_id"))
    )


class IvfPqIndex:
    """A built IVF-PQ index: the driver-side quantizers (centroids +
    PQ codebooks — broadcast-sized by construction) plus the
    distributed code relation ``(neighbor_id, codes, recon_norm,
    cell)``.  Build once with :func:`ivfpq_build`, serve any number of
    query batches with ``ivfpq_topk(..., index=...)``, release with
    :meth:`unpersist` (ADVICE r05 #2 — callers no longer depend on the
    session's ``clearCache`` to reclaim the cached relation).

    With ``path`` the code relation is written to parquet and read
    back, so the serve plan scans the materialized index file — the
    production layout (at cluster scale: a table bucketed by ``cell``)
    — and survives a ``spark.catalog.clearCache()`` between query
    batches, which would silently re-run the whole build off a merely
    ``persist()``-ed relation."""

    def __init__(self, index: DataFrame, cb, cells, cmat, *,
                 n_cells: int, m: int, k_codes: int, sub_dim: int,
                 id_col: str, vec_col: str, by_residual: bool,
                 path: str | None = None,
                 _cached: tuple[DataFrame, ...] = ()):
        self.index = index
        self.cb = cb
        self.cells = cells        # ascending cell ids (numpy int64)
        self.cmat = cmat          # centroid matrix, row i ↔ cells[i]
        self.n_cells = n_cells
        self.m = m
        self.k_codes = k_codes
        self.sub_dim = sub_dim
        self.id_col = id_col
        self.vec_col = vec_col
        self.by_residual = by_residual
        self.path = path
        self._cached = _cached

    def unpersist(self) -> None:
        """Release every relation this index holds cached.  A
        path-backed index keeps its parquet files (delete the
        directory to reclaim disk); serve plans created before this
        call recompute lazily if re-executed."""
        for df in self._cached:
            df.unpersist()
        self._cached = ()


def ivfpq_build(corpus: DataFrame, n_cells: int = 16, m: int = _PQ_M,
                k_codes: int = _PQ_K, sub_dim: int = _PQ_SUBDIM,
                id_col: str = "vec_id", vec_col: str = "embedding",
                by_residual: bool = False,
                path: str | None = None) -> IvfPqIndex:
    """Build the IVF-PQ index (VERDICT r05 #3 — build/serve split):
    one TakeOrdered seed scan, one Lloyd pass (the persisted cell
    assignment = the inverted file), one Arrow encode pass appending
    codes + reconstruction norm.  Deterministic end to end (md5 seed
    order, rounded means/argmins), so serving from a prebuilt index is
    bit-identical to the fused build+serve path — q_sim_ann_ivfpq's
    oracle replays the build every time precisely because rebuilding
    changes nothing.

    ``path``: write the code relation there as parquet and serve from
    the read-back scan (see :class:`IvfPqIndex`); otherwise the
    relation is ``persist()``-ed and eagerly materialized."""
    import numpy as np

    # one TakeOrdered seed scan, shared between the coarse quantizer
    # and the PQ codebooks when their seed counts coincide
    seed_rows = ivf_seeds(corpus, n_cells, id_col, vec_col,
                          scheme="portable").collect()
    seed_cent = corpus.sparkSession.createDataFrame(
        seed_rows, "cell int, __cv array<double>"
    )
    cent, assigned = ivf_index(corpus, n_cells, id_col, vec_col,
                               lloyd_iters=1, scheme="portable",
                               round_assign=6, seed_cent=seed_cent)
    cent_rows = sorted(cent.collect(), key=lambda r: r["cell"])
    cells = np.array([r["cell"] for r in cent_rows], dtype=np.int64)
    cmat = np.array([r["__cv"] for r in cent_rows], dtype=np.float64)

    if by_residual:
        # residual relation: one broadcast join against the n_cells-row
        # centroid relation, subtraction fused into the scan stage
        res = assigned.join(F.broadcast(cent), "cell").select(
            id_col,
            "cell",
            F.zip_with(
                as_double(F.col(vec_col)), F.col("__cv"),
                lambda x, c: x - c,
            ).alias("__res"),
        )
        cb = pq_train(res, m, k_codes, sub_dim, id_col, "__res")
        index = pq_assign_np(res, cb, mode="encode", m=m,
                             sub_dim=sub_dim, id_col=id_col,
                             vec_col="__res", carry_cell=True)
    else:
        cb = pq_train(corpus, m, k_codes, sub_dim, id_col, vec_col,
                      seed_rows=seed_rows if k_codes == n_cells else None)
        index = pq_assign_np(assigned, cb, mode="encode", m=m,
                             sub_dim=sub_dim, id_col=id_col,
                             vec_col=vec_col, carry_cell=True)

    if path is not None:
        index.write.mode("overwrite").parquet(path)
        assigned.unpersist()   # the encode pass just drained it
        index = corpus.sparkSession.read.parquet(path)
        cached: tuple[DataFrame, ...] = ()
    else:
        index = index.persist()
        index.count()          # materialize: serve plans read the cache
        cached = (index, assigned)
    return IvfPqIndex(index, cb, cells, cmat, n_cells=n_cells, m=m,
                      k_codes=k_codes, sub_dim=sub_dim, id_col=id_col,
                      vec_col=vec_col, by_residual=by_residual,
                      path=path, _cached=cached)


def _encode_with_frozen_quantizers(index: IvfPqIndex,
                                   new_corpus: DataFrame) -> DataFrame:
    """The shared ingest kernel: assign a vector batch to the index's
    FROZEN cells and encode against its FROZEN codebooks — two Arrow
    passes over only the batch.  Deterministic (rounded argmins, fixed
    codebooks): the same rows always produce byte-identical code rows,
    which is what makes replayed ingest batches idempotent."""
    spark = new_corpus.sparkSession
    cent = spark.createDataFrame(
        [(int(c), [float(x) for x in row])
         for c, row in zip(index.cells, index.cmat)],
        "cell int, __cv array<double>",
    )
    assigned = ivf_assign_np(new_corpus, cent, index.id_col,
                             index.vec_col, round_assign=6)
    if index.by_residual:
        res = assigned.join(F.broadcast(cent), "cell").select(
            index.id_col,
            "cell",
            F.zip_with(
                as_double(F.col(index.vec_col)), F.col("__cv"),
                lambda x, c: x - c,
            ).alias("__res"),
        )
        return pq_assign_np(res, index.cb, mode="encode", m=index.m,
                            sub_dim=index.sub_dim, id_col=index.id_col,
                            vec_col="__res", carry_cell=True)
    return pq_assign_np(assigned, index.cb, mode="encode",
                        m=index.m, sub_dim=index.sub_dim,
                        id_col=index.id_col,
                        vec_col=index.vec_col, carry_cell=True)


def ivfpq_append(index: IvfPqIndex, new_corpus: DataFrame) -> IvfPqIndex:
    """Append a new vector batch to a built IVF-PQ index WITHOUT
    retraining — the production ingest shape: the quantizers (coarse
    centroids + PQ codebooks) are versioned artifacts refreshed on a
    retrain schedule, while the inverted file grows with every
    ingested batch.  Two Arrow passes over ONLY the new batch: assign
    to the FROZEN cells (:func:`ivf_assign_np` vs the index's centroid
    matrix, the portable rounded-argmax mode) and encode against the
    FROZEN codebooks (:func:`pq_assign_np`).  Appending batch B to an
    index built on batch A yields code-for-code the index that a
    from-scratch encode of A∪B against A's quantizers would — pinned
    by tests/test_llm_ops.py::test_ivfpq_append_matches_frozen_encode
    — so recall properties degrade only as far as the quantizers age,
    never from the append mechanism.

    Path-backed index: the new codes are APPENDED to the same parquet
    path (at cluster scale: an atomic partition add to the index
    table) and the merged relation re-read; persist-backed: a union,
    persisted and materialized (release via
    :meth:`IvfPqIndex.unpersist` on the RETURNED index, which also
    holds the parent's cached relations)."""
    spark = new_corpus.sparkSession
    new_codes = _encode_with_frozen_quantizers(index, new_corpus)
    if index.path is not None:
        new_codes.write.mode("append").parquet(index.path)
        merged = spark.read.parquet(index.path)
        cached: tuple[DataFrame, ...] = ()
    else:
        merged = index.index.union(
            new_codes.select(*index.index.columns)
        ).persist()
        merged.count()
        cached = (merged,) + index._cached
    return IvfPqIndex(merged, index.cb, index.cells, index.cmat,
                      n_cells=index.n_cells, m=index.m,
                      k_codes=index.k_codes, sub_dim=index.sub_dim,
                      id_col=index.id_col, vec_col=index.vec_col,
                      by_residual=index.by_residual, path=index.path,
                      _cached=cached)


def foreach_batch_ivfpq_ingest(index: IvfPqIndex, ingest_path: str):
    """STREAMING ANN ingest — the foreachBatch twin of
    :func:`ivfpq_append`: each micro-batch of vectors is encoded
    against the index's frozen quantizers and landed at
    ``{ingest_path}/b{batch_id}`` with ``mode("overwrite")``.

    Replay safety under at-least-once foreachBatch: streaming batch
    ids are stable across checkpoint restarts, the encode is
    deterministic, and overwrite replaces the batch directory — a
    replayed batch rewrites byte-identical files instead of
    duplicating codes.  The index itself is NOT touched per batch
    (concurrent serve keeps reading a consistent snapshot); call
    :func:`ivfpq_ingest_merge` after (or on a schedule) to fold the
    landed codes in — the same quantizer-freshness contract as
    :func:`ivfpq_append`."""
    if index.path is None:
        raise ValueError(
            "streaming ingest requires a path-backed index "
            "(ivfpq_build(..., path=...)) — a persist-backed relation "
            "cannot absorb appends across micro-batches/restarts"
        )

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        codes = _encode_with_frozen_quantizers(index, batch_df)
        codes.write.mode("overwrite").parquet(
            f"{ingest_path}/b{int(batch_id):08d}"
        )

    return _write


def ivfpq_ingest_merge(index: IvfPqIndex, ingest_path: str) -> IvfPqIndex:
    """Fold codes landed by :func:`foreach_batch_ivfpq_ingest` into the
    path-backed index: one recursive read of the ingest staging tree,
    appended to the index parquet (at cluster scale: an atomic
    partition add), then the CONSUMED staging tree is cleared — merge
    cycles are therefore repeatable (merge; more ingest; merge again)
    without double-appending a batch that was already folded in.
    Returns the refreshed :class:`IvfPqIndex`; run
    :func:`ivfpq_check_coverage` afterwards if the serve corpus may
    lag the ingest.

    The clear happens AFTER the append succeeds; a crash between the
    two leaves the staging tree intact and the next merge re-appends
    it — pair with a compaction/dedup pass on ``neighbor_id`` if that
    at-least-once window matters operationally.

    Concurrent-writer safety (ADVICE r07/r08 medium): the staging
    entry list is SNAPSHOTTED up front, exactly those batch dirs are
    read, and ONLY those dirs are deleted — a live
    :func:`foreach_batch_ivfpq_ingest` stream landing new batch dirs
    while the merge runs loses nothing; the new dirs simply wait for
    the next merge cycle (compact_sink's snapshot discipline).  A dir
    is consumable only once its ``_SUCCESS`` job-commit marker exists:
    a batch MID-WRITE at snapshot time already shows committed part
    files (but no marker yet), and reading+deleting it would append a
    partial batch while destroying the rest (self-review r09) — such
    dirs simply wait; a writer that crashed pre-commit leaves no
    marker either, and the at-least-once replay of that batch id
    overwrites the dir and commits it properly."""
    import os
    import shutil

    spark = index.index.sparkSession
    if not os.path.isdir(ingest_path):
        return index  # nothing landed: merge is a no-op, index unchanged
    # Snapshot FIRST: every decision below — what to read, what to
    # delete — is made against this frozen list, never a re-listing.
    snapshot = sorted(
        os.path.join(ingest_path, entry)
        for entry in os.listdir(ingest_path)
    )
    consumed: list[str] = []        # committed dirs with codes: read + delete
    empty_committed: list[str] = []  # committed no-op dirs: delete only
    stray: list[str] = []            # non-directory entries: warn, leave
    skipped_uncommitted: list[str] = []
    for d in snapshot:
        if not os.path.isdir(d):
            # a stray file in the staging root was never written by
            # foreach_batch_ivfpq_ingest — deleting unknown user data
            # is worse than warning, so it is reported, not removed
            # (ADVICE r09 low #1)
            stray.append(d)
            continue
        # ORDER MATTERS (self-review r10): the _SUCCESS probe must come
        # BEFORE the part-file walk.  Writers create the marker LAST,
        # so marker-present at probe time implies the part files were
        # already complete when we subsequently walk the dir.  The
        # reverse order has a TOCTOU hole: a batch committing between
        # the walk (sees no parquet yet) and the marker probe (sees
        # _SUCCESS) would classify as an empty no-op dir and be
        # DELETED — committed vectors silently lost with the batch id
        # already checkpointed as done.
        committed = os.path.exists(os.path.join(d, "_SUCCESS"))
        has_parquet = any(
            f.endswith(".parquet")
            for _, _, fs in os.walk(d) for f in fs
        )
        if not committed:
            # no marker + part files = a batch mid-write (see below);
            # no marker + nothing = a writer that crashed before
            # writing anything — either way the at-least-once replay
            # of that batch id overwrites and commits the dir
            if has_parquet:
                skipped_uncommitted.append(d)
            continue
        # A committed dir with NO part files is an empty micro-batch
        # (Spark commits _SUCCESS even for zero rows): a consumable
        # no-op — delete it now, else staging accumulates forever
        # (ADVICE r09 low #1).
        (consumed if has_parquet else empty_committed).append(d)
    if stray:
        import sys as _sys

        print(
            f"ivfpq_ingest_merge: {len(stray)} non-directory entr"
            f"{'y' if len(stray) == 1 else 'ies'} in staging root "
            f"{ingest_path} left untouched: "
            + ", ".join(os.path.basename(s) for s in stray[:5])
            + (", …" if len(stray) > 5 else ""),
            file=_sys.stderr,
        )
    if skipped_uncommitted:
        # A dir with part files but no marker is normally a batch
        # MID-WRITE (it merges next cycle), but if the session disables
        # commit markers (mapreduce.fileoutputcommitter.marksuccessfuljobs
        # =false) EVERY dir looks like that and the merge would no-op
        # forever while staging grows — make the skip observable
        # (self-review r09 #2).  warnings.warn is ALSO emitted for the
        # test-visible signal, but its once-per-message dedup would go
        # silent on a permanently stuck dir, so the per-cycle stderr
        # line carries the operational signal.
        import sys as _sys
        import warnings

        names = ", ".join(os.path.basename(d)
                          for d in skipped_uncommitted[:5])
        msg = (
            f"ivfpq_ingest_merge: skipping {len(skipped_uncommitted)} "
            f"staging dir(s) without a _SUCCESS commit marker ({names}"
            f"{', …' if len(skipped_uncommitted) > 5 else ''}) — "
            "mid-write batches merge next cycle; if markers are "
            "DISABLED via mapreduce.fileoutputcommitter."
            "marksuccessfuljobs=false these dirs will never merge"
        )
        print(msg, file=_sys.stderr)
        warnings.warn(msg, stacklevel=2)
    for entry in empty_committed:
        shutil.rmtree(entry, ignore_errors=True)
    if not consumed:
        return index  # nothing landed: merge is a no-op, index unchanged
    landed = (
        spark.read.option("recursiveFileLookup", "true")
        .parquet(*consumed)
    )
    landed.select(*index.index.columns).write.mode("append").parquet(
        index.path
    )
    for entry in consumed:
        shutil.rmtree(entry, ignore_errors=True)
    merged = spark.read.parquet(index.path)
    return IvfPqIndex(merged, index.cb, index.cells, index.cmat,
                      n_cells=index.n_cells, m=index.m,
                      k_codes=index.k_codes, sub_dim=index.sub_dim,
                      id_col=index.id_col, vec_col=index.vec_col,
                      by_residual=index.by_residual, path=index.path)


def ivfpq_check_coverage(index: "IvfPqIndex", corpus: DataFrame) -> None:
    """Assert the serve-time contract of ``ivfpq_topk(index=...)``:
    every indexed id must be present in ``corpus`` (the exact-vector
    re-rank side), else those rows silently vanish from the top-k.
    One anti-join over the index's id column — a maintenance check to
    run after :func:`ivfpq_append` / an index restore, deliberately
    NOT folded into the per-query serve path (ADVICE r06)."""
    missing = (
        index.index.select(F.col("neighbor_id").alias(index.id_col))
        .join(corpus.select(index.id_col), index.id_col, "left_anti")
    )
    sample = [r[0] for r in missing.limit(5).collect()]
    if sample:
        raise ValueError(
            f"IVF-PQ index covers ids absent from the re-rank corpus "
            f"(first few: {sample}) — pass the full indexed corpus to "
            "ivfpq_topk or rebuild the index"
        )


def ivfpq_topk(corpus: DataFrame, queries: DataFrame, topk: int = 10,
               shortlist: int = 30, n_cells: int = 16, nprobe: int = 6,
               m: int = _PQ_M, k_codes: int = _PQ_K,
               sub_dim: int = _PQ_SUBDIM, id_col: str = "vec_id",
               vec_col: str = "embedding", round_cos: int | None = 4,
               by_residual: bool = False,
               index: IvfPqIndex | None = None) -> DataFrame:
    """IVF-PQ: the production composition of the coarse quantizer
    (cell pruning, :func:`ivf_index`) and product quantization
    (compressed-domain ADC scoring, :func:`pq_train`/:func:`pq_encode`)
    — per query only the ``nprobe`` nearest cells' CODES are scored,
    so the steady-state read is ~(nprobe/n_cells)·m bytes per corpus
    row.  By default codes are trained/encoded on the raw vectors
    (FAISS's ``by_residual=false`` layout — the engine-portable,
    oracle-replayed mode q_sim_ann_ivfpq registers).

    ``by_residual=True`` is FAISS's default refinement: codebooks are
    trained on (vector − assigned centroid), so each cell's codes
    spend their 16 levels on the LOCAL spread instead of the global
    one.  The approximate vector becomes centroid + decoded residual;
    its cosine against the query decomposes into driver-precomputable
    tables (see :func:`_adc_scored_residual`), so scoring stays m
    lookups per row plus a per-row norm fold (the ‖c + r̂‖ term).
    Operator mode only: recall + exactness-at-open-knobs are pinned in
    tests/test_llm_ops.py::test_ivfpq_residual_recall_and_exactness;
    no DuckDB oracle claims it.

    ``index``: a prebuilt :class:`IvfPqIndex` (the build/serve split,
    :func:`ivfpq_build` — the corpus passes run once, this call then
    only probes + ADC-scans + re-ranks; the index's ``m``/``sub_dim``/
    ``by_residual`` override the eponymous arguments).  With
    ``index=None`` the index is built in-call (persist-backed, the
    pre-split behavior); callers that need an explicit release build
    the index themselves and hold the handle
    (:meth:`IvfPqIndex.unpersist` — ADVICE r05 #2).

    Query: probe cells are chosen driver-side from the index's
    centroid matrix (n_cells rows — the same bounded collect every
    IVF probe path makes) with the IVF ordering (rounded cosine DESC,
    cell ASC); the ADC kernel scores only probed (query, cell) pairs;
    the exact re-rank touches shortlist rows per query.
    Engine-portable end to end: every rounding/tie-break matches the
    q_sim_ann_ivf and q_sim_ann_pq oracles' shared conventions, so a
    DuckDB twin replays the composition exactly."""
    import numpy as np

    if index is None:
        index = ivfpq_build(corpus, n_cells, m, k_codes, sub_dim,
                            id_col, vec_col, by_residual)
    else:
        # CONTRACT (ADVICE r06): with a prebuilt index, ``corpus`` is
        # the exact-vector side of the re-rank and MUST contain every
        # indexed id — an indexed row absent from ``corpus`` (e.g. the
        # pre-append corpus after ivfpq_append) silently drops out of
        # the final top-k.  Run :func:`ivfpq_check_coverage` after any
        # append/restore when in doubt (one anti-join — deliberately
        # not on the per-query serve path).  Quantizer-shape knobs are
        # frozen INTO the index; an explicitly-passed conflicting
        # value is a caller bug, not an override — raise, never
        # silently ignore.
        _defaults = {"n_cells": 16, "nprobe": None, "m": _PQ_M,
                     "k_codes": _PQ_K, "sub_dim": _PQ_SUBDIM,
                     "by_residual": False}
        for knob, passed in (("n_cells", n_cells), ("m", m),
                             ("k_codes", k_codes), ("sub_dim", sub_dim),
                             ("by_residual", by_residual)):
            indexed = getattr(index, knob)
            if passed != _defaults[knob] and passed != indexed:
                raise ValueError(
                    f"ivfpq_topk: {knob}={passed!r} conflicts with the "
                    f"prebuilt index's frozen {knob}={indexed!r} — "
                    "quantizer knobs are set at ivfpq_build time"
                )
    m, sub_dim = index.m, index.sub_dim
    cells, cmat = index.cells, index.cmat
    cnorm = np.sqrt((cmat * cmat).sum(axis=1))
    qrows = _collect_query_batch(queries, id_col, vec_col)
    probes: dict[int, set] = {}
    for r in qrows:
        qv = np.asarray(r[vec_col], dtype=np.float64)
        qn = np.sqrt((qv * qv).sum())
        cos = np_round_half_away((cmat @ qv) / (cnorm * qn), 6)
        # IVF probe order: rounded cosine DESC, cell ASC — np.lexsort
        # keys are last-key-primary, both ascending
        order = np.lexsort((cells, -cos))[:nprobe]
        probes[int(r[id_col])] = {int(c) for c in cells[order]}

    if index.by_residual:
        scored = _adc_scored_residual(
            index.index, index.cb, qrows, cells, cmat, m, sub_dim,
            id_col, vec_col, probes)
    else:
        scored = _adc_scored(index.index, queries, index.cb, m, sub_dim,
                             id_col, vec_col, probes=probes, qrows=qrows)
    return _adc_finish(scored, corpus, queries, topk, shortlist,
                       id_col, vec_col, round_cos)


def gram_partials(df: DataFrame, dim: int, id_col: str = "vec_id",
                  vec_col: str = "embedding") -> DataFrame:
    """Upper-triangle Gram/sum partials for the corpus covariance in
    ONE map-side pass: per Arrow batch emit dim·(dim+1)/2 rows
    ``(i, j, sxy, sxi, syj, cnt)`` where ``sxy = Σ x_i·x_j``,
    ``sxi/syj`` are the component sums and ``cnt`` the batch row
    count; summing the partials per (i, j) downstream yields exact
    global sums.  This is the classic distributed-covariance shape:
    the partial state is O(dim²) PER TASK — independent of row count —
    so a 100 TB corpus reduces through an aggregate whose input is
    (#tasks · dim²/2) rows, and the corpus itself is read exactly
    once with zero shuffles before that tiny aggregate.

    Why a Python kernel (the engine bans row-Python): ``X·Xᵀ``
    accumulation is a dense matrix product — the same shape argument
    as :func:`lsh_buckets_np` / :func:`ivf_assign_np`; a JVM
    double-explode form fans each row into dim² join rows (4096× row
    amplification at dim 64) before aggregating, paying the shuffle
    this kernel exists to avoid.  numpy's pairwise summation inside a
    batch differs from a sequential fold at the last ulp; consumers
    round their moments (the q_agg_vector_mean discipline), so
    cross-engine hash parity holds at the rounded scale.

    NULL / wrong-length vectors are dropped (no content to correlate —
    callers mirror the filter on their oracle side).  Rows with
    NON-FINITE content (a NULL element arrives here as NaN via Arrow;
    Inf from upstream arithmetic) are masked too: one poisoned element
    would otherwise turn the GLOBAL sxy/sxi sums for its dimensions
    into NaN, silently diverging from a SQL oracle whose SUM skips
    NULL products while COUNT(*) still counts the row (ADVICE r11).
    Since r12 callers exclude non-finite rows SYMMETRICALLY via
    :func:`admit_predicate` (mirrored as ``isnan(x) OR isinf(x)`` in
    the oracle CTEs), so this mask is defense-in-depth for callers
    without an oracle, not the parity mechanism."""
    import numpy as np
    import pandas as pd

    iu, ju = (a.astype("int64") for a in np.triu_indices(dim))

    def gen(it):
        for pdf in it:
            vecs = [
                np.asarray(v, dtype=np.float64)
                for v in pdf[vec_col]
                if v is not None and len(v) == dim
            ]
            if not vecs:
                continue
            x = np.stack(vecs)
            x = x[np.isfinite(x).all(axis=1)]
            if not x.shape[0]:
                continue
            g = x.T @ x
            s = x.sum(axis=0)
            yield pd.DataFrame(
                {
                    "i": iu,
                    "j": ju,
                    "sxy": g[iu, ju],
                    "sxi": s[iu],
                    "syj": s[ju],
                    "cnt": np.int64(x.shape[0]),
                }
            )

    return df.select(id_col, vec_col).mapInPandas(
        gen,
        schema=("i long, j long, sxy double, sxi double, syj double, "
                "cnt long"),
    )


def admit_predicate(dim: int, vec_col: str = "embedding") -> Column:
    """The vector admission predicate shared by every moment/centroid
    computation (q_embed_covariance / _pca / _outlier /
    _separation, the streaming outlier gate, and the covariance
    journal): non-NULL, correct length, no NULL elements, no
    NON-FINITE elements.  The finiteness leg matters for oracle
    parity: a stored NaN/Inf (legal in a parquet float column) would
    poison Spark-side numpy sums where DuckDB's SUM propagates it
    differently, and an Inf mean crashes the driver-side FLOOR
    rounding — excluding the row identically on both engine sides
    (``isnan(x) OR isinf(x)`` in the oracle CTEs) keeps every moment
    query comparable.  NEVER evaluates to SQL NULL — ``isNotNull()``
    is false (not null) for a NULL vector, ``false AND x`` is false
    for any x, and the NULL-element disjunct runs before the
    finiteness test can see a NULL — so ``where(~pred)`` selects
    exactly the rejected rows (a nullable predicate would silently
    drop NULL-vector rows from BOTH sides of the split)."""
    c = F.col(vec_col)
    inf = F.lit(float("inf"))
    return (
        c.isNotNull()
        & (F.size(c) == dim)
        & ~F.exists(c, lambda x: x.isNull())
        & ~F.exists(c, lambda x: F.isnan(x) | (F.abs(x) == inf))
    )


def centroid_stats(em: DataFrame, dim: int = 64,
                   vec_col: str = "embedding") -> tuple[list[float], float]:
    """The FROZEN corpus centroid for cosine gating: per-dimension
    means over admitted vectors, each rounded with the FLOOR half-up
    form (functions.round_half_up's arithmetic — bit-identical in any
    IEEE engine), plus the centroid norm as a SEQUENTIAL Python fold
    over the rounded means (bit-identical to DuckDB's
    list_dot_product fold — the q_embed_pca parity discipline).  One
    scan collapsing map-side to ``dim`` mean cells; the collect is
    the bounded kmeans-centroid pattern.  Shared by q_embed_outlier
    (queries/llm.py) and the streaming outlier gate
    (streaming/monitor.py::outlier_gate_step) so batch
    and stream score against the SAME arithmetic by construction."""
    import math

    p = float(10**6)
    rows = (
        em.where(admit_predicate(dim, vec_col))
        .select(F.posexplode(vec_col).alias("pos", "x"))
        .groupBy("pos")
        .agg(F.avg(F.col("x").cast("double")).alias("m"))
        .collect()
    )
    cv = [0.0] * dim
    for r in rows:
        cv[r.pos] = math.floor(r.m * p + 0.5) / p
    acc = 0.0
    for x in cv:
        acc = acc + x * x
    return cv, math.sqrt(acc)


def centroid_cosine(cv: list[float], cnorm: float,
                    vec_col: str = "embedding") -> Column:
    """Rounded cosine of a vector column against a frozen centroid:
    ``F.aggregate``'s sequential fold over ``zip_with`` products
    against ``len(cv)`` LITERAL doubles — whole-stage codegen, no
    join, no shuffle, no Python — with the exact division /
    multiplication order the DuckDB oracle uses
    (``dot / (|v| · cnorm)``), rounded with the FLOOR half-up form.
    NULL/short vectors fold to a NULL or wrong-sized product — callers
    gate with :func:`admit_predicate` first."""
    from level2_to_cassandra_spark.functions import round_half_up

    dbl = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    lit_cv = F.array(*[F.lit(float(x)) for x in cv])
    dot = F.aggregate(
        F.zip_with(dbl, lit_cv, lambda a, b: a * b),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    vn = vector_norm(vec_col)
    return round_half_up(dot / (vn * F.lit(float(cnorm))), 6)


def vector_norm(vec_col: str = "embedding") -> Column:
    """Euclidean norm of a vector column via the same sequential
    codegen'd fold as :func:`centroid_cosine`'s dot product."""
    dbl = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    return F.sqrt(
        F.aggregate(
            F.zip_with(dbl, dbl, lambda a, b: a * b),
            F.lit(0.0),
            lambda a, x: a + x,
        )
    )
