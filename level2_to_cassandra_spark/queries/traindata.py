"""Training-data pipeline queries beyond pairwise dedup: near-dup
clustering (pairs → components → canonical docs), document chunking,
sequence packing, and train/eval contamination detection.

These are the operations a pretraining corpus pipeline runs between
"raw documents" and "token batches"; none exist in the reference
(a streaming ETL daemon — see SURVEY.md §0), so they cite only the
fixture schema.  All four are pure JVM DataFrame plans except the
bounded convergence loop inside connected components (iterations, not
rows — see operators/dedup.py:connected_components).

Oracle notes: the clustering oracle uses a recursive CTE (transitive
closure) — exponentially worse than the engine's label propagation but
exact at fixture scale, which is the point of an oracle.  Chunking
slices are 1-based inclusive on both engines (Spark ``slice`` length is
clipped at the array end; DuckDB ``list_slice`` end is clipped too).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from level2_to_cassandra_spark.catalog import load_table, spread_scan, staged
from level2_to_cassandra_spark.functions import (
    round_half_up,
    round_signless,
    round_signless_sql,
)
from level2_to_cassandra_spark.operators import dedup, export, minhash, text
from level2_to_cassandra_spark.registry import register

#: Same pair relation as q_llm_dedup_fuzzy (queries/llm.py) — the
#: clustering query consumes the pairs that query emits.
_PAIR_CTES = """
    postings AS (
        SELECT DISTINCT doc_id, concat_ws(' ', w[i], w[i+1], w[i+2]) AS shingle
        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             LATERAL (SELECT unnest(range(1, len(w) - 1)) AS i)
        WHERE len(w) >= 3),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM postings GROUP BY doc_id),
    co AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
        FROM postings a JOIN postings b ON a.shingle = b.shingle
        WHERE a.doc_id < b.doc_id
        GROUP BY 1, 2),
    pairs AS (
        SELECT id_a, id_b
        FROM co
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE ROUND(inter::DOUBLE / (sa.n + sb.n - inter), 6) >= 0.8)
"""


@register(
    "q_dedup_cluster",
    oracle=f"""
    WITH RECURSIVE {_PAIR_CTES},
    edges AS (SELECT id_a AS s, id_b AS d FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    reach(s, d) AS (
        SELECT s, d FROM edges
        UNION
        SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
    lab AS (
        SELECT s AS doc_id, LEAST(s, MIN(d)) AS canonical_id
        FROM reach GROUP BY s)
    SELECT doc_id, canonical_id,
           CAST(COUNT(*) OVER (PARTITION BY canonical_id) AS BIGINT)
               AS cluster_size
    FROM lab
    """,
)
def q_dedup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: the q_llm_dedup_fuzzy pairs (3-shingle
    Jaccard ≥ 0.8) transitively closed into connected components, each
    doc labeled with its component's canonical (minimum) id + cluster
    size.  This is the decision step of corpus dedup — keep the rows
    where doc_id == canonical_id, drop the rest — which pairwise output
    alone cannot express (near-duplication is not transitive)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = (
        minhash.exact_jaccard_pairs(docs, threshold=0.79, k=3,
                                    max_shingle_frac=0.01)
        .where(F.round(F.col("jaccard"), 6) >= 0.8)
        .select("id_a", "id_b")
        # the component loop iterates over this relation — compute the
        # (expensive) pair join once, not once per iteration
        .persist()
    )
    labels = dedup.connected_components(pairs)
    return labels.select(
        F.col("node").alias("doc_id"),
        F.col("label").alias("canonical_id"),
        F.count(F.lit(1))
        .over(Window.partitionBy("label"))
        .alias("cluster_size"),
    )


@register(
    "q_dedup_cross_source",
    # Pair machinery verbatim from _PAIR_CTES (the q_dedup_cluster
    # chain, = q_llm_dedup_fuzzy's oracle); the per-pair jaccard is
    # rounded-at-6 then lifted to EXACT integer millionths, so the
    # per-cell mean is an order-free integer SUM with ONE final
    # correctly-rounded division (the ECE/MRR integer-fold pattern);
    # LEAST/GREATEST on source strings is byte-order-identical.
    oracle=f"""
    WITH {_PAIR_CTES.strip().rstrip()},
    pj AS (
        SELECT id_a, id_b,
               CAST(ROUND(ROUND(inter::DOUBLE / (sa.n + sb.n - inter),
                                6) * 1000000, 0) AS BIGINT) AS ju
        FROM co
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE ROUND(inter::DOUBLE / (sa.n + sb.n - inter), 6) >= 0.8),
    cells AS (
        SELECT LEAST(da.source, db.source) AS src_lo,
               GREATEST(da.source, db.source) AS src_hi, ju
        FROM pj
        JOIN documents da ON da.doc_id = id_a
        JOIN documents db ON db.doc_id = id_b)
    SELECT src_lo, src_hi, CAST(COUNT(*) AS BIGINT) AS n_pairs,
           {round_signless_sql(
               "CAST(SUM(ju) AS DOUBLE)"
               " / CAST(1000000 * COUNT(*) AS DOUBLE)", 6)}
               AS avg_jaccard
    FROM cells GROUP BY src_lo, src_hi
    """,
    staging=("shingle_postings", "shingle_index", "shingle_sets", "doc_count"),
)
def q_dedup_cross_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-SOURCE DUPLICATION MATRIX — which sources duplicate
    which: the near-dup pairs (3-shingle Jaccard ≥ 0.8, exactly
    q_llm_dedup_fuzzy's relation) folded into an unordered
    source-pair contingency of pair count + mean similarity.  This is
    the decision input for source-level curation that per-pair output
    cannot answer: a source whose row is dominated by overlap with a
    higher-quality source is a candidate to DROP WHOLESALE (the
    "CommonCrawl already contains most of it" call), and the diagonal
    (src_lo = src_hi) is each source's internal near-dup rate.

    Cross-engine: the pair relation is the shared exact-PPJoin
    machinery; each pair's rounded-at-6 jaccard lifts to EXACT
    integer millionths so the per-cell mean is an order-free integer
    SUM with ONE final correctly-rounded division; LEAST/GREATEST on
    source strings makes the cell key order-insensitive identically
    on both engines.

    Scale shape: pairs serve from the STAGED shingle postings +
    ranked prefix index (candidate volume bounded by the prefix
    filter, the q_llm_dedup_fuzzy argument); the two source lookups
    BROADCAST the pair relation against pruned 2-column scans (the
    pair side is dedup-output-sized — orders of magnitude under the
    corpus; if a corpus ever near-dups quadratically the broadcast
    hint is the single line to drop, AQE then picks the shuffle
    join); the cell aggregate is ≤ #sources² rows.  No row-scale
    shuffle outside the staged pair machinery itself."""
    from level2_to_cassandra_spark.queries.llm import (
        _shingle_cap,
        _shingle_index_relation,
        _shingle_relation,
        _shingle_set_relation,
    )

    docs = load_table(spark, sf_dir, "documents")
    j = F.round(F.col("jaccard"), 6)
    pj = (
        minhash.exact_jaccard_pairs(
            docs, threshold=0.79, k=3,
            max_shingle_df=_shingle_cap(spark, sf_dir),
            postings=_shingle_relation(spark, sf_dir),
            ranked=_shingle_index_relation(spark, sf_dir),
            sets=_shingle_set_relation(spark, sf_dir),
        )
        .where(j >= 0.8)
        .select(
            "id_a", "id_b",
            F.round(j * 1000000, 0).cast("long").alias("ju"),
        )
    )
    srcs = docs.select("doc_id", "source")
    half = (
        srcs.withColumnRenamed("source", "src_a")
        .join(F.broadcast(pj), F.col("doc_id") == F.col("id_a"))
        .select("id_b", "src_a", "ju")
    )
    cells = (
        srcs.withColumnRenamed("source", "src_b")
        .join(F.broadcast(half), F.col("doc_id") == F.col("id_b"))
        .select(
            F.least("src_a", "src_b").alias("src_lo"),
            F.greatest("src_a", "src_b").alias("src_hi"),
            "ju",
        )
    )
    avg = F.sum("ju").cast("double") / (
        F.lit(1000000) * F.count(F.lit(1))
    ).cast("double")
    return cells.groupBy("src_lo", "src_hi").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        round_signless(avg, 6).alias("avg_jaccard"),
    )


_CHUNK_SIZE = 8
_CHUNK_STRIDE = 6  # 2-word overlap between consecutive chunks


@register(
    "q_chunk_docs",
    oracle=f"""
    SELECT doc_id,
           (i - 1) // {_CHUNK_STRIDE} AS chunk_idx,
           array_to_string(list_slice(w, i, i + {_CHUNK_SIZE} - 1), ' ')
               AS chunk_text,
           LEAST({_CHUNK_SIZE}, len(w) - i + 1) AS n_tokens
    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         LATERAL (SELECT unnest(range(1, len(w) + 1, {_CHUNK_STRIDE})) AS i)
    """,
)
def q_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size overlapping document chunking: windows of 8 tokens
    every 6 (2-token overlap carries context across the boundary), the
    step that turns documents into trainable sequences.  Pure JVM:
    ``sequence`` generates the chunk starts, ``posexplode`` emits one
    row per chunk, ``slice`` (length-clipped at the array end, exactly
    like the oracle's ``list_slice``) cuts the window — no Python per
    row, and chunking is embarrassingly parallel (no shuffle at all:
    the plan is scan → generate → project)."""
    docs = load_table(spark, sf_dir, "documents")
    w = text.tokens("text")
    return (
        spread_scan(docs)
        .select(
            "doc_id",
            F.col("text"),
            F.posexplode(F.sequence(F.lit(1), F.size(w), F.lit(_CHUNK_STRIDE)))
            .alias("pos", "start"),
        )
        .select(
            "doc_id",
            F.col("pos").cast("long").alias("chunk_idx"),
            F.array_join(
                F.slice(text.tokens("text"), F.col("start"), _CHUNK_SIZE), " "
            ).alias("chunk_text"),
            F.least(
                F.lit(_CHUNK_SIZE),
                F.size(text.tokens("text")) - F.col("start") + 1,
            )
            .cast("long")
            .alias("n_tokens"),
        )
    )


_CTX_TOKENS = 512
_PACK_BUCKETS_NIBBLE = 1  # bucket = first md5 nibble → 16 parallel packers

#: The greedy-packing placement CTEs shared (byte-identically — the
#: q_text_bigram_lm factoring precedent) by q_pack_sequences and the
#: q_pack_efficiency eval composed over its output.
_PACK_CTES = f"""toks AS (
        SELECT doc_id,
               substring(md5(CAST(doc_id AS VARCHAR)), 1, {_PACK_BUCKETS_NIBBLE})
                   AS bucket,
               len(string_split(text, ' ')) AS n_tokens
        FROM documents),
    placed AS (
        SELECT doc_id, bucket, n_tokens,
               CAST(COALESCE(SUM(n_tokens) OVER (
                   PARTITION BY bucket ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   // {_CTX_TOKENS} AS BIGINT) AS bin_id
        FROM toks)"""


@register(
    "q_pack_sequences",
    oracle=f"""
    WITH {_PACK_CTES}
    SELECT bucket, bin_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           MIN(doc_id) AS first_doc,
           MAX(doc_id) AS last_doc
    FROM placed
    GROUP BY bucket, bin_id
    """,
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: greedy contiguous assignment of documents into
    512-token context windows — the batch-construction step of a
    pretraining pipeline (padding waste ∝ unpacked shortfall).  Docs
    are packed WITHIN 16 md5-derived buckets: the running-total window
    is partitioned by bucket, so packing scales out instead of forcing
    a single global sort (a global ORDER BY window is the classic
    100 TB trap); md5 (not xxhash) so DuckDB replicates the bucketing
    bit-for-bit.  A document longer than the window overflows its bin
    (split-across-boundary is chunking's job — q_chunk_docs);
    ``bin_id`` jumps then leave bins sparse, not wrong."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.substring(
        F.md5(F.col("doc_id").cast("string")), 1, _PACK_BUCKETS_NIBBLE
    )
    toks = docs.select(
        "doc_id",
        bucket.alias("bucket"),
        F.size(text.tokens("text")).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    placed = toks.withColumn(
        "bin_id",
        F.floor(
            F.coalesce(F.sum("n_tokens").over(w), F.lit(0)) / _CTX_TOKENS
        ),
    )
    return placed.groupBy("bucket", "bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


@register(
    "q_pack_efficiency",
    # Pure integer algebra per bucket: bin counts and token sums are
    # exact BIGINTs, the lower bound is integer ceil-division, and the
    # two ratios are SINGLE divisions of exact ints rounded once —
    # identical doubles on both engines before ROUND (no float
    # accumulation anywhere).
    oracle=f"""
    WITH {_PACK_CTES},
    bins AS (
        SELECT bucket, bin_id, SUM(n_tokens) AS bin_tokens
        FROM placed GROUP BY bucket, bin_id)
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_bins,
           CAST(SUM(bin_tokens) AS BIGINT) AS total_tokens,
           CAST((SUM(bin_tokens) + {_CTX_TOKENS - 1}) // {_CTX_TOKENS}
               AS BIGINT) AS lb_bins,
           CAST(SUM(GREATEST({_CTX_TOKENS} - bin_tokens, 0)) AS BIGINT)
               AS pad_tokens,
           ROUND(SUM(bin_tokens)::DOUBLE
                 / (COUNT(*) * {_CTX_TOKENS}), 6) AS util,
           ROUND(((SUM(bin_tokens) + {_CTX_TOKENS - 1})
                  // {_CTX_TOKENS})::DOUBLE / COUNT(*), 6) AS efficiency
    FROM bins GROUP BY bucket
    """,
)
def q_pack_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PACKING-EFFICIENCY evaluation (VERDICT r15 gap #6) — the number
    a training-efficiency dashboard tracks next to fertility and
    mixture: how much context-window capacity the greedy packer
    actually fills, against the bin-packing LOWER BOUND
    ⌈Σ n_tokens / ctx⌉ no packer can beat.  Composes the REGISTERED
    q_pack_sequences plan (the q_ann_recall pattern: evals evaluate
    the plan that serves, not a reimplementation).  Per md5 bucket:
    occupied bins, total packed tokens, the lower bound, padding
    tokens Σ max(ctx − bin_tokens, 0) (overflow bins pad nothing —
    a >ctx bin is chunking's job, documented on q_pack_sequences),
    utilization = tokens / (bins · ctx), and efficiency = lower-bound
    bins / actual bins (1.0 = optimal).

    Scale shape: the pack output is already bin-grain; this adds ONE
    map-side-combined aggregate collapsing bins to the 16 bucket
    rows.  Integer token counts end to end; the only doubles are two
    final single divisions."""
    bins = q_pack_sequences(spark, sf_dir).select(
        "bucket", F.col("total_tokens").alias("bin_tokens")
    )
    agg = bins.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_bins"),
        F.sum("bin_tokens").cast("long").alias("total_tokens"),
        F.sum(
            F.greatest(F.lit(_CTX_TOKENS) - F.col("bin_tokens"), F.lit(0))
        ).cast("long").alias("pad_tokens"),
    )
    # integer ceil-division: Spark's integral `div` ≡ DuckDB's `//`
    lb = F.expr(f"(total_tokens + {_CTX_TOKENS - 1}) div {_CTX_TOKENS}")
    return agg.select(
        "bucket",
        "n_bins",
        "total_tokens",
        lb.cast("long").alias("lb_bins"),
        "pad_tokens",
        F.round(
            F.col("total_tokens").cast("double")
            / (F.col("n_bins") * _CTX_TOKENS), 6
        ).alias("util"),
        F.round(lb.cast("double") / F.col("n_bins"), 6).alias("efficiency"),
    )


@register(
    "q_contamination",
    oracle="""
    WITH posts AS (
        SELECT DISTINCT doc_id,
               CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cd'
                    THEN 'train' ELSE 'eval' END AS split,
               concat_ws(' ', w[i], w[i+1], w[i+2]) AS shingle
        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             LATERAL (SELECT unnest(range(1, len(w) - 1)) AS i)
        WHERE len(w) >= 3),
    train_sh AS (SELECT DISTINCT shingle FROM posts WHERE split = 'train'),
    sizes AS (SELECT doc_id, COUNT(*) AS n_shingles
              FROM posts WHERE split = 'eval' GROUP BY doc_id),
    ov AS (SELECT p.doc_id, COUNT(*) AS n_overlap
           FROM posts p JOIN train_sh t USING (shingle)
           WHERE p.split = 'eval' GROUP BY p.doc_id)
    SELECT s.doc_id,
           CAST(s.n_shingles AS BIGINT) AS n_shingles,
           CAST(o.n_overlap AS BIGINT) AS n_overlap,
           ROUND(o.n_overlap::DOUBLE / s.n_shingles, 6) AS contam_frac
    FROM sizes s JOIN ov o USING (doc_id)
    """,
    staging=("shingle_postings",),
)
def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval contamination: for every eval-split document (same
    deterministic md5 split as q_sample_split), how many of its 3-word
    shingles also occur anywhere in the train split — the
    decontamination check run before an eval set is trusted.  The join
    is eval-postings ⋈ DISTINCT train shingles (an equi-join on the
    shingle, semi-join shaped): the train side is deduplicated before
    the join so a boilerplate shingle contributes one row, not its
    document frequency — the same hot-key discipline as the dedup
    operators.  Emits only contaminated docs (n_overlap ≥ 1).

    The distinct (doc, 3-gram) postings are EXACTLY the materialized
    shingle-postings staging table the lexical dedup family serves
    from (queries/llm.py::_shingle_relation, r13), and the split is a
    pure function of the id — so the three plan branches read the
    staged parquet instead of re-shingling the corpus per call."""
    from level2_to_cassandra_spark.queries.llm import _shingle_relation

    split = F.when(
        F.substring(F.md5(F.col("id").cast("string")), 1, 2) < "cd",
        "train",
    ).otherwise("eval")
    posts = _shingle_relation(spark, sf_dir).select(
        "id", split.alias("split"), "shingle"
    )
    train_sh = posts.where(F.col("split") == "train").select("shingle").distinct()
    eval_posts = posts.where(F.col("split") == "eval")
    sizes = eval_posts.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_shingles")
    )
    overlap = (
        eval_posts.join(train_sh, "shingle")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    return (
        sizes.join(overlap, "id")
        .select(
            F.col("id").alias("doc_id"),
            "n_shingles",
            "n_overlap",
            F.round(
                F.col("n_overlap").cast("double") / F.col("n_shingles"), 6
            ).alias("contam_frac"),
        )
    )


@register(
    "q_dedup_keep",
    oracle=f"""
    WITH RECURSIVE {_PAIR_CTES},
    edges AS (SELECT id_a AS s, id_b AS d FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    reach(s, d) AS (
        SELECT s, d FROM edges
        UNION
        SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
    lab AS (
        SELECT s AS doc_id, LEAST(s, MIN(d)) AS canonical_id
        FROM reach GROUP BY s)
    SELECT d.doc_id, d.lang, d.source, d.n_chars
    FROM documents d
    WHERE d.doc_id NOT IN
        (SELECT doc_id FROM lab WHERE doc_id <> canonical_id)
    """,
)
def q_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus AFTER near-dup dedup: every document that is either
    untouched by any fuzzy pair or the canonical (minimum-id) member of
    its near-dup cluster — i.e. q_dedup_cluster's decision applied.
    The apply step is one left-anti join of the (tiny relative to the
    corpus) non-canonical id list against the documents scan: document
    text never shuffles, only ids do."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = (
        minhash.exact_jaccard_pairs(docs, threshold=0.79, k=3,
                                    max_shingle_frac=0.01)
        .where(F.round(F.col("jaccard"), 6) >= 0.8)
        .select("id_a", "id_b")
        .persist()
    )
    losers = (
        dedup.connected_components(pairs)
        .where(F.col("node") != F.col("label"))
        .select(F.col("node").alias("doc_id"))
    )
    return docs.join(losers, "doc_id", "left_anti").select(
        "doc_id", "lang", "source", "n_chars"
    )


_DOMAIN_CAP = 10


@register(
    "q_domain_cap",
    oracle=f"""
    SELECT source, doc_id, CAST(rn AS BIGINT) AS rn
    FROM (SELECT source, doc_id,
            ROW_NUMBER() OVER (PARTITION BY source
                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
          FROM documents)
    WHERE rn <= {_DOMAIN_CAP}
    """,
)
def q_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain sampling cap: at most {_DOMAIN_CAP} documents per
    source, chosen by md5(doc_id) priority — the deterministic
    "downweight over-represented domains" step of corpus mixing
    (reproducible across runs and engines, unlike rand()-based
    sampling; md5 not xxhash so DuckDB replicates it bit-for-bit).
    One shuffle on source + in-partition TopK; a pathologically hot
    domain skews its partition, in which case pre-filter with an
    approximate per-source count and a hash-band predicate before the
    window (same salting discipline as operators/skew.py)."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.select(
            "source", "doc_id", F.row_number().over(w).cast("long").alias("rn")
        )
        .where(F.col("rn") <= _DOMAIN_CAP)
    )


@register(
    "q_ngram_counts",
    oracle="""
    SELECT ngram, CAST(COUNT(*) AS BIGINT) AS n
    FROM (
      SELECT concat_ws(' ', w[i], w[i+1]) AS ngram
      FROM (SELECT string_split(text, ' ') AS w FROM documents),
           LATERAL (SELECT unnest(range(1, len(w))) AS i))
    GROUP BY ngram
    ORDER BY n DESC, ngram
    LIMIT 50
    """,
)
def q_ngram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level n-gram statistics: the 50 most frequent word
    bigrams (count DESC, bigram ASC so the cut is deterministic) — the
    building block of n-gram LM stats, vocabulary induction, and
    boilerplate detection.  Plan shape: explode → partial-agg (map-side
    combine on the generated side, so the shuffle carries (bigram,
    partial count), not one row per occurrence) → TakeOrdered for the
    global cut — no global sort materializes."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        spread_scan(docs)
        # token array staged below the Generate (r16, the
        # q_text_bigram_lm pattern): one split per document
        .select(text.tokens("text").alias("__toks"))
        .select(F.explode(
            text.word_shingles_of(F.col("__toks"), 2)).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("ngram"))
        .limit(50)
    )


_HIST_BUCKET = 5


@register(
    "q_token_histogram",
    oracle=f"""
    SELECT (len(string_split(text, ' ')) // {_HIST_BUCKET}) * {_HIST_BUCKET}
               AS bucket_lo,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
    FROM documents
    GROUP BY bucket_lo
    """,
)
def q_token_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-length histogram in {_HIST_BUCKET}-token buckets (doc
    and token mass per bucket) — the first diagnostic run on any new
    corpus and the input to length-based filter thresholds.  A single
    map-side-combined aggregation on a derived int key; nothing wide
    ever shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    n = text.token_count("text")
    return (
        docs.select(
            (F.floor(n / _HIST_BUCKET) * _HIST_BUCKET).alias("bucket_lo"),
            n.cast("long").alias("__n"),
        )
        .groupBy("bucket_lo")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__n").alias("n_tokens"),
        )
    )


#: Per-stratum keep fractions for q_sample_stratified, expressed as the
#: exclusive upper bound on the first md5 byte (hex): 0x40/256 = 25 %
#: for over-represented English, 0x80/256 = 50 % for everything else.
_STRATUM_CUT_EN = "40"
_STRATUM_CUT_OTHER = "80"


@register(
    "q_sample_stratified",
    oracle=f"""
    SELECT doc_id, lang, source
    FROM documents
    WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 2)
          < CASE WHEN lang = 'en' THEN '{_STRATUM_CUT_EN}'
                 ELSE '{_STRATUM_CUT_OTHER}' END
    """,
)
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified downsampling with per-stratum rates (25 % of English,
    50 % of every other language) — the corpus-mixing step that rebalances
    language proportions.  ``DataFrame.sampleBy`` does this with RNG
    state; hashing the stable id instead (first md5 byte vs a per-stratum
    cut) makes the sample reproducible across runs, engines, and
    re-partitionings, and needs no shuffle at all: the predicate pushes
    into the scan's filter and every row decides its own fate map-side —
    the only sampling discipline that re-runs identically on 100 TB."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    cut = F.when(F.col("lang") == "en", _STRATUM_CUT_EN).otherwise(
        _STRATUM_CUT_OTHER
    )
    return docs.where(bucket < cut).select("doc_id", "lang", "source")


#: q_sample_weighted knobs: per-source sample size and the salt that
#: keys the deterministic uniform draw (changing it redraws the
#: sample, exactly like q_shuffle_epoch's seed).
_ES_TOPK = 5
_ES_SALT = "es1:"
_ES_TWO48 = float(2**48)


@register(
    "q_sample_weighted",
    # Engine-portability: both engines parse the SAME first 12 md5 hex
    # digits of the salted id as a 48-bit integer (exact in a double),
    # map it to u ∈ (0,1) with a half-step offset, and compute the
    # identical double expression ln(u)/w rounded to 9 — ties (and any
    # last-ulp libm disagreement the rounding cannot absorb) break on
    # doc_id in both engines.
    oracle=f"""
    SELECT source, doc_id, es_key, rk
    FROM (
        SELECT source, doc_id, es_key,
               ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY es_key DESC, doc_id ASC) AS rk
        FROM (
            SELECT source, doc_id,
                   ROUND(LN((v + 0.5) / {_ES_TWO48!r})
                         / len(string_split(text, ' ')), 9) AS es_key
            FROM (
                SELECT source, doc_id, text,
                       CAST(concat('0x',
                            substring(md5('{_ES_SALT}'
                                          || CAST(doc_id AS VARCHAR)),
                                      1, 12)) AS BIGINT) AS v
                FROM documents)))
    WHERE rk <= {_ES_TOPK}
    """,
)
def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement per source (Efraimidis-
    Spirakis exponential race, the one-pass distributed formulation):
    every row draws a deterministic uniform u from the salted md5 of
    its stable id and enters the race with key u^(1/w) — here ranked
    by the monotone-equivalent ln(u)/w — with w = token count, so
    long documents win proportionally more often.  Taking the top-K
    keys per source IS an exact w-weighted draw of K docs without
    replacement (Efraimidis & Spirakis 2006), which is how a mixture
    plan's per-source token budgets (q_mixture_plan) get EXECUTED as
    an actual document selection.

    Scale shape: the key is map-side arithmetic on the scan (no RNG
    state, reproducible across runs/engines/partitionings — rerunning
    at 100 TB redraws the identical sample); the only shuffle is the
    per-source top-K ranking window, and a skewed giant source splits
    cleanly because the window partitions by source alone.  At
    cluster scale the window can be replaced by a per-partition
    heap + merge (TakeOrdered per group); the fixture-size window
    form keeps the oracle replayable."""
    docs = load_table(spark, sf_dir, "documents")
    v = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(_ES_SALT), F.col("doc_id").cast("string"))),
            1, 12,
        ),
        16, 10,
    ).cast("double")
    u = (v + F.lit(0.5)) / F.lit(_ES_TWO48)
    w = F.size(F.split(F.col("text"), " ")).cast("double")
    es_key = F.round(F.log(u) / w, 9)
    rk = F.row_number().over(
        Window.partitionBy("source").orderBy(
            F.desc("es_key"), F.asc("doc_id")
        )
    )
    return (
        docs.select("source", "doc_id", es_key.alias("es_key"))
        .withColumn("rk", rk.cast("long"))
        .where(F.col("rk") <= _ES_TOPK)
    )


#: q_importance_resample knobs: the in-domain seed source, the draw
#: size, and the salt keying the deterministic Gumbel race.
_DSIR_TARGET_SOURCE = "src1"
_DSIR_TOPK = 50
_DSIR_SALT = "dsir1:"


@staged("unigram_lm")
def _unigram_lm_relation(spark: SparkSession, sf_dir: str, path: str):
    """The trained DSIR unigram-model staging table (t, __ca, __ct,
    __nt, __na, __v), built once per (session, sf_dir): per-token
    corpus count and target-source count plus the three totals
    (target mass, corpus mass, vocab size) — every integer the
    importance log-weight ln((ct+1)/(nt+V)) − ln((ca+1)/(na+V))
    needs, so scoring joins ONCE on the token key.  Counts are
    bit-identical to the previous inline train (same aggregates,
    same tokenizer)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = spread_scan(docs).select(
        "source", F.explode(text.tokens("text")).alias("t")
    )
    is_tgt = F.col("source") == _DSIR_TARGET_SOURCE
    model = toks.groupBy("t").agg(
        F.count(F.lit(1)).alias("__ca"),
        F.sum(F.when(is_tgt, 1).otherwise(0)).alias("__ct"),
    )
    tot = model.agg(
        F.sum("__ct").alias("__nt"),
        F.sum("__ca").alias("__na"),
        F.count(F.lit(1)).alias("__v"),
    )
    (
        model.crossJoin(F.broadcast(tot))
        .select("t", "__ca", "__ct", "__nt", "__na", "__v")
        .write.mode("overwrite").parquet(path)
    )


@register(
    "q_importance_resample",
    # Every LM count is an exact integer on both engines; the float
    # steps are ln of exact-int ratios (1-ulp correct both sides), a
    # per-doc sum whose order jitter (≲1e-12) the ROUND(.,6) absorbs,
    # and the Gumbel transform of the SAME 48-bit md5 uniform
    # q_sample_weighted already proved portable.  Ties (and last-ulp
    # disagreements) break on doc_id identically.
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source, unnest(string_split(text, ' ')) AS t
        FROM documents),
    tgt AS (SELECT t, COUNT(*) AS c FROM toks
            WHERE source = '{_DSIR_TARGET_SOURCE}' GROUP BY t),
    alls AS (SELECT t, COUNT(*) AS c FROM toks GROUP BY t),
    tot AS (SELECT
        (SELECT COUNT(*) FROM toks
         WHERE source = '{_DSIR_TARGET_SOURCE}') AS nt,
        (SELECT COUNT(*) FROM toks) AS na,
        (SELECT COUNT(DISTINCT t) FROM toks) AS v),
    sc AS (
        SELECT k.doc_id,
               SUM(ln((COALESCE(g.c, 0) + 1)::DOUBLE / (tot.nt + tot.v))
                 - ln((a.c + 1)::DOUBLE / (tot.na + tot.v))) AS lw
        FROM toks k
        JOIN alls a USING (t)
        LEFT JOIN tgt g USING (t)
        CROSS JOIN tot
        GROUP BY k.doc_id),
    race AS (
        SELECT doc_id, ROUND(lw, 6) AS log_weight,
               ROUND(lw - LN(-LN(
                   (CAST(concat('0x', substring(
                        md5('{_DSIR_SALT}' || CAST(doc_id AS VARCHAR)),
                        1, 12)) AS BIGINT) + 0.5) / {_ES_TWO48!r})),
                   6) AS race_key
        FROM sc)
    SELECT doc_id, log_weight, race_key, rk
    FROM (SELECT *, ROW_NUMBER() OVER (
              ORDER BY race_key DESC, doc_id ASC) AS rk FROM race)
    WHERE rk <= {_DSIR_TOPK}
    """,
    staging=("unigram_lm",),
)
def q_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATA SELECTION VIA IMPORTANCE RESAMPLING (the DSIR recipe, Xie
    et al. 2023): score every document by how much more likely its
    tokens are under an in-domain language model than under the
    general-corpus model, then draw the training subset with
    probability ∝ exp(score).  Both models are add-one-smoothed
    unigram LMs self-trained in the same pass (target = the
    _DSIR_TARGET_SOURCE documents, the in-domain seed set); the per-doc
    importance log-weight is Σ_tokens [ln p_tgt(t) − ln p_all(t)],
    and the draw is Gumbel top-k — adding −ln(−ln(u)) with u from the
    salted md5 of the stable id makes rank-by-key an EXACT
    exp(weight)-proportional sample without replacement, the same
    derandomized-race trick as q_sample_weighted's exponential race.

    Scale shape (r16): BOTH unigram models train ONCE per (session,
    corpus) into the parquet staging table (one conditional aggregate
    over a single token pass; totals denormalized on the Zipf-small
    rows — :func:`_unigram_lm_relation`), and the serve plan is the
    scoring pass alone: one token explode re-joined on the token key
    — model side one row per DISTINCT token, AQE handles hot-token
    skew on the probe stream — then one doc-keyed aggregate.  One
    serve-time corpus pass total (self-review r10 cut four to two;
    the staging split removes the train pass from every serve).  The
    final draw is a TakeOrdered top-K on the race key (never a global
    sort); the md5-seeded race re-runs identically on 100 TB.  The
    oracle replays models, weights and race bit-for-bit."""
    docs = load_table(spark, sf_dir, "documents")
    toks = spread_scan(docs).select(
        "doc_id", F.explode(text.tokens("text")).alias("t")
    )
    # r16: both unigram models come from the parquet staging table
    # (:func:`_unigram_lm_relation` — counts + totals denormalized),
    # so the serve plan is the scoring pass alone: one token explode
    # joined ONCE on the token key.  Previously the train aggregate +
    # totals fold re-ran inside every serve (a second corpus pass +
    # persist + 1-row broadcast).
    model = _unigram_lm_relation(spark, sf_dir)
    lw = F.sum(
        F.log(
            (F.col("__ct") + 1).cast("double")
            / (F.col("__nt") + F.col("__v")).cast("double")
        )
        - F.log(
            (F.col("__ca") + 1).cast("double")
            / (F.col("__na") + F.col("__v")).cast("double")
        )
    ).alias("lw")
    scored = (
        toks.join(model, "t")
        .groupBy("doc_id")
        .agg(lw)
    )
    u48 = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(_DSIR_SALT),
                           F.col("doc_id").cast("string"))),
            1, 12,
        ),
        16, 10,
    ).cast("double")
    gumbel = -F.log(-F.log((u48 + F.lit(0.5)) / F.lit(_ES_TWO48)))
    top = (
        scored.select(
            "doc_id",
            F.round(F.col("lw"), 6).alias("log_weight"),
            F.round(F.col("lw") + gumbel, 6).alias("race_key"),
        )
        .orderBy(F.desc("race_key"), F.asc("doc_id"))
        .limit(_DSIR_TOPK)
    )
    # rank assignment runs over the already-cut _DSIR_TOPK rows — a
    # bounded single-partition window, not a global sort
    return top.withColumn(
        "rk",
        F.row_number().over(
            Window.orderBy(F.desc("race_key"), F.asc("doc_id"))
        ).cast("long"),
    )


def dup_ngram_ratio(arr):
    """Duplicated-occurrence share ``(n − n_distinct) / n`` of an
    in-order n-gram array: 0.0 for EMPTY arrays (a short doc has no
    repeats), NULL for a NULL array (NULL text has no metrics — the
    gopher stance; under Spark 4 ANSI ``size(NULL)`` is NULL and the
    ``when(n <= 0)`` condition falls through to the NULL-propagating
    otherwise).  The q_text_repetition oracle mirrors both arms with
    an explicit ``w IS NULL`` CASE (review r16: its bare COALESCE
    previously coalesced NULL text to 0.0 — a latent divergence the
    NULL-free fixtures never exposed).  ONE shared expression for
    q_text_repetition and the q_quality_vote ensemble gate so the
    repetition semantics cannot drift between them."""
    n = F.size(arr)
    return F.when(n <= 0, F.lit(0.0)).otherwise(
        (n - F.size(F.array_distinct(arr))).cast("double") / n
    )


@register(
    "q_text_repetition",
    # NULL-text docs carry NULL metrics on BOTH engines (the gopher
    # stance): the 2/3-gram legs' COALESCE exists only for the
    # empty-n-gram-array case (short docs → 0.0), so it sits behind an
    # explicit w IS NULL arm — without it DuckDB coalesced a NULL
    # TEXT's ratio to 0.0 while Spark's size(NULL) propagates NULL
    # (latent divergence found by review r16, first pass; the fixtures
    # carry no NULL text, so hashes never saw it).
    oracle="""
    SELECT doc_id,
           ROUND((len(w) - len(list_distinct(w)))
                 / CAST(len(w) AS DOUBLE), 6)                 AS dup_1gram,
           CASE WHEN w IS NULL THEN NULL ELSE
           ROUND(COALESCE((len(g2) - len(list_distinct(g2)))
                 / CAST(NULLIF(len(g2), 0) AS DOUBLE), 0), 6) END
                                                              AS dup_2gram,
           CASE WHEN w IS NULL THEN NULL ELSE
           ROUND(COALESCE((len(g3) - len(list_distinct(g3)))
                 / CAST(NULLIF(len(g3), 0) AS DOUBLE), 0), 6) END
                                                              AS dup_3gram
    FROM (
        SELECT doc_id,
               w,
               list_transform(range(1, len(w)),
                   i -> concat_ws(' ', w[i], w[i+1]))     AS g2,
               list_transform(range(1, len(w) - 1),
                   i -> concat_ws(' ', w[i], w[i+1], w[i+2])) AS g3
        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
    )
    """,
)
def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality signals (the Gopher-style "duplicated n-gram
    fraction"): per document, the share of unigram / bigram / trigram
    occurrences that are repeats of an earlier occurrence, computed as
    ``(n - n_distinct) / n`` over the in-order n-gram array.  High
    values flag boilerplate, keyword stuffing, and degenerate
    generations — the standard pre-training quality gate alongside
    q_text_stats.  Entirely map-side array math (no explode, no
    shuffle): each document scores itself inside the scan stage, so the
    operator is embarrassingly parallel at any corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    # token + n-gram arrays STAGED in their own Projects (r16): each
    # dup_ngram_ratio references its array 4×, and the inline form
    # replayed split(text) per reference — same expressions, values
    # unchanged, one tokenization per row
    staged = docs.withColumn("__toks", text.tokens("text")).withColumn(
        "__g2", text.word_shingles_of(F.col("__toks"), 2)
    ).withColumn("__g3", text.word_shingles_of(F.col("__toks"), 3))
    return staged.select(
        "doc_id",
        F.round(dup_ngram_ratio(F.col("__toks")), 6)
        .alias("dup_1gram"),
        F.round(dup_ngram_ratio(F.col("__g2")), 6)
        .alias("dup_2gram"),
        F.round(dup_ngram_ratio(F.col("__g3")), 6)
        .alias("dup_3gram"),
    )


#: q_text_editdist blocking/threshold constants: exact-prefix block key
#: length, compared-prefix length, max edit distance, max length gap.
_ED_BLOCK, _ED_PREFIX, _ED_MAX, _ED_LEN_GAP = 24, 128, 5, 5


@register(
    "q_text_editdist",
    oracle=f"""
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           levenshtein(substring(a.text, 1, {_ED_PREFIX}),
                       substring(b.text, 1, {_ED_PREFIX})) AS dist
    FROM documents a
    JOIN documents b
      ON substring(a.text, 1, {_ED_BLOCK}) = substring(b.text, 1, {_ED_BLOCK})
     AND a.doc_id < b.doc_id
    WHERE abs(a.n_chars - b.n_chars) <= {_ED_LEN_GAP}
      AND levenshtein(substring(a.text, 1, {_ED_PREFIX}),
                      substring(b.text, 1, {_ED_PREFIX})) <= {_ED_MAX}
    """,
)
def q_text_editdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup pairs — the character-level dedup family
    (catches small in-place edits Jaccard shingles over-penalize and
    catches them exactly, unlike SimHash).  Scale discipline mirrors
    every other near-dup operator: candidates come from an EQUI-join on
    a blocking key (the {_ED_BLOCK}-char exact prefix) so the plan is a
    hash shuffle with bucket-bounded fan-out, never all-pairs; a length
    filter (levenshtein >= |len_a - len_b|) prunes before the O(k^2)
    kernel, which runs on {_ED_PREFIX}-char prefixes only.  The known
    recall trade of prefix blocking — an edit inside the first
    {_ED_BLOCK} chars moves the pair to different blocks — is the
    standard one; multi-pass blocking (suffix/mid keys) widens recall
    at proportional cost.  The oracle runs the identical blocking, so
    the hard-signal check covers the kernel bit-for-bit."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        "n_chars",
        F.substring("text", 1, _ED_BLOCK).alias("__blk"),
        F.substring("text", 1, _ED_PREFIX).alias("__px"),
    )
    a, b = d.alias("a"), d.alias("b")
    dist = F.levenshtein(F.col("a.__px"), F.col("b.__px")).cast("long")
    return (
        a.join(b, F.col("a.__blk") == F.col("b.__blk"))
        .where(
            (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.abs(F.col("a.n_chars") - F.col("b.n_chars")) <= _ED_LEN_GAP)
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            dist.alias("dist"),
        )
        .where(F.col("dist") <= _ED_MAX)
    )


@register(
    "q_text_span_dedup",
    oracle="""
    WITH postings AS (
        SELECT doc_id, concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3], w[i+4],
                                 w[i+5], w[i+6], w[i+7], w[i+8], w[i+9],
                                 w[i+10], w[i+11], w[i+12]) AS gram
        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             LATERAL (SELECT unnest(range(1, len(w) - 11)) AS i)
        WHERE len(w) >= 13),
    counts AS (SELECT gram, COUNT(*) AS n FROM postings GROUP BY gram)
    SELECT p.doc_id,
           COUNT(*)::BIGINT AS n_grams,
           SUM(CASE WHEN c.n > 1 THEN 1 ELSE 0 END)::BIGINT AS n_repeated,
           ROUND(SUM(CASE WHEN c.n > 1 THEN 1 ELSE 0 END)::DOUBLE
                 / COUNT(*), 6) AS repeated_frac
    FROM postings p JOIN counts c ON p.gram = c.gram
    GROUP BY p.doc_id
    """,
)
def q_text_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-SPAN measurement — the exact-substring
    dedup signal (Lee et al., "Deduplicating Training Data Makes
    Language Models Better"): per document, how many of its 13-token
    spans occur more than once ANYWHERE in the corpus (including its
    own other positions), and the repeated fraction.  A span-dedup pass
    trims exactly those spans; this query is the measurement stage that
    decides where.

    Scale shape: spans never shuffle as strings — occurrences keyed by
    ``xxhash64(gram)`` (the same fixed-width-key discipline as the
    content-hash dedups; a 13-word span can be hundreds of bytes), one
    map-side-combined count per span hash, then the per-doc rollup
    joins counts back on the hash.  The oracle counts raw strings;
    hash collisions (2⁻⁶⁴) are the only divergence mode."""
    docs = load_table(spark, sf_dir, "documents")
    # token array staged below the Generate (r16): the 13-gram build
    # references the array 14× (13 slices + the size guard) and the
    # inline form replayed split(text) per reference
    posts = docs.select(
        "doc_id", text.tokens("text").alias("__toks")
    ).select(
        "doc_id",
        F.explode(
            text.word_shingles_of(F.col("__toks"), 13)
        ).alias("gram"),
    ).select("doc_id", F.xxhash64("gram").alias("__g"))
    counts = posts.groupBy("__g").agg(F.count(F.lit(1)).alias("__n"))
    rep = F.when(F.col("__n") > 1, 1).otherwise(0)
    return (
        posts.join(counts, "__g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(rep).cast("long").alias("n_repeated"),
            F.round(
                F.sum(rep).cast("double") / F.count(F.lit(1)), 6
            ).alias("repeated_frac"),
        )
    )


#: The bigram-LM scoring pipeline as DuckDB CTEs (``toks`` → ``bg`` →
#: ``model``/``ctx``/``vocab`` → per-token ``scored``), shared VERBATIM
#: by the q_text_bigram_lm oracle and the q_quality_ppl_bucket oracle
#: (the _curation_ctes pattern) so the two can never drift: the bucket
#: query buckets EXACTLY the scores the scoring query emits.
_BIGRAM_SCORED_CTES = """toks AS (SELECT doc_id, string_split(text, ' ') AS w
                  FROM documents),
    bg AS (
      SELECT doc_id, w[i] AS w1, concat_ws(' ', w[i], w[i+1]) AS ngram
      FROM toks, LATERAL (SELECT unnest(range(1, len(w))) AS i)),
    model AS (SELECT w1, ngram, COUNT(*) AS c FROM bg GROUP BY w1, ngram),
    ctx AS (SELECT w1, SUM(c) AS cw FROM model GROUP BY w1),
    vocab AS (SELECT COUNT(DISTINCT t) AS v FROM
                (SELECT unnest(string_split(text, ' ')) AS t
                 FROM documents)),
    scored AS (
      SELECT b.doc_id,
             ln((m.c + 1)::DOUBLE / (x.cw + vocab.v)::DOUBLE) AS lnp
      FROM bg b JOIN model m USING (ngram)
      JOIN ctx x ON m.w1 = x.w1
      CROSS JOIN vocab)"""


@staged("bigram_lm")
def _bigram_lm_relation(spark: SparkSession, sf_dir: str, path: str):
    """The trained bigram-LM staging table (ngram, __w1, __c, __cw,
    __v), built once per (session, sf_dir): per-bigram count,
    per-context total and vocabulary size — every integer the smoothed
    probability ln((c+1)/(cw+V)) needs, so consumers join ONCE on the
    bigram key.  Counts are bit-identical to the previous inline
    train (same aggregates, same tokenizer)."""
    docs = load_table(spark, sf_dir, "documents")
    bg = spread_scan(docs).select(
        text.tokens("text").alias("__toks")
    ).select(
        F.explode(
            text.word_shingles_of(F.col("__toks"), 2)
        ).alias("ngram")
    )
    model = (
        bg.groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("__c"))
        .withColumn("__w1", F.split("ngram", " ")[0])
    )
    ctx = model.groupBy("__w1").agg(F.sum("__c").alias("__cw"))
    vocab = docs.select(
        F.explode(text.tokens("text")).alias("__t")
    ).agg(F.countDistinct("__t").alias("__v"))
    (
        model.join(ctx, "__w1")
        .crossJoin(F.broadcast(vocab))
        .select("ngram", "__w1", "__c", "__cw", "__v")
        .write.mode("overwrite").parquet(path)
    )


@register(
    "q_text_bigram_lm",
    # Every count the model trains on is an exact integer on both
    # engines; the only float steps are the smoothed probability
    # (a ratio of exact ints — identical doubles), ln (correctly
    # rounded within 1 ulp on both), and the per-doc mean, whose
    # summation-order jitter (≲1e-13) the ROUND(.,6) absorbs.
    oracle=f"""
    WITH {_BIGRAM_SCORED_CTES}
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           ROUND(AVG(lnp), 6) AS avg_lnp
    FROM scored GROUP BY doc_id
    """,
    staging=("bigram_lm",),
)
def q_text_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram language-model quality scoring (the KenLM-style
    perplexity filter of CCNet/Gopher pipelines, self-trained): fit an
    add-one-smoothed bigram model on the corpus itself, then score
    each document by its mean token log-probability
    avg ln((c(w1,w2)+1)/(c(w1·)+V)) — low scorers are the gibberish /
    boilerplate a perplexity cut removes.  Docs with < 2 tokens have
    no bigrams and drop out on both engines.

    Scale shape (r16): the model TRAINS ONCE per (session, corpus)
    into the parquet staging table (:func:`_bigram_lm_relation` —
    map-side-combined bigram agg, Zipf-small rows, context totals and
    V denormalized on), and the serve plan is the scoring pass alone:
    one bigram explode over the corpus joined ONCE against the model
    on the bigram key — model side one row per DISTINCT bigram, AQE
    handles hot-bigram skew on the probe side; nothing wide ever
    shuffles.  Previously the train aggregate + ctx derivation +
    vocab count re-ran inside every serve (and q_quality_ppl_bucket's,
    which composes this plan) — 3 extra plan branches and a persist,
    now a parquet scan.  At 100 TB this is the trained-LM artifact a
    CCNet stack maintains anyway: train once, score every incoming
    shard with broadcast-or-bucketed joins."""
    docs = load_table(spark, sf_dir, "documents")
    model = _bigram_lm_relation(spark, sf_dir)
    # token array staged in its own select BELOW the Generate (r16 —
    # the line_segments discipline): the bigram build references the
    # array 3×, and inline it replayed split(text) per reference; the
    # generator input stays a COMPLEX expression (the < k CASE guard),
    # so InferFiltersFromGenerate does not infer a pushable size()
    # filter and nothing re-runs below the spread exchange (verified
    # on the optimized plan: one split, above the spread exchange).
    bg = spread_scan(docs).select(
        "doc_id", text.tokens("text").alias("__toks")
    ).select(
        "doc_id",
        F.explode(
            text.word_shingles_of(F.col("__toks"), 2)
        ).alias("ngram"),
    )
    lnp = F.log(
        (F.col("__c") + 1).cast("double")
        / (F.col("__cw") + F.col("__v")).cast("double")
    )
    return (
        bg.join(model.select("ngram", "__c", "__cw", "__v"), "ngram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg(lnp), 6).alias("avg_lnp"),
        )
    )


@register(
    "q_quality_ppl_bucket",
    # NTILE over a TOTAL order (rounded score DESC, doc_id) is
    # standard-SQL-identical in Spark and DuckDB; the score itself is
    # the already-rounded q_text_bigram_lm output, so the ordering key
    # is bit-identical on both engines before the window ever runs.
    oracle=f"""
    WITH {_BIGRAM_SCORED_CTES},
    doc_scores AS (
        SELECT doc_id, ROUND(AVG(lnp), 6) AS avg_lnp
        FROM scored GROUP BY doc_id),
    ranked AS (
        SELECT s.doc_id, d.lang, s.avg_lnp,
               NTILE(3) OVER (PARTITION BY d.lang
                              ORDER BY s.avg_lnp DESC, s.doc_id) AS t
        FROM doc_scores s JOIN documents d USING (doc_id))
    SELECT doc_id, lang, avg_lnp, CAST(t AS BIGINT) AS tercile,
           CASE t WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
               AS bucket
    FROM ranked
    """,
    staging=("bigram_lm",),
)
def q_quality_ppl_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language perplexity bucketing (the CCNet recipe, Wenzek et
    al. 2020): score every document with the self-trained LM
    (q_text_bigram_lm, composed as a registered plan — the
    q_ann_recall pattern, so the bucketing can never drift from the
    scoring it claims to bucket), then split EACH LANGUAGE into
    head / middle / tail terciles by score — head is the cleanest
    third of that language, tail the most perplexing.  Language-
    conditioning is the point: a flat corpus-wide cut would sort
    low-resource languages wholesale into the tail.

    Docs with < 2 tokens have no bigrams, no score, and no bucket —
    they drop on both engines (the q_text_bigram_lm contract).

    Scale shape: the score join is doc_id-keyed (corpus ⋈ corpus on
    the primary key — co-partitioned at scale); the tercile is one
    NTILE window partitioned by language.  With few languages that
    window is the classic skewed-window at 100 TB — the production
    swap keeps the same output contract but assigns buckets map-side
    against per-language score-quantile cutoffs (the broadcast-stats
    pattern of q_winsorize/q_anomaly_zscore), trading exact
    equal-count ties for a scan-speed assignment; the registered form
    keeps the exact NTILE so the oracle can replay ties
    deterministically."""
    scores = q_text_bigram_lm(spark, sf_dir).select("doc_id", "avg_lnp")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    w = Window.partitionBy("lang").orderBy(
        F.desc("avg_lnp"), F.asc("doc_id")
    )
    t = F.ntile(3).over(w).cast("long")
    return (
        scores.join(docs, "doc_id")
        .select("doc_id", "lang", "avg_lnp", t.alias("tercile"))
        .withColumn(
            "bucket",
            F.when(F.col("tercile") == 1, "head")
            .when(F.col("tercile") == 2, "middle")
            .otherwise("tail"),
        )
    )


#: 20 < the fixture's 31 distinct tokens, so the vocabulary CUT and
#: the OOV branch are both live in every oracle check and test (at 100
#: the whole pool fit in-vocab and oov_rate was identically zero — a
#: broken cut would have hash-verified green).
_VOCAB_SIZE = 20


@register(
    "q_vocab_coverage",
    oracle=f"""
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
                 FROM documents),
    vocab AS (SELECT t FROM (SELECT t, COUNT(*) AS c FROM tok GROUP BY t
                             ORDER BY c DESC, t LIMIT {_VOCAB_SIZE}))
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(COUNT(v.t) AS BIGINT) AS n_in_vocab,
           ROUND(1.0 - COUNT(v.t)::DOUBLE / COUNT(*), 6) AS oov_rate
    FROM tok LEFT JOIN vocab v USING (t)
    GROUP BY doc_id
    """,
    staging=("tf_postings",),
)
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary induction + coverage: take the top-20
    corpus tokens by frequency (count DESC, token ASC — a
    deterministic cut) as the induced vocabulary, then measure each
    document's out-of-vocabulary rate.  This is the coverage check run
    before committing a tokenizer/vocab to a training corpus: a
    domain whose OOV rate spikes is about to fragment into bytes.

    Scale shape (r16): BOTH passes now ride the staged term-frequency
    relation (llm.py::_tf_relation — the inverted-index staging table
    the lexical scorers already share): induction is a
    map-side-combined Σ tf per term + a TakeOrdered cut (identical
    counts to the occurrence stream's), and coverage scoring is a
    BROADCAST join against the tf rows — Zipf-compressed (one row per
    (doc, DISTINCT term) instead of one per occurrence) — followed by
    one tf-weighted per-doc aggregation.  No corpus re-explode
    anywhere in the serve plan (previously two: one per pass); every
    count is the same integer, summed with tf weights."""
    from level2_to_cassandra_spark.queries.llm import _tf_relation

    tf = _tf_relation(spark, sf_dir).withColumnRenamed("term", "t")
    vocab = _induce_vocab_tf(spark, sf_dir, _VOCAB_SIZE).select(
        "t", F.lit(1).alias("__in")
    )
    hit = F.coalesce(F.col("__in"), F.lit(0))
    n_tok = F.sum("tf")
    n_in = F.sum(hit * F.col("tf"))
    return (
        tf.join(F.broadcast(vocab), "t", "left")
        .groupBy("doc_id")
        .agg(
            n_tok.cast("long").alias("n_tokens"),
            n_in.cast("long").alias("n_in_vocab"),
            F.round(
                F.lit(1.0) - n_in.cast("double") / n_tok, 6
            ).alias("oov_rate"),
        )
    )


def _classifier_weights() -> list[float]:
    """64 deterministic ±1 weights from the engine-portable LCG-xorshift
    chain (operators/similarity.py::_rademacher_component, table=0
    plane=0) — a stand-in for trained fasttext-style classifier weights
    with the property that matters here: both engines can reproduce
    them exactly, so inference itself is what gets hash-checked."""
    from level2_to_cassandra_spark.operators.similarity import (
        _rademacher_component,
    )

    return [_rademacher_component(0, 0, b) for b in range(64)]


@register(
    "q_classifier_score",
    # Bit-for-bit portable inference: the token→bucket hash is the low
    # 6 bits of the md5-derived 64-bit hash (identical two's-complement
    # low bits whether the 64 bits are held signed (Spark) or unsigned
    # (DuckDB)); the weights are ±1 (exact in double, so the sequential
    # left-fold sum is EXACT integer arithmetic on both engines — no
    # rounding dance needed until the sigmoid's exp, absorbed by
    # ROUND(.,6)).
    oracle=f"""
    WITH w AS (SELECT {_classifier_weights()!r}::DOUBLE[] AS l),
    scored AS (
      SELECT doc_id,
             list_reduce(
               list_transform(string_split(text, ' '), t ->
                 w.l[((('0x' || substr(md5(t), 1, 16))::UBIGINT & 63)
                      + 1)::INT]),
               (a, x) -> a + x) AS s,
             len(string_split(text, ' ')) AS n
      FROM documents CROSS JOIN w)
    SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
           ROUND(s / n, 6) AS score,
           ROUND(1.0 / (1.0 + exp(-(s / n))), 6) AS p_keep
    FROM scored
    """,
)
def q_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear text-classifier batch inference (the fasttext-shaped
    quality/toxicity scorer of CCNet-style pipelines): hash each token
    into one of 64 feature buckets (hashing trick), score = mean bucket
    weight, p_keep = sigmoid(score).  The weight vector here is the
    deterministic portable chain rather than trained parameters — the
    engine surface under test is INFERENCE: model-as-literal broadcast,
    per-token feature hashing, fold-accumulate, link function.

    Scale shape: completely shuffle-free — the 64-weight model rides
    the plan as an array literal (a real model of any broadcastable
    size works the same way), each document scores itself inside the
    scan stage via one higher-order fold, and no explode ever
    materializes a token row.  At 100 TB this is the ideal operator:
    map-only, whole-stage-codegen, scales with scan parallelism.
    Stateless and shuffle-free also means STREAM-COMPATIBLE: the same
    transform scores a readStream of documents unchanged
    (tests/test_streaming.py asserts stream/batch parity)."""
    return classifier_transform(
        spread_scan(load_table(spark, sf_dir, "documents"))
    )


def classifier_transform(docs: DataFrame) -> DataFrame:
    """The pure transform behind q_classifier_score — works on batch
    AND streaming DataFrames (no shuffle, no state)."""
    warr = F.array(*[F.lit(x) for x in _classifier_weights()])
    bucket_w = lambda t: F.element_at(  # noqa: E731
        warr,
        (text.portable_hash64(t).bitwiseAND(F.lit(63)) + 1).cast("int"),
    )
    toks = text.tokens("text")
    s = F.aggregate(
        F.transform(toks, bucket_w), F.lit(0.0), lambda a, x: a + x
    )
    n = F.size(toks)
    score = s / n
    return docs.select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        F.round(score, 6).alias("score"),
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-score)), 6).alias("p_keep"),
    )


_TOKENIZE_VOCAB = 20  # same liveness rationale as _VOCAB_SIZE


def _tokenize_ctes(src: str) -> str:
    """Tokenize-to-ids as DuckDB CTEs over source relation ``src``
    (``tok`` → ``vocab`` → ``ids``): THE single place the oracle-side
    tokenize semantics live — q_tokenize_ids runs it over the raw
    corpus, q_corpus_pipeline over the curated ``admitted`` CTE, so a
    semantics change (tie-break, OOV id, vocab size) cannot drift
    between the standalone stage and the composition."""
    return f"""tok AS (
      SELECT doc_id, w[i] AS t, i AS pos
      FROM (SELECT doc_id, string_split(text, ' ') AS w FROM {src}),
           LATERAL (SELECT unnest(range(1, len(w) + 1)) AS i)),
    vocab AS (
      SELECT t, ROW_NUMBER() OVER (ORDER BY c DESC, t) AS id
      FROM (SELECT t, COUNT(*) AS c FROM tok GROUP BY t
            ORDER BY c DESC, t LIMIT {_TOKENIZE_VOCAB})),
    ids AS (
      SELECT doc_id, pos, COALESCE(v.id, 0) AS id
      FROM tok LEFT JOIN vocab v USING (t))"""


def _token_stream(docs: DataFrame) -> DataFrame:
    """(doc_id, pos, t) posexploded token stream — Spark twin of the
    ``tok`` CTE (1-based pos on both sides)."""
    return docs.select(
        "doc_id",
        (F.posexplode(text.tokens("text"))).alias("pos0", "t"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "t")


def _vocab_from_counts(counts: DataFrame,
                       size: int = _TOKENIZE_VOCAB) -> DataFrame:
    """(t, id) vocabulary cut from a (t, __c) token-count relation:
    top-``size`` by (count DESC, token ASC), ids 1..V in that same
    order — the shared tail of :func:`_induce_vocab` and the staged
    tf-relation induction (r16).  TakeOrdered cut; no global sort."""
    w = Window.orderBy(F.desc("__c"), F.asc("t"))
    return (
        counts.orderBy(F.desc("__c"), F.asc("t"))
        .limit(size)
        .withColumn("id", F.row_number().over(w))
        .select("t", "id")
    )


def _induce_vocab(tok: DataFrame, size: int = _TOKENIZE_VOCAB) -> DataFrame:
    """(t, id) induced vocabulary from an occurrence stream — Spark
    twin of the ``vocab`` CTE.  Also the induction step of
    q_vocab_coverage (membership-only callers drop the id column).
    Callers inducing over the FULL corpus should prefer
    :func:`_induce_vocab_tf`, which reads the same counts off the
    staged term-frequency relation instead of re-exploding the
    corpus (r16)."""
    return _vocab_from_counts(
        tok.groupBy("t").agg(F.count(F.lit(1)).alias("__c")), size
    )


def _induce_vocab_tf(spark: SparkSession, sf_dir: str,
                     size: int = _TOKENIZE_VOCAB) -> DataFrame:
    """:func:`_induce_vocab` over the staged term-frequency relation
    (llm.py::_tf_relation) — token counts are Σ tf per term, exactly
    the occurrence counts, so the induced vocabulary is identical
    while the induction branch reads the Zipf-compressed staging
    table instead of re-exploding the whole corpus (r16, guide §2.4:
    two operations keyed the same way share one artifact)."""
    from level2_to_cassandra_spark.queries.llm import _tf_relation

    counts = (
        _tf_relation(spark, sf_dir)
        .groupBy("term")
        .agg(F.sum("tf").alias("__c"))
        .withColumnRenamed("term", "t")
    )
    return _vocab_from_counts(counts, size)


def _id_rows(tok: DataFrame, vocab: DataFrame) -> DataFrame:
    """(doc_id, pos, id) with OOV → 0 — Spark twin of the ``ids`` CTE;
    the vocab is top-K-small by construction, so always broadcast."""
    return tok.join(F.broadcast(vocab), "t", "left").select(
        "doc_id", "pos", F.coalesce(F.col("id"), F.lit(0)).alias("id")
    )


def _ids_json(arr) -> object:
    """'[1,2,3]' by explicit concat — identical text on both engines
    (to_json's formatting is engine-specific)."""
    return F.concat(
        F.lit("["),
        F.concat_ws(",", F.transform(arr, lambda x: x.cast("string"))),
        F.lit("]"),
    )


@register(
    "q_tokenize_ids",
    # The id string is built by explicit concat on both engines
    # (avoiding to_json's engine-specific formatting): ids are exact
    # ints, order is pinned by token position, OOV is id 0.
    oracle=f"""
    WITH {_tokenize_ctes("documents")}
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
           '[' || array_to_string(list(id ORDER BY pos), ',') || ']'
               AS ids_json
    FROM ids GROUP BY doc_id
    """,
    staging=("tf_postings",),
)
def q_tokenize_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize-to-ids export — the LAST hop of the corpus pipeline,
    where curated text becomes the integer sequences a training job
    consumes: map each token to its id in the induced top-20
    vocabulary (rank by count DESC, token ASC — deterministic; id 0 =
    out-of-vocabulary), preserving token order, and emit the id
    sequence as a JSON-array string (complex columns stay
    driver-hashable).

    Scale shape: vocabulary induction is the same TakeOrdered cut as
    q_vocab_coverage; id assignment is a BROADCAST join against the
    posexploded token stream (real BPE vocabs are ~10⁵ rows — still
    broadcast-sized); re-assembly shuffles (doc_id, pos, id) triples
    once and sorts inside the per-doc aggregate, exactly the
    chunk/pack discipline.  In production the vocab relation is the
    pinned artifact shared by every shard.  The tokenize transforms
    (_token_stream/_induce_vocab/_id_rows and _tokenize_ctes) are
    SHARED with q_corpus_pipeline so stage and composition cannot
    drift."""
    docs = load_table(spark, sf_dir, "documents")
    tok = _token_stream(spread_scan(docs))
    # r16: the vocabulary branch reads the staged tf relation instead
    # of re-exploding the corpus a second time (identical counts, so
    # an identical vocab cut); the posexploded id stream remains the
    # one serve-time corpus pass.
    ids = _id_rows(tok, _induce_vocab_tf(spark, sf_dir))
    seq = F.transform(
        F.array_sort(F.collect_list(F.struct("pos", "id"))),
        lambda s: s["id"],
    )
    return ids.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        _ids_json(seq).alias("ids_json"),
    )


def _pipeline_oracle() -> str:
    from level2_to_cassandra_spark.queries.llm import _curation_ctes

    return f"""
    WITH {_curation_ctes()},
    admitted AS (
      SELECT d.doc_id, d.text
      FROM documents d JOIN flags f USING (doc_id)
      WHERE f.quality_ok * f.lang_match * f.low_repetition
            * f.is_canonical = 1),
    {_tokenize_ctes("admitted")},
    seqs AS (SELECT doc_id, list(id ORDER BY pos) AS ids
             FROM ids GROUP BY doc_id)
    SELECT doc_id,
           (i - 1) // {_CHUNK_STRIDE} AS chunk_idx,
           CAST(LEAST({_CHUNK_SIZE}, len(ids) - i + 1) AS BIGINT) AS n_ids,
           '[' || array_to_string(
               list_slice(ids, i, i + {_CHUNK_SIZE} - 1), ',') || ']'
               AS ids_json
    FROM seqs,
         LATERAL (SELECT unnest(range(1, len(ids) + 1, {_CHUNK_STRIDE})) AS i)
    """


@register("q_corpus_pipeline", oracle=_pipeline_oracle())
def q_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE END-TO-END CORPUS PIPELINE in one plan: curation funnel
    (C4 quality + langid agreement + Gopher repetition + exact-dup
    canonicalization, queries/llm.py::curate_flags) gates the corpus;
    the survivors induce the vocabulary; every admitted document is
    tokenized to ids (OOV=0) and chunked into overlapping 8-id training
    windows (same stride-6 convention as q_chunk_docs).  This is the
    raw-documents → trainable-sequences path a user runs as ONE lazy
    plan — each stage's oracle is already verified standalone; this
    query verifies their COMPOSITION end to end.  The tokenize stage
    is the SAME code on both sides (_token_stream/_induce_vocab/
    _id_rows; _tokenize_ctes in the oracle) q_tokenize_ids uses.

    Plan shape stays the sum of its parts: the gate is scan-fused map
    work plus the one content-hash window shuffle; vocab induction is
    a map-side-combined count + TakeOrdered cut; id assignment is a
    broadcast join on the exploded token stream; sequence re-assembly
    shuffles narrow (doc_id, pos, id) triples once; chunking is pure
    map-side array slicing.  Three corpus-scale shuffles total at any
    data size (content-hash window, token-count agg, sequence
    re-assembly), one corpus materialization (the persisted admitted
    staging table serves both post-barrier branches)."""
    from level2_to_cassandra_spark.queries.llm import curate_flags

    docs = load_table(spark, sf_dir, "documents")
    # Persisted: the admitted relation feeds BOTH the vocab-induction
    # branch and the id-assignment branch, and vocab induction is a
    # hard barrier (ids cannot assign until the cut exists) — without
    # the cache the whole gate (scan + content-hash window shuffle)
    # re-executes per branch (observed: two FileScan+Window subtrees).
    # (doc_id, text) is the narrowest thing worth caching: both
    # consumers re-explode it map-side, which is cheaper than caching
    # the exploded token stream.
    admitted = (
        curate_flags(spread_scan(docs), keep=("text",))
        .where(F.col("admit") == 1)
        .select("doc_id", "text")
        .persist()
    )
    tok = _token_stream(admitted)
    seqs = (
        _id_rows(tok, _induce_vocab(tok))
        .groupBy("doc_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "id"))),
                lambda s: s["id"],
            ).alias("ids")
        )
    )
    n = F.size("ids")
    return (
        seqs.select(
            "doc_id",
            "ids",
            F.posexplode(
                F.sequence(F.lit(1), n, F.lit(_CHUNK_STRIDE))
            ).alias("pos", "start"),
        )
        .select(
            "doc_id",
            F.col("pos").cast("long").alias("chunk_idx"),
            F.least(F.lit(_CHUNK_SIZE), n - F.col("start") + 1)
            .cast("long")
            .alias("n_ids"),
            _ids_json(
                F.slice(F.col("ids"), F.col("start"), _CHUNK_SIZE)
            ).alias("ids_json"),
        )
    )


#: q_shuffle_epoch constants: epoch seed baked into the hash input (a
#: new epoch = a new seed string = an entirely different permutation)
#: and the shard fan-out of the exported training data.
_EPOCH_SEED = "ep7"
_N_SHARDS = 16

@register(
    "q_shuffle_epoch",
    # export.NIBBLES (not a local copy) so the oracle's strpos alphabet
    # can never drift from the one epoch_permutation's instr uses —
    # Spark instr and DuckDB strpos are both 1-based, so nibble value =
    # position − 1 on either engine.
    oracle=f"""
    SELECT doc_id, shard_id, CAST(pos AS BIGINT) AS pos
    FROM (
      SELECT doc_id, shard_id,
             ROW_NUMBER() OVER (PARTITION BY shard_id
                                ORDER BY h, doc_id) AS pos
      FROM (SELECT doc_id,
                   md5('{_EPOCH_SEED}:' || CAST(doc_id AS VARCHAR)) AS h,
                   strpos('{export.NIBBLES}',
                          substring(md5('{_EPOCH_SEED}:'
                                        || CAST(doc_id AS VARCHAR)), 1, 1))
                   - 1 AS shard_id
            FROM documents)
    )
    """,
)
def q_shuffle_epoch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DETERMINISTIC EPOCH SHUFFLE + SHARD EXPORT: every document gets
    a pseudo-random but reproducible position — shard = first md5
    nibble of a seed-keyed hash ({_N_SHARDS} shards), position = rank
    of the full hash within the shard.  This is the global-shuffle
    step before writing training shards: epoch N's permutation is
    fully determined by the seed string, so a preempted 1000-executor
    job re-runs bit-identically, and NO global sort ever happens —
    the md5 key is uniform, so each shard gets ~1/{_N_SHARDS} of the
    corpus and the rank window runs per-shard in parallel (a single
    ``row_number`` over a global ORDER BY would funnel 100 TB through
    one partition; sharding first is what makes epoch shuffling
    distributable).  operators/export.py::export_shards is the write
    path that materializes this permutation as per-shard sorted
    parquet (contract-tested in tests/test_traindata.py).
    """
    docs = load_table(spark, sf_dir, "documents")
    return export.epoch_permutation(
        docs.select("doc_id"), _EPOCH_SEED
    ).select("doc_id", "shard_id", "pos")


#: q_length_buckets boundaries: power-of-two context buckets.  A CASE
#: chain (not ceil(log2(n))) so bucket edges are exact integer
#: comparisons on both engines — no float rounding at 2^k boundaries.
_LEN_BUCKETS = (16, 32, 64, 128, 256)


def _bucket_case_sql() -> str:
    arms = " ".join(
        f"WHEN n_tokens <= {c} THEN {c}" for c in _LEN_BUCKETS
    )
    return f"CASE {arms} ELSE {2 * _LEN_BUCKETS[-1]} END"


@register(
    "q_length_buckets",
    oracle=f"""
    SELECT bucket_cap,
           CAST(COUNT(*) AS BIGINT)       AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT)  AS sum_tokens,
           ROUND(1.0 - SUM(n_tokens)
                 / CAST(COUNT(*) * bucket_cap AS DOUBLE), 6) AS pad_waste
    FROM (
      SELECT {_bucket_case_sql()} AS bucket_cap, n_tokens
      FROM (SELECT len(string_split(text, ' ')) AS n_tokens
            FROM documents)
    )
    GROUP BY bucket_cap
    """,
)
def q_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEQUENCE-LENGTH BUCKETING for batch-efficiency planning: assign
    each document to the smallest power-of-two context bucket that
    holds its token count, then report per-bucket document count,
    token mass, and padding waste (the fraction of bucket slots a
    naive pad-to-cap batcher would burn).  Length-bucketed batching is
    the standard fix for padding blow-up in training loaders; this
    query is the planning pass that picks the bucket mix.  Plan shape:
    token counts and bucket caps are map-side scan expressions, the
    rollup is one map-side-combined hash agg shuffling ≤ ~6 rows per
    task — scan-bound at any corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    n = F.size(text.tokens("text"))
    cap = F.lit(2 * _LEN_BUCKETS[-1])
    for c in reversed(_LEN_BUCKETS):
        cap = F.when(n <= c, F.lit(c)).otherwise(cap)
    return (
        docs.select(cap.alias("bucket_cap"), n.alias("n_tokens"))
        .groupBy("bucket_cap")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("sum_tokens"),
            F.round(
                1.0
                - F.sum("n_tokens")
                / (F.count("*") * F.col("bucket_cap")).cast("double"),
                6,
            ).alias("pad_waste"),
        )
    )


#: q_mixture_plan constants: upweighted sources and the token budget as
#: a fraction of the corpus.  Literal CASE weights (not a config table)
#: so the oracle is self-contained; a production pipeline would join a
#: broadcast weights dimension instead.
_MIX_UPWEIGHTED = ("src0", "src1", "src2", "src3", "src4")
_MIX_UPWEIGHT = 3.0
_MIX_BUDGET_FRAC = 0.5


@register(
    "q_mixture_plan",
    oracle=f"""
    WITH per AS (
      SELECT source,
             CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
               AS avail_tokens,
             CASE WHEN source IN {_MIX_UPWEIGHTED}
                  THEN {_MIX_UPWEIGHT} ELSE 1.0 END AS w
      FROM documents
      GROUP BY source
    ),
    planned AS (
      SELECT source, avail_tokens,
             ROUND({_MIX_BUDGET_FRAC}
                   * SUM(avail_tokens) OVER ()
                   * w / SUM(w) OVER (), 2) AS target_tokens
      FROM per
    )
    SELECT source, avail_tokens, target_tokens,
           ROUND(LEAST(1.0, target_tokens
                            / CAST(avail_tokens AS DOUBLE)), 6) AS rate,
           CAST(target_tokens > avail_tokens AS BIGINT) AS capped
    FROM planned
    """,
)
def q_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORPUS-MIXTURE PLANNING: given per-source weights and a token
    budget (here 50 % of the corpus, upweighting five premium sources
    3× — the _MIX_* constants above), compute
    each source's available tokens, its weighted target allocation,
    the sampling rate that achieves it, and whether the source is
    CAPPED (target exceeds supply — the shortfall a mixing pipeline
    redistributes or accepts).  This is the planning pass behind
    Pile/Dolma-style training mixtures; the emitted rate column feeds
    the same hash-cut predicate q_sample_stratified executes.

    Scale shape: one map-side-combined token-count agg shuffles
    #sources rows; the share normalization is a window over that tiny
    aggregate (the empty-frame SUM() OVER () runs on #sources rows,
    never the corpus).  Rates derive from the ROUNDED targets on both
    engines so the plan is engine-reproducible."""
    docs = load_table(spark, sf_dir, "documents")
    per = (
        docs.select("source", F.size(text.tokens("text")).alias("__n"))
        .groupBy("source")
        .agg(F.sum("__n").cast("long").alias("avail_tokens"))
        .withColumn(
            "__w",
            F.when(
                F.col("source").isin(*_MIX_UPWEIGHTED), F.lit(_MIX_UPWEIGHT)
            ).otherwise(F.lit(1.0)),
        )
    )
    tot = Window.partitionBy()
    planned = per.withColumn(
        "target_tokens",
        F.round(
            F.lit(_MIX_BUDGET_FRAC)
            * F.sum("avail_tokens").over(tot)
            * F.col("__w")
            / F.sum("__w").over(tot),
            2,
        ),
    )
    return planned.select(
        "source",
        "avail_tokens",
        "target_tokens",
        F.round(
            F.least(
                F.lit(1.0),
                F.col("target_tokens")
                / F.col("avail_tokens").cast("double"),
            ),
            6,
        ).alias("rate"),
        # BIGINT 0/1, not boolean: no boolean column has ever been
        # through a driver hash check (q_curate_corpus casts its flags
        # the same way) — don't let this query be the experiment
        (F.col("target_tokens") > F.col("avail_tokens"))
        .cast("long")
        .alias("capped"),
    )


@register(
    "q_mix_temperature",
    # SQRT is IEEE-correctly-rounded in every engine (POWER is not —
    # hence the explicit SQRT form on both sides); the normalizer is
    # an empty-frame window sum over #sources rows whose summation
    # order may differ cross-engine at the last ulp, so both ratio
    # outputs are rounded (sign-normalized; they are positive, the
    # +0.0 is the house convention).
    oracle="""
    WITH s AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
               FROM documents GROUP BY source),
    w AS (SELECT source, n_docs,
                 SQRT(CAST(n_docs AS DOUBLE)) AS wt FROM s)
    SELECT source, n_docs,
           (ROUND(wt / SUM(wt) OVER (), 6) + 0.0) AS weight,
           (ROUND(wt / SUM(wt) OVER () * 100000, 2) + 0.0) AS epoch_docs
    FROM w
    """,
)
def q_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEMPERATURE-SCALED sampling weights per source: w_s ∝ n_s^τ
    with τ = 0.5 (the mT5/multilingual-mixing move — upweight small
    sources, damp head sources, without the hand-set weights
    q_mixture_plan takes as input), plus each source's expected
    document count in a 100k-doc epoch.  Together with q_mixture_plan
    (explicit weights + budget caps) this completes the two standard
    mixture-planning modes of a pretraining pipeline.

    Scale shape: one map-side-combined count per source (#sources
    rows), then windows over that tiny aggregate — the corpus is
    scanned exactly once, one narrow column."""
    docs = load_table(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    return mix_weights(s)


def mix_weights(counts: DataFrame) -> DataFrame:
    """The pure weights tail behind q_mix_temperature — (source,
    n_docs) → (source, n_docs, weight, epoch_docs) with the τ = 0.5
    damping — factored out (r16) so the streaming mixture monitor
    computes its target weights through the SAME transform the batch
    query serves from (bit-for-bit agreement by construction: same
    sqrt, same window fold, same rounding)."""
    wt = F.sqrt(F.col("n_docs").cast("double"))
    tot = Window.partitionBy()
    share = wt / F.sum(wt).over(tot)
    return counts.select(
        "source",
        "n_docs",
        round_signless(share, 6).alias("weight"),
        round_signless(share * F.lit(100000), 2).alias("epoch_docs"),
    )


#: The stride-scheduled interleave order as DuckDB CTEs — shared
#: verbatim by q_mix_interleave and q_shard_balance (the _PACK_CTES
#: factoring precedent): the shard query MUST fold exactly the order
#: the interleave query emits, by construction.
_MIX_CTES = """n AS (SELECT source, COUNT(*) AS n FROM documents
               GROUP BY source),
    r AS (SELECT doc_id, source,
                 ROW_NUMBER() OVER (PARTITION BY source
                                    ORDER BY doc_id) AS src_rank
          FROM documents),
    k AS (SELECT r.doc_id, r.source, r.src_rank,
                 CAST(r.src_rank AS DOUBLE) / SQRT(CAST(n.n AS DOUBLE))
                     AS key
          FROM r JOIN n USING (source)),
    ordered AS (
        SELECT doc_id, source, CAST(src_rank AS BIGINT) AS src_rank,
               CAST(ROW_NUMBER() OVER (ORDER BY key, source, doc_id)
                    AS BIGINT) AS pos
        FROM k)"""


@register(
    "q_mix_interleave",
    # The stride key src_rank / SQRT(n_s) is engine-exact: src_rank
    # is an exact int, SQRT is IEEE-correctly-rounded everywhere
    # (q_mix_temperature's argument), and one correctly-rounded
    # division of exacts yields bit-identical doubles — so the
    # (key, source, doc_id) total order is engine-identical and every
    # output column is an exact integer or string.
    oracle=f"""
    WITH {_MIX_CTES}
    SELECT doc_id, source, src_rank, pos FROM ordered
    """,
)
def q_mix_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MIXTURE-WEIGHTED INTERLEAVE ORDER — the dataloader-side
    EXECUTION of the mixture the planning queries decide: emit every
    document's position in a global read order where each source s
    appears in proportion to its temperature-damped weight
    w_s ∝ √n_s (q_mix_temperature's τ = 0.5 damping) IN EVERY PREFIX,
    not just in aggregate.  This is stride scheduling (Waldspurger &
    Weihl 1995): doc k of source s gets key k / w_s and the global
    order sorts by key — source s's k-th appearance lands near global
    position k·Σw/w_s, so a training run that consumes the corpus in
    ``pos`` order sees the planned mixture from step one (no
    burn-in), completing the plan → weights → order chain
    (q_mixture_plan → q_mix_temperature → here).

    Output per doc: source, FIFO rank within source, and the global
    interleaved position — exact integers and strings only.

    Scale shape: the per-source count rides the SAME
    partitionBy(source) exchange the FIFO rank window already needs
    (an unbounded-frame COUNT window — no second scan, no aggregate
    shuffle, no join; the broadcast-join form was measurably worse:
    two FileScans plus an agg exchange for the same answer), the rank
    window carries the skewed-window caveat (few sources at 100× —
    the production swap is rank-from-id arithmetic when ids are
    per-source dense, or the score-range bucketing swap documented on
    q_select_budget), and ONE global-order window for pos (the
    oracle-exact form; at 100 TB the same bucketing swap applies —
    stride keys are uniform in [0, √n], so range-bucketing them is
    near-perfectly balanced)."""
    docs = load_table(spark, sf_dir, "documents")
    by_src = Window.partitionBy("source")
    k = docs.select(
        "doc_id",
        "source",
        F.row_number()
        .over(by_src.orderBy("doc_id"))
        .alias("src_rank"),
        F.count(F.lit(1)).over(by_src).alias("n"),
    ).select(
        "doc_id",
        "source",
        "src_rank",
        (
            F.col("src_rank").cast("double")
            / F.sqrt(F.col("n").cast("double"))
        ).alias("key"),
    )
    return k.select(
        "doc_id",
        "source",
        F.col("src_rank").cast("long").alias("src_rank"),
        F.row_number()
        .over(Window.orderBy("key", "source", "doc_id"))
        .cast("long")
        .alias("pos"),
    )


#: q_shard_balance's data-parallel world size (ranks)
_SHARD_WORLD = 8


@register(
    "q_shard_balance",
    # Pure integer algebra over the shared interleave order
    # (_MIX_CTES, verbatim q_mix_interleave's chain): shard is a
    # floor-division block cut of the exact pos against the exact
    # total (identical on both engines for non-negative ints), the
    # cells and spans are integer counts/extremes — nothing floats.
    oracle=f"""
    WITH {_MIX_CTES},
    t AS (SELECT COUNT(*) AS total FROM ordered)
    SELECT CAST(((pos - 1) * {_SHARD_WORLD}) // total AS BIGINT)
               AS shard,
           source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(pos) AS BIGINT) AS first_pos,
           CAST(MAX(pos) AS BIGINT) AS last_pos
    FROM ordered, t GROUP BY shard, source
    """,
)
def q_shard_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATA-PARALLEL SHARD AUDIT — the check a distributed training
    launch runs before trusting its dataloader split: deal the
    stride-scheduled global order (q_mix_interleave's plan, composed
    verbatim) onto 8 ranks (_SHARD_WORLD) as CONTIGUOUS BLOCKS
    (shard = ⌊(pos−1)·world/N⌋) and report each (shard, source)
    cell's document count and global-position span.  Contiguous
    blocks — NOT round-robin modulus — are the correct deal for a
    stride-scheduled order: stride orders are NEAR-PERIODIC (source
    s recurs every ≈ Σw/w_s positions), so a modulus deal RESONATES
    with any source whose stride shares a factor with the world size
    (on an equal-weight corpus every source has stride = #sources;
    at world 8 and 20 sources each source lands on exactly gcd-many
    ranks — observed: 2 of 8, a total per-rank distribution skew the
    balance audit exists to catch).  A block deal instead inherits
    stride scheduling's PREFIX guarantee: each block is a difference
    of two prefixes, so every rank sees each source's √n-damped
    share to within the two prefixes' lag bounds — the invariant
    suite asserts the resulting across-rank spread bound; a cell
    drifting further means the order upstream was corrupted
    (re-sorted, filtered asymmetrically) and ranks would train on
    different distributions.

    Cross-engine: the composed order is engine-identical
    (q_mix_interleave's argument) and everything downstream is
    integer floor division/count/min/max — no rounding discipline.

    Scale shape: q_mix_interleave's plan (one pruned scan, two
    exchanges) plus an unbounded-frame COUNT window riding the pos
    window's single partition (no added exchange) and ONE
    map-side-combined (shard × source)-cell aggregate (≤
    world·#sources rows) — the audit adds no row-scale shuffle
    beyond the order it audits."""
    order = q_mix_interleave(spark, sf_dir)
    total = F.count(F.lit(1)).over(Window.partitionBy())
    return (
        order.withColumn("total", total)
        .select(
            "source",
            "pos",
            F.expr(
                f"((pos - 1) * {_SHARD_WORLD}) div total"
            ).alias("shard"),
        )
        .groupBy("shard", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("pos").cast("long").alias("first_pos"),
            F.max("pos").cast("long").alias("last_pos"),
        )
    )


@register(
    "q_cooccurrence_pmi",
    # Bigram machinery identical to q_text_bigram_lm's oracle; the PMI
    # ratio is written in the SAME left-associative double order as
    # the Spark side (((c_ab·T)·T) / ((B·c_a)·c_b)) so both engines
    # round the same value, and every input to it is an exact integer.
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w
                  FROM documents),
    bg AS (
      SELECT w[i] AS w1, w[i+1] AS w2
      FROM toks, LATERAL (SELECT unnest(range(1, len(w))) AS i)),
    pair AS (SELECT w1, w2, COUNT(*) AS c_ab FROM bg GROUP BY 1, 2),
    uni AS (SELECT t AS w, COUNT(*) AS c FROM
              (SELECT unnest(string_split(text, ' ')) AS t
               FROM documents) GROUP BY 1),
    tot AS (SELECT (SELECT SUM(c) FROM uni) AS t_uni,
                   (SELECT SUM(c_ab) FROM pair) AS t_bg)
    SELECT w1, w2, CAST(c_ab AS BIGINT) AS c_ab,
           ROUND(LN(CAST(c_ab AS DOUBLE) * t_uni * t_uni
                    / (CAST(t_bg AS DOUBLE) * u1.c * u2.c)), 6) AS pmi
    FROM pair
    JOIN uni u1 ON pair.w1 = u1.w
    JOIN uni u2 ON pair.w2 = u2.w
    CROSS JOIN tot
    WHERE c_ab >= 5
    """,
    staging=("tf_postings",),
)
def q_cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information over adjacent token pairs
    (SURVEY.md §2 B12 — collocation mining: the association measure
    behind phrase detection / tokenizer-vocab seeding; Church & Hanks
    1990): PMI(a,b) = ln(P(ab) / (P(a)P(b))), support-filtered at
    c_ab ≥ 5 so rare-pair noise (PMI's known failure mode) never
    surfaces.

    Scale shape: the bigram and unigram COUNT relations are the only
    aggregates (both map-side-combined, both Zipf-small relative to
    the corpus); the PMI join probes the pair relation against the
    unigram relation twice — distinct-token cardinality, unbounded, so
    NO broadcast hint (AQE may still pick one at small SF, and hot
    stopword tokens stay splittable by skew handling — the exact
    q_text_tfidf df-join rationale).  Corpus totals ride a 1-row
    broadcast crossJoin.  The occurrence streams are never
    materialized (q_bm25's discipline) — only the two post-aggregation
    count relations persist, each feeding multiple plan branches."""
    docs = load_table(spark, sf_dir, "documents")
    # token array staged BELOW the Generate and the ngram split staged
    # below the w1/w2 projection (r16, the q_text_bigram_lm pattern):
    # one split per document and one per bigram row instead of 3 and 2
    bg = spread_scan(docs).select(
        text.tokens("text").alias("__toks")
    ).select(
        F.explode(
            text.word_shingles_of(F.col("__toks"), 2)
        ).alias("ngram")
    ).select(
        F.split(F.col("ngram"), " ").alias("__p")
    ).select(
        F.col("__p")[0].alias("w1"),
        F.col("__p")[1].alias("w2"),
    )
    # Both count relations are PERSISTED: pair feeds the total and the
    # PMI probe, uni feeds u1/u2/t_uni — without the persist each
    # consumer branch re-tokenizes the corpus (ReuseExchange does not
    # match across the alias branches; the q_text_bigram_lm model
    # persist is the same call).  Post-aggregation they are
    # Zipf-small — exactly the collocation staging tables a production
    # pipeline materializes.
    pair = bg.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).alias("c_ab")
    ).persist()
    # The unigram counts serve from the staged tf table (r16, the
    # q_vocab_coverage precedent): Σ tf over the (doc, term, tf)
    # staging relation is the SAME integer occurrence count the
    # corpus explode computed, for a Zipf-small grid aggregate
    # instead of a second corpus tokenize+explode+exchange.  The
    # bigram leg (this query's OUTPUT) stays computed from the
    # corpus.
    from level2_to_cassandra_spark.queries.llm import _tf_relation

    uni = (
        _tf_relation(spark, sf_dir)
        .groupBy(F.col("term").alias("w"))
        .agg(F.sum("tf").alias("c"))
    ).persist()
    tot = pair.agg(F.sum("c_ab").alias("t_bg")).crossJoin(
        uni.agg(F.sum("c").alias("t_uni"))
    )
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    pmi = F.round(
        F.log(
            F.col("c_ab").cast("double") * F.col("t_uni") * F.col("t_uni")
            / (F.col("t_bg").cast("double") * F.col("c1") * F.col("c2"))
        ),
        6,
    )
    return (
        pair.where(F.col("c_ab") >= 5)
        .join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(tot))
        .select("w1", "w2", F.col("c_ab").cast("long").alias("c_ab"),
                pmi.alias("pmi"))
    )


@register(
    "q_drift_psi",
    # Bin membership is the same left-associated IEEE expression on
    # both engines; counts are integers; the PSI fold divides/logs
    # identical doubles in identical order, and the flag compares the
    # ROUNDED psi so a sub-ulp ln() divergence cannot flip it.
    oracle="""
    WITH labeled AS (
        SELECT event_type, value,
               CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 'ref'
                    ELSE 'cur' END AS period
        FROM events),
    bounds AS (
        SELECT event_type, MIN(value) AS lo, MAX(value) AS hi
        FROM labeled WHERE period = 'ref' GROUP BY event_type),
    binned AS (
        SELECT l.event_type, l.period,
               CASE WHEN b.hi = b.lo THEN 0
                    ELSE CAST(LEAST(GREATEST(
                        FLOOR((l.value - b.lo) / (b.hi - b.lo) * 10),
                        0), 9) AS BIGINT) END AS bin
        FROM labeled l JOIN bounds b USING (event_type)),
    cells AS (
        SELECT event_type, bin,
               SUM(CASE WHEN period = 'ref' THEN 1 ELSE 0 END) AS c_ref,
               SUM(CASE WHEN period = 'cur' THEN 1 ELSE 0 END) AS c_cur
        FROM binned GROUP BY event_type, bin),
    tot AS (
        SELECT event_type,
               SUM(c_ref) AS n_ref, SUM(c_cur) AS n_cur
        FROM cells GROUP BY event_type),
    terms AS (
        SELECT c.event_type, t.n_ref, t.n_cur,
               ((CAST(c.c_cur AS DOUBLE) + 1.0)
                    / (CAST(t.n_cur AS DOUBLE) + 10.0)
                - (CAST(c.c_ref AS DOUBLE) + 1.0)
                    / (CAST(t.n_ref AS DOUBLE) + 10.0))
               * LN(((CAST(c.c_cur AS DOUBLE) + 1.0)
                         / (CAST(t.n_cur AS DOUBLE) + 10.0))
                    / ((CAST(c.c_ref AS DOUBLE) + 1.0)
                         / (CAST(t.n_ref AS DOUBLE) + 10.0))) AS term
        FROM cells c JOIN tot t USING (event_type))
    SELECT event_type,
           CAST(n_ref AS BIGINT) AS n_ref,
           CAST(n_cur AS BIGINT) AS n_cur,
           FLOOR(SUM(term) * 1000000 + 0.5) / 1000000 AS psi,
           FLOOR(SUM(term) * 1000000 + 0.5) / 1000000 > 0.2 AS drift_flag
    FROM terms
    GROUP BY event_type, n_ref, n_cur
    """,
)
def q_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift monitor (SURVEY.md §2 B12 —
    the distribution gate a training pipeline runs between ingest
    batches: has this feature's distribution moved enough that the
    mixture weights / classifiers trained on the reference window are
    stale?).  Reference window = first half of the month, current =
    second half; 10 equal-width bins anchored on the REFERENCE min/max
    (out-of-range current values clip into the edge bins — exactly how
    production monitors catch range escapes); Laplace-smoothed PSI
    with the conventional 0.2 alarm threshold.

    Scale shape: one scan, one broadcast of the per-group bin bounds
    back over it, one (event_type, bin) count aggregate — the cell
    relation is #groups x 10 rows, so the PSI fold and the totals
    window are free.  Nothing here grows with row count except the
    map-side binning pass.
    """
    from level2_to_cassandra_spark.functions import round_half_up

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "value",
        F.when(F.col("ts") < F.lit("2024-01-16").cast("timestamp"), "ref")
        .otherwise("cur").alias("period"),
    )
    bounds = (
        ev.where(F.col("period") == "ref")
        .groupBy("event_type")
        .agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    )
    binned = ev.join(F.broadcast(bounds), "event_type").select(
        "event_type", "period",
        # hi == lo (degenerate reference window, e.g. a constant
        # feature after a fixture regeneration) would make the bin
        # expression 0/0 = NaN and lean on engine NaN ordering —
        # collapse that case to bin 0 explicitly on both sides
        F.when(F.col("hi") == F.col("lo"), F.lit(0))
        .otherwise(
            F.least(
                F.greatest(
                    F.floor(
                        (F.col("value") - F.col("lo"))
                        / (F.col("hi") - F.col("lo")) * F.lit(10.0)
                    ),
                    F.lit(0),
                ),
                F.lit(9),
            )
        ).cast("long").alias("bin"),
    )
    cells = binned.groupBy("event_type", "bin").agg(
        F.sum(F.when(F.col("period") == "ref", 1).otherwise(0)).alias("c_ref"),
        F.sum(F.when(F.col("period") == "cur", 1).otherwise(0)).alias("c_cur"),
    )
    w = Window.partitionBy("event_type")
    cells = cells.withColumn("n_ref", F.sum("c_ref").over(w)).withColumn(
        "n_cur", F.sum("c_cur").over(w)
    )
    p_cur = (F.col("c_cur").cast("double") + F.lit(1.0)) / (
        F.col("n_cur").cast("double") + F.lit(10.0)
    )
    p_ref = (F.col("c_ref").cast("double") + F.lit(1.0)) / (
        F.col("n_ref").cast("double") + F.lit(10.0)
    )
    term = (p_cur - p_ref) * F.log(p_cur / p_ref)
    psi = round_half_up(F.sum(term), 6)
    return (
        cells.withColumn("term", term)
        .groupBy(
            "event_type",
            F.col("n_ref").cast("long").alias("n_ref"),
            F.col("n_cur").cast("long").alias("n_cur"),
        )
        .agg(psi.alias("psi"), (psi > 0.2).alias("drift_flag"))
    )


@register(
    "q_drift_ks",
    # Every quantity is derived from integer cumulative counts over
    # the SAME distinct-value grid on both engines: the empirical-CDF
    # ratios divide identical values (explicit CAST AS DOUBLE on the
    # numerator, the denominator auto-widens identically), the abs
    # diff and MAX are order-free, and the flag compares the ROUNDED
    # statistic.  NULL/NaN values are excluded up front (a CDF over
    # them is undefined and engines total-order NaN differently).
    oracle="""
    WITH labeled AS (
        SELECT event_type, value,
               CASE WHEN ts < TIMESTAMP '2024-01-16'
                    THEN 'ref' ELSE 'cur' END AS period
        FROM events
        WHERE value IS NOT NULL AND NOT isnan(value)),
    dist AS (
        SELECT event_type, value,
               SUM(CASE WHEN period = 'ref' THEN 1 ELSE 0 END) AS n_ref_v,
               SUM(CASE WHEN period = 'cur' THEN 1 ELSE 0 END) AS n_cur_v
        FROM labeled GROUP BY event_type, value),
    cdf AS (
        SELECT event_type, n_ref_v, n_cur_v,
               CAST(SUM(n_ref_v) OVER (
                        PARTITION BY event_type ORDER BY value
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS DOUBLE)
                   / NULLIF(SUM(n_ref_v) OVER (PARTITION BY event_type),
                            0) AS f_ref,
               CAST(SUM(n_cur_v) OVER (
                        PARTITION BY event_type ORDER BY value
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS DOUBLE)
                   / NULLIF(SUM(n_cur_v) OVER (PARTITION BY event_type),
                            0) AS f_cur
        FROM dist)
    SELECT event_type,
           CAST(SUM(n_ref_v) AS BIGINT) AS n_ref,
           CAST(SUM(n_cur_v) AS BIGINT) AS n_cur,
           (ROUND(MAX(ABS(f_ref - f_cur)), 6) + 0.0) AS ks,
           (ROUND(MAX(ABS(f_ref - f_cur)), 6) + 0.0) > 0.1 AS drift_flag
    FROM cdf
    GROUP BY event_type
    HAVING SUM(n_ref_v) > 0 AND SUM(n_cur_v) > 0
    """,
)
def q_drift_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Kolmogorov-Smirnov drift per key — the nonparametric
    member of the drift family: q_drift_psi bins (10 cells, fast but
    blind to within-bin movement), q_drift_embedding scores quantizer
    occupancy, and THIS computes the exact sup-distance between the
    reference and current empirical CDFs — the statistic that catches
    a shift PSI's coarse bins smear away.  Same windows as q_drift_psi
    (reference = first half of the month); conventional 0.1 alarm on
    the rounded statistic.

    Scale shape: the CDF does NOT need a global per-row sort — the
    (key, value) aggregate collapses the corpus to its DISTINCT value
    grid first (bounded by value cardinality, the tf-postings scale
    class), and the cumulative window + max run over that grid: one
    corpus-scale exchange for the aggregate, then grid-sized work.
    Keys missing either window are omitted (no distribution to compare
    — the q_drift_psi reference-keys discipline)."""
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("value").isNotNull() & ~F.isnan("value"))
        .select(
            "event_type", "value",
            F.when(
                F.col("ts") < F.lit("2024-01-16").cast("timestamp"), "ref"
            ).otherwise("cur").alias("period"),
        )
    )
    dist = ev.groupBy("event_type", "value").agg(
        F.sum(F.when(F.col("period") == "ref", 1).otherwise(0))
        .alias("n_ref_v"),
        F.sum(F.when(F.col("period") == "cur", 1).otherwise(0))
        .alias("n_cur_v"),
    )
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy("event_type")
    # NULLIF guards the one-sided-key class (a key present in only one
    # window): its CDF is undefined and the final n_ref/n_cur > 0
    # filter omits the key, but under ANSI mode the division itself
    # would throw DIVIDE_BY_ZERO before the filter runs (found by the
    # r14 KS-twin null-key parity test).  NULL ratios fold away inside
    # MAX, so scored keys are bit-identical to the unguarded form.
    f_ref = (
        F.sum("n_ref_v").over(w_cum).cast("double")
        / F.nullif(F.sum("n_ref_v").over(w_tot), F.lit(0))
    )
    f_cur = (
        F.sum("n_cur_v").over(w_cum).cast("double")
        / F.nullif(F.sum("n_cur_v").over(w_tot), F.lit(0))
    )
    ks = round_signless(F.max(F.abs(F.col("f_ref") - F.col("f_cur"))), 6)
    return (
        dist.select(
            "event_type", "n_ref_v", "n_cur_v",
            f_ref.alias("f_ref"), f_cur.alias("f_cur"),
        )
        .groupBy("event_type")
        .agg(
            F.sum("n_ref_v").cast("long").alias("n_ref"),
            F.sum("n_cur_v").cast("long").alias("n_cur"),
            ks.alias("ks"),
            (ks > F.lit(0.1)).alias("drift_flag"),
        )
        .where((F.col("n_ref") > 0) & (F.col("n_cur") > 0))
    )


#: Reservoir size per stratum — part of the query spec (the oracle
#: unrolls it), not a tuning knob.
_RESERVOIR_K = 20


@register(
    "q_sample_reservoir",
    oracle=f"""
    SELECT lang, doc_id, rk
    FROM (SELECT lang, doc_id,
                 ROW_NUMBER() OVER (
                     PARTITION BY lang
                     ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
          FROM documents)
    WHERE rk <= {_RESERVOIR_K}
    """,
)
def q_sample_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIXED-SIZE reservoir sample per stratum (exactly K=20 docs per
    language) — the third sampling mode next to q_sample_stratified's
    per-stratum RATES and q_sample_weighted's weighted draw: eval-set
    construction and per-language probes need exactly-K, not
    approximately-rate.  The classic distributed formulation: rank
    each stratum by a deterministic hash of the stable id (md5, the
    q_sample_split/q_sample_stratified discipline — reproducible
    across runs, engines and partitionings, no RNG state) and keep the
    first K; a hash-ordered top-K IS a uniform reservoir draw.

    Scale shape: the rank filter lowers to WindowGroupLimit
    (plan-pinned) — each map task keeps only its local top-K per
    stratum BEFORE the exchange, so the shuffle carries
    O(partitions × K) rows per stratum, never the corpus; this is
    exactly the distributed-reservoir merge (union of per-partition
    reservoirs re-ranked), expressed declaratively."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.select("lang", "doc_id")
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= _RESERVOIR_K)
    )


# -------------------------------------------- classifier calibration

_CALIB_BINS = 10  # equal-width score bins over [-1, 1]


def _calib_lab_ctes(keep: tuple[str, ...] = ()) -> str:
    """The scored+labeled+binned relation as DuckDB CTEs (``w`` →
    ``scored`` → ``lab``) — THE single place the oracle-side scoring
    semantics live for the calibration/thresholding pair (the
    _tokenize_ctes discipline: q_classifier_calibration and
    q_classifier_threshold must bin identical scores by construction,
    not by parallel maintenance).  ``keep`` threads extra document
    columns through both CTEs (the Spark twin's keep-passthrough,
    r16 — q_eval_auc needs ``lang`` beside the score/label)."""
    kp = "".join(f", {c}" for c in keep)
    return f"""w AS (SELECT {_classifier_weights()!r}::DOUBLE[] AS l),
    scored AS (
      SELECT doc_id,
             list_reduce(
               list_transform(string_split(text, ' '), t ->
                 w.l[((('0x' || substr(md5(t), 1, 16))::UBIGINT & 63)
                      + 1)::INT]),
               (a, x) -> a + x)
               / len(string_split(text, ' ')) AS score{kp}
      FROM documents CROSS JOIN w),
    lab AS (
      SELECT score, 1.0 / (1.0 + exp(-score)) AS p,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 16))
                  ::UBIGINT & 1 AS BIGINT) AS label,
             LEAST(GREATEST(CAST(FLOOR((score + 1) * 5) AS BIGINT), 0), 9)
                 AS bin{kp}
      FROM scored)"""


#: computed column names of _calib_lab — ONE module-level tuple so the
#: keep-collision guard and the select cannot drift (review r15 rule)
_CALIB_LAB_COLS = ("bin", "score", "p", "label")


def _calib_lab(docs: DataFrame, keep: tuple[str, ...] = (),
               toks_col: str | None = None) -> DataFrame:
    """(bin, score, p, label[, keep...]) per document — the Spark twin
    of the ``lab`` CTE.  The scoring expression is q_classifier_score's
    transform inlined UNROUNDED (that query's emitted score is rounded
    for display; bins cut on the raw exact-rational s/n, which is
    deterministic where a rounded value could straddle a bin edge);
    the label is the deterministic portable-hash low bit of doc_id —
    a fixture stand-in for human/weak labels with the property that
    matters: both engines reproduce it exactly, so the surface under
    test is the downstream computation, not label acquisition.
    Map-only inside the scan: no token explode, zero exchanges.

    ``keep`` passthrough columns (r16 — the gopher_stats discipline)
    let the streaming classifier gate keep doc identity and payload;
    names colliding with the computed columns raise immediately,
    CASEFOLDED (Spark resolves names case-insensitively by default)."""
    clash = {k for k in keep
             if k.lower() in _CALIB_LAB_COLS
             or k.lower() in ("__toks", "__score")}
    if clash:
        raise ValueError(
            "_calib_lab keep columns collide with computed columns: "
            f"{sorted(clash)} — rename them upstream"
        )
    warr = F.array(*[F.lit(x) for x in _classifier_weights()])
    bucket_w = lambda t: F.element_at(  # noqa: E731
        warr,
        (text.portable_hash64(t).bitwiseAND(F.lit(63)) + 1).cast("int"),
    )
    # token array and raw score STAGED in their own Projects (r16):
    # score is referenced by bin, p AND the emitted score column, and
    # inline it replayed the per-token hash fold per reference (the
    # q_classifier_calibration plan carried 6 split(text) instances →
    # 1 after staging; same expressions, same values).  ``toks_col``
    # lets a caller chaining transforms share ONE staged array.
    if toks_col is None:
        docs = docs.withColumn("__toks", text.tokens("text"))
        toks_col = "__toks"
    toks = F.col(toks_col)
    s = F.aggregate(
        F.transform(toks, bucket_w), F.lit(0.0), lambda a, x: a + x
    )
    docs = docs.withColumn("__score", s / F.size(toks))
    score = F.col("__score")
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-score))
    label = (
        text.portable_hash64(F.col("doc_id").cast("string"))
        .bitwiseAND(F.lit(1))
        .cast("long")
    )
    bin_ = F.least(
        F.greatest(
            F.floor((score + 1) * (_CALIB_BINS / 2)), F.lit(0)
        ),
        F.lit(_CALIB_BINS - 1),
    ).cast("long")
    computed = {
        "bin": bin_, "score": score, "p": p, "label": label,
    }
    if tuple(computed) != _CALIB_LAB_COLS:
        raise ValueError(
            "_calib_lab computed dict and _CALIB_LAB_COLS diverged: "
            f"{sorted(set(computed) ^ set(_CALIB_LAB_COLS))}"
        )
    return docs.select(
        *[computed[c].alias(c) for c in _CALIB_LAB_COLS], *keep
    )


@register(
    "q_classifier_calibration",
    # Float discipline: the per-doc score s/n is an EXACT rational
    # (integer +-1 fold / integer count — correctly-rounded division,
    # bit-identical both engines), so binning on the raw score is
    # deterministic; per-bin averages are order-jittered doubles
    # rounded half-up at 4 (the engine-wide avg discipline); the gap
    # is computed FROM the rounded columns (identical inputs ->
    # identical doubles); and the ECE fold is EXACT integer algebra —
    # gap lifted to integer 1e4 units, SUM(n*gap_e4) an order-free
    # integer, one final correctly-rounded division.
    oracle=f"""
    WITH {_calib_lab_ctes()},
    bins AS (
      SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
             FLOOR(AVG(score) * 10000 + 0.5) / 10000 AS mean_score,
             FLOOR(AVG(p) * 10000 + 0.5) / 10000 AS mean_p,
             FLOOR(SUM(label)::DOUBLE / COUNT(*) * 1000000 + 0.5)
                 / 1000000 AS frac_pos
      FROM lab GROUP BY bin),
    gaps AS (
      SELECT *, FLOOR(ABS(frac_pos - mean_p) * 10000 + 0.5) / 10000
                    AS abs_gap
      FROM bins),
    g4 AS (
      SELECT *, CAST(FLOOR(abs_gap * 10000 + 0.5) AS BIGINT) AS ge4
      FROM gaps)
    SELECT bin, n, mean_score, mean_p, frac_pos, abs_gap,
           FLOOR(CAST(SUM(n * ge4) OVER () AS DOUBLE)
                 / CAST(SUM(n) OVER () * 10000 AS DOUBLE)
                 * 1000000 + 0.5) / 1000000 AS ece
    FROM g4
    """,
)
def q_classifier_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RELIABILITY CURVE + ECE for the quality classifier (VERDICT r14
    gap #6): before thresholding q_classifier_score's p_keep over
    100 TB, measure whether 0.9 means 90 % — bin the scores, compare
    each bin's mean predicted probability against its observed positive
    fraction, and fold the per-bin |gap|s into the Expected Calibration
    Error (weighted by bin occupancy).  Emits one row per non-empty
    bin: n, mean raw score, mean p, fraction positive, |gap|, and the
    corpus ECE (constant across rows — the driver-hashable scalar-fold
    shape).  Scoring/labeling/binning semantics live in
    :func:`_calib_lab` (shared verbatim with q_classifier_threshold).
    The ECE fold arithmetic and bin/occupancy laws are pinned by
    tests/test_queries_invariants.py::test_classifier_calibration_fold_arithmetic.

    Scale shape: scoring + labeling + binning are map-only inside the
    scan (the q_classifier_score shape — zero exchanges, codegen'd
    higher-order fold, no token explode); ONE 10-group aggregate is
    the only row-scale exchange; the ECE window runs over the 10-row
    bin relation (bounded by _CALIB_BINS no matter the corpus size, so
    the unpartitioned window is free)."""
    lab = _calib_lab(spread_scan(load_table(spark, sf_dir, "documents")))
    bins = lab.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        round_half_up(F.avg("score"), 4).alias("mean_score"),
        round_half_up(F.avg("p"), 4).alias("mean_p"),
        round_half_up(
            F.sum("label").cast("double") / F.count(F.lit(1)), 6
        ).alias("frac_pos"),
    )
    gaps = bins.withColumn(
        "abs_gap",
        round_half_up(F.abs(F.col("frac_pos") - F.col("mean_p")), 4),
    )
    g4 = gaps.withColumn(
        "ge4", F.floor(F.col("abs_gap") * 10000 + F.lit(0.5)).cast("long")
    )
    w_all = Window.partitionBy()
    ece = round_half_up(
        F.sum(F.col("n") * F.col("ge4")).over(w_all).cast("double")
        / (F.sum("n").over(w_all) * 10000).cast("double"),
        6,
    )
    return g4.select(
        "bin", "n", "mean_score", "mean_p", "frac_pos", "abs_gap",
        ece.alias("ece"),
    )


@register(
    "q_classifier_threshold",
    # All-integer sweep: pred_pos/tp/total_pos are suffix sums of
    # per-bin integer counts (the spine >= join makes every threshold
    # row exist even when its bins are empty), and precision/recall/F1
    # are single correctly-rounded integer divisions — F1 via the
    # algebraic identity 2tp/(pred+total), never 2PR/(P+R)'s float
    # chain.  thr = -1 + t*0.2 is the same two IEEE ops on both
    # engines.  The only float exposure is the final ROUND.
    oracle=f"""
    WITH {_calib_lab_ctes()},
    bins AS (
      SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(label) AS BIGINT) AS pos
      FROM lab GROUP BY bin),
    spine AS (SELECT CAST(unnest(range(0, {_CALIB_BINS})) AS BIGINT) AS t),
    sweep AS (
      SELECT s.t,
             CAST(COALESCE(SUM(b.n), 0) AS BIGINT) AS n_pred_pos,
             CAST(COALESCE(SUM(b.pos), 0) AS BIGINT) AS tp
      FROM spine s LEFT JOIN bins b ON b.bin >= s.t
      GROUP BY s.t),
    tot AS (SELECT MAX(tp) AS total_pos FROM sweep)
    SELECT t, -1.0 + t * 0.2 AS thr, n_pred_pos, tp,
           FLOOR(tp::DOUBLE / NULLIF(n_pred_pos, 0) * 1000000 + 0.5)
               / 1000000 AS precision,
           FLOOR(tp::DOUBLE / NULLIF(total_pos, 0) * 1000000 + 0.5)
               / 1000000 AS recall,
           FLOOR(2 * tp::DOUBLE / NULLIF(n_pred_pos + total_pos, 0)
                 * 1000000 + 0.5) / 1000000 AS f1
    FROM sweep CROSS JOIN tot
    """,
)
def q_classifier_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THRESHOLD SWEEP (precision/recall/F1 curve) for the quality
    classifier — the operational question after q_classifier_calibration
    says the scores are trustworthy: WHERE to cut p_keep when filtering
    100 TB.  One row per candidate threshold (the 10 score-bin lower
    edges): docs predicted positive, true positives, precision, recall
    and F1 against the same deterministic fixture labels the
    calibration uses (:func:`_calib_lab` — the two queries bin
    identical scores by construction).

    Exactness: the curve is SUFFIX SUMS of per-bin integer counts —
    predict positive at threshold t ⇔ score bin ≥ t — so every count
    is exact; precision/recall/F1 are single integer divisions (F1 via
    2·tp/(pred+total), the algebraic identity that avoids the float
    chain of 2PR/(P+R)); empty-prediction thresholds emit NULL
    precision (NULLIF), never a division error.

    Scale shape: identical to the calibration — map-only scoring in
    the scan, ONE 10-group row-scale aggregate; the threshold spine is
    a 10-row literal range joined (bin >= t) against the 10-row bin
    relation, so the sweep itself costs nothing and total_pos is a MAX
    over the 10 sweep rows (suffix sums are non-increasing, so the
    t=0 row IS the total — no second corpus pass)."""
    lab = _calib_lab(spread_scan(load_table(spark, sf_dir, "documents")))
    bins = lab.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("label").cast("long").alias("pos"),
    )
    spine = spark.range(0, _CALIB_BINS).select(
        F.col("id").cast("long").alias("t")
    )
    sweep = (
        spine.join(F.broadcast(bins), F.col("bin") >= F.col("t"), "left")
        .groupBy("t")
        .agg(
            F.coalesce(F.sum("n"), F.lit(0)).cast("long")
            .alias("n_pred_pos"),
            F.coalesce(F.sum("pos"), F.lit(0)).cast("long").alias("tp"),
        )
    )
    w_all = Window.partitionBy()
    total_pos = F.max("tp").over(w_all)
    prec = F.col("tp").cast("double") / F.nullif(
        F.col("n_pred_pos"), F.lit(0)
    ).cast("double")
    rec = F.col("tp").cast("double") / F.nullif(
        total_pos, F.lit(0)
    ).cast("double")
    f1 = (F.lit(2) * F.col("tp")).cast("double") / F.nullif(
        F.col("n_pred_pos") + total_pos, F.lit(0)
    ).cast("double")
    return sweep.select(
        "t",
        (F.lit(-1.0) + F.col("t") * F.lit(0.2)).alias("thr"),
        "n_pred_pos",
        "tp",
        round_half_up(prec, 6).alias("precision"),
        round_half_up(rec, 6).alias("recall"),
        round_half_up(f1, 6).alias("f1"),
    )


#: q_quality_vote's repetition gate: dup_3gram above this flags the
#: doc as repetition spam (Gopher's "duplicated n-gram fraction" cut)
_VOTE_REP_MAX = 0.1


def _vote_ctes() -> str:
    """The three-gate vote relation as DuckDB CTEs (calib chain +
    ``g``/``r``/``c`` member gates + ``v`` votes) — THE single place
    the ensemble's oracle semantics live (the _calib_lab_ctes
    discipline, r16): q_quality_vote emits ``v`` per doc and
    q_label_agreement folds ``v`` into pairwise agreement, so both
    oracles replay the identical gate bits by construction.  The
    gopher and repetition rule SQL mirrors those queries' oracles
    (their Spark sides are the SAME shared transforms, and a
    cross-query consistency test pins the mirrors); the repetition
    CASE adds an explicit NULL-text arm (w IS NULL → 0) because the
    engine's otherwise(0) REJECTS a NULL metric while a bare
    COALESCE-to-0 oracle would pass it."""
    return f"""{_calib_lab_ctes()},
    g AS (
        SELECT doc_id,
               CASE WHEN len(string_split(text, ' '))
                         BETWEEN 50 AND 100000
                     AND ROUND((length(text)
                                - len(string_split(text, ' ')) + 1)
                               ::DOUBLE / len(string_split(text, ' ')), 6)
                         BETWEEN 3 AND 10
                     AND ROUND(len(list_filter(string_split(text, ' '),
                                     t -> regexp_matches(t, '[a-z]')))
                               ::DOUBLE / len(string_split(text, ' ')), 6)
                         >= 0.8
                     AND ROUND(((length(text)
                                 - length(replace(text, '#', '')))
                                + (length(text)
                                   - length(replace(text, '…', ''))))
                               ::DOUBLE / len(string_split(text, ' ')), 6)
                         <= 0.1
                    THEN 1 ELSE 0 END AS pass_gopher
        FROM documents),
    r AS (
        SELECT doc_id,
               CASE WHEN w IS NULL THEN 0
                    WHEN ROUND(COALESCE(
                        (len(g3) - len(list_distinct(g3)))
                        / CAST(NULLIF(len(g3), 0) AS DOUBLE), 0), 6)
                         <= {_VOTE_REP_MAX}
                    THEN 1 ELSE 0 END AS pass_repetition
        FROM (SELECT doc_id, w,
                     list_transform(range(1, len(w) - 1),
                         i -> concat_ws(' ', w[i], w[i+1], w[i+2])) AS g3
              FROM (SELECT doc_id, string_split(text, ' ') AS w
                    FROM documents))),
    c AS (
        SELECT doc_id,
               CASE WHEN score >= 0 THEN 1 ELSE 0 END AS pass_classifier
        FROM scored),
    v AS (
        SELECT g.doc_id, g.pass_gopher, c.pass_classifier,
               r.pass_repetition,
               g.pass_gopher + c.pass_classifier + r.pass_repetition
                   AS votes
        FROM g JOIN c USING (doc_id) JOIN r USING (doc_id))"""


@register(
    "q_quality_vote",
    # All three member gates compare ROUNDED ratio columns or exact
    # integers (the q_quality_gopher stance), the classifier vote cuts
    # the RAW exact-rational score at 0 (sigmoid(0) = 0.5 — no exp in
    # the decision path at all), and the output is pure 0/1 integer
    # algebra — nothing floats past the per-gate ROUNDs.  The gate
    # CTE chain is the FACTORED _vote_ctes (r16 — shared verbatim
    # with q_label_agreement; NULL-text arm verified by the crafted
    # NULL-text both-engines test, review r16 first pass).
    oracle=f"""
    WITH {_vote_ctes()}
    SELECT doc_id,
           CAST(pass_gopher AS BIGINT) AS pass_gopher,
           CAST(pass_classifier AS BIGINT) AS pass_classifier,
           CAST(pass_repetition AS BIGINT) AS pass_repetition,
           CAST(votes AS BIGINT) AS votes,
           CAST(CASE WHEN votes >= 2 THEN 1 ELSE 0 END AS BIGINT)
               AS admit
    FROM v
    """,
)
def q_quality_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUALITY-GATE ENSEMBLE — majority vote over the three
    independent quality families every curation stack combines:
    structural rules (q_quality_gopher's Gopher gates), model score
    (q_classifier_score's linear classifier at the p = 0.5 cut,
    decided on the RAW score's sign so no sigmoid enters the decision
    path), and repetition (q_text_repetition's duplicated-trigram
    fraction ≤ 0.1).  A doc is admitted on ≥ 2 of 3 votes — the
    standard ensemble stance: any single signal misfires on some
    genre (rules reject code, the classifier rejects rare domains,
    repetition rejects lyrics), the majority is robust.  Emits the
    three per-gate bits, the vote count, and the admit bit per doc.

    Drift-safety: all three member signals are THE SHARED transforms
    their standalone queries serve from (gopher_stats, _calib_lab,
    dup_ngram_ratio — chained via keep-passthrough, never
    reimplemented), so the ensemble agrees with its members
    bit-for-bit by construction; a cross-query consistency test pins
    it (tests/test_queries_invariants.py).

    Scale shape: the three transforms chain as pure projections of
    ONE scan — no join, no window, no shuffle anywhere (the
    q_quality_gopher scan→project shape, ×3 signals).  At 100 TB this
    is the cheapest possible ensemble: each doc votes inside its scan
    task.  A NULL-text doc fails all three gates (votes 0) on both
    engines — NULL metrics propagate to otherwise(0)/ELSE 0."""
    return quality_votes(spread_scan(load_table(spark, sf_dir, "documents")))


#: quality_votes' computed column names — ONE module-level tuple so
#: the keep-collision guard and the select cannot drift
_VOTE_COLS = (
    "pass_gopher", "pass_classifier", "pass_repetition", "votes",
    "admit",
)


def quality_votes(docs: DataFrame, keep: tuple[str, ...] = ()) -> DataFrame:
    """The pure ensemble transform behind q_quality_vote — the three
    SHARED member transforms (gopher_stats, _calib_lab,
    dup_ngram_ratio) chained via keep-passthrough into one
    scan→project, with ``keep`` payload columns riding through (the
    gopher_stats discipline) so the streaming ensemble gate can admit
    original rows.  ``keep`` names colliding with the computed vote
    columns raise immediately, CASEFOLDED; the member transforms
    guard their own computed names the same way."""
    from level2_to_cassandra_spark.queries.llm import gopher_stats

    clash = {k for k in keep
             if k.lower() in _VOTE_COLS
             or k.lower() in ("__vtoks", "__vg3")}
    if clash:
        raise ValueError(
            "quality_votes keep columns collide with computed vote "
            f"columns: {sorted(clash)} — rename them upstream"
        )
    # the chain consumes `text` internally; a caller asking for it
    # back (the streaming gate re-emitting original rows) gets it via
    # the tail select rather than a duplicate passthrough slot
    passthrough = tuple(c for c in keep if c.lower() != "text")
    tail = tuple(c for c in keep if c.lower() == "text")
    # ONE staged token array serves all three member transforms (r16):
    # gopher metrics, the classifier fold and the trigram build each
    # read __vtoks, so the corpus is tokenized once per row where the
    # inline form replayed split(text) 36× (q_quality_vote plan) and
    # per-member staging would still pay 3 splits.
    staged = docs.withColumn("__vtoks", text.tokens("text"))
    g = gopher_stats(
        staged, keep=("text", "__vtoks", *passthrough),
        toks_col="__vtoks",
    ).select("doc_id", "pass_gopher", "text", "__vtoks", *passthrough)
    lab = _calib_lab(
        g, keep=("doc_id", "pass_gopher", "text", "__vtoks",
                 *passthrough),
        toks_col="__vtoks",
    )
    lab = lab.withColumn(
        "__vg3", text.word_shingles_of(F.col("__vtoks"), 3)
    )
    rep = F.round(dup_ngram_ratio(F.col("__vg3")), 6)
    flags = lab.select(
        "doc_id",
        F.col("pass_gopher").cast("long").alias("pass_gopher"),
        F.when(F.col("score") >= 0, 1).otherwise(0)
        .cast("long").alias("pass_classifier"),
        F.when(rep <= _VOTE_REP_MAX, 1).otherwise(0)
        .cast("long").alias("pass_repetition"),
        "text",
        *passthrough,
    )
    votes = (
        F.col("pass_gopher") + F.col("pass_classifier")
        + F.col("pass_repetition")
    )
    return flags.select(
        "doc_id", "pass_gopher", "pass_classifier", "pass_repetition",
        votes.cast("long").alias("votes"),
        F.when(votes >= 2, 1).otherwise(0).cast("long").alias("admit"),
        *tail,
        *passthrough,
    )


#: the three gate-bit columns q_label_agreement compares pairwise —
#: ONE module-level tuple so the agg cells and the stack cannot drift
_AGREE_RATERS = ("pass_gopher", "pass_classifier", "pass_repetition")


@register(
    "q_label_agreement",
    # The contingency cells are exact integer conditional counts over
    # the SHARED vote relation (_vote_ctes — verbatim the
    # q_quality_vote oracle's chain), kappa's numerator/denominator
    # are pure integer algebra (N·agree − Σ marginal products over
    # N² − Σ marginal products), and the ONE final division of exact
    # integers is correctly rounded on both engines; all-in-one-cell
    # degenerate tables emit NULL via NULLIF, never a division error.
    oracle=f"""
    WITH {_vote_ctes()},
    cells AS (
        SELECT
          SUM(pass_gopher * pass_classifier) AS gc11,
          SUM(pass_gopher * (1 - pass_classifier)) AS gc10,
          SUM((1 - pass_gopher) * pass_classifier) AS gc01,
          SUM((1 - pass_gopher) * (1 - pass_classifier)) AS gc00,
          SUM(pass_gopher * pass_repetition) AS gr11,
          SUM(pass_gopher * (1 - pass_repetition)) AS gr10,
          SUM((1 - pass_gopher) * pass_repetition) AS gr01,
          SUM((1 - pass_gopher) * (1 - pass_repetition)) AS gr00,
          SUM(pass_classifier * pass_repetition) AS cr11,
          SUM(pass_classifier * (1 - pass_repetition)) AS cr10,
          SUM((1 - pass_classifier) * pass_repetition) AS cr01,
          SUM((1 - pass_classifier) * (1 - pass_repetition)) AS cr00
        FROM v),
    pairs AS (
        SELECT 'pass_gopher|pass_classifier' AS pair,
               gc11 AS n11, gc10 AS n10, gc01 AS n01, gc00 AS n00
        FROM cells
        UNION ALL
        SELECT 'pass_gopher|pass_repetition',
               gr11, gr10, gr01, gr00 FROM cells
        UNION ALL
        SELECT 'pass_classifier|pass_repetition',
               cr11, cr10, cr01, cr00 FROM cells),
    k AS (
        SELECT pair, n11, n10, n01, n00,
               n11 + n10 + n01 + n00 AS n,
               (n11 + n10) * (n11 + n01)
                   + (n01 + n00) * (n10 + n00) AS chance
        FROM pairs)
    SELECT pair,
           CAST(n11 AS BIGINT) AS n11, CAST(n10 AS BIGINT) AS n10,
           CAST(n01 AS BIGINT) AS n01, CAST(n00 AS BIGINT) AS n00,
           {round_signless_sql(
               "CAST(n * (n11 + n00) - chance AS DOUBLE)"
               " / CAST(NULLIF(n * n - chance, 0) AS DOUBLE)", 6)}
               AS kappa
    FROM k
    """,
)
def q_label_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTER-RATER AGREEMENT (Cohen's kappa) between the three quality
    gates — the labeling-quality audit a curation stack runs before
    trusting any ensemble or distillation step: raw percent-agreement
    between two raters is inflated by chance (two gates that both pass
    90 % of docs agree 82 % of the time by luck alone); kappa
    (Cohen 1960) = (p_o − p_e)/(1 − p_e) subtracts the
    marginal-product chance floor.  Near-zero kappa between two gates
    means they carry INDEPENDENT signal (the ensemble's value); high
    kappa means one is redundant; negative kappa flags systematic
    disagreement (one gate is inverted for some genre).  Emits the
    2×2 contingency cells + kappa for each of the three gate pairs.

    The gate bits are the SHARED quality_votes transform
    (gopher_stats + _calib_lab + dup_ngram_ratio — never
    reimplemented), so this audit measures exactly the gates
    q_quality_vote deploys; NULL-text docs vote (0,0) on every pair
    (both-reject agreement — the shared transform's contract).

    Cross-engine: cells are integer conditional counts in ONE
    aggregate; kappa = (N·agree − chance)/(N² − chance) is integer
    algebra with ONE final correctly-rounded division (the ECE/MRR
    integer-fold pattern); a degenerate all-one-cell table emits NULL
    via NULLIF.

    Scale shape: three map-side transforms fused into ONE pruned scan
    collapse to a SINGLE 12-cell row (map-side partial aggregation —
    bytes per task, no row-scale shuffle); the 3-pair stack explodes
    the one-row aggregate driver-side-free and costs nothing.  At
    100 TB this is a one-pass streaming-friendly statistic — the same
    cells could ride any of the admit gates' journals."""
    g, c, r = _AGREE_RATERS
    cells = quality_votes(
        spread_scan(load_table(spark, sf_dir, "documents"))
    ).agg(
        *[
            F.sum(
                (F.col(a) if va else 1 - F.col(a))
                * (F.col(b) if vb else 1 - F.col(b))
            ).alias(f"{tag}{va}{vb}")
            for tag, a, b in (("gc", g, c), ("gr", g, r), ("cr", c, r))
            for va, vb in ((1, 1), (1, 0), (0, 1), (0, 0))
        ]
    )
    stacked = cells.select(
        F.expr(
            "stack(3, "
            f"'{g}|{c}', gc11, gc10, gc01, gc00, "
            f"'{g}|{r}', gr11, gr10, gr01, gr00, "
            f"'{c}|{r}', cr11, cr10, cr01, cr00) "
            "AS (pair, n11, n10, n01, n00)"
        )
    )
    n = F.col("n11") + F.col("n10") + F.col("n01") + F.col("n00")
    chance = (F.col("n11") + F.col("n10")) * (
        F.col("n11") + F.col("n01")
    ) + (F.col("n01") + F.col("n00")) * (F.col("n10") + F.col("n00"))
    kappa = (n * (F.col("n11") + F.col("n00")) - chance).cast(
        "double"
    ) / F.nullif(n * n - chance, F.lit(0)).cast("double")
    return stacked.select(
        "pair",
        F.col("n11").cast("long").alias("n11"),
        F.col("n10").cast("long").alias("n10"),
        F.col("n01").cast("long").alias("n01"),
        F.col("n00").cast("long").alias("n00"),
        round_signless(kappa, 6).alias("kappa"),
    )


@register(
    "q_eval_auc",
    # AUC is defined ON the raw exact-rational score (the bin-cut
    # precedent: scores are bit-identical left-fold sums on both
    # engines, so grouping and ordering by them is engine-exact); the
    # grid numerator 2·pos·cumneg + pos·neg is pure integer algebra
    # and the ONE final division of exact integers is correctly
    # rounded; single-class languages emit NULL via NULLIF.
    oracle=f"""
    WITH {_calib_lab_ctes(keep=("lang",))},
    grid AS (
        SELECT lang, score,
               SUM(label) AS pos, COUNT(*) - SUM(label) AS neg
        FROM lab WHERE score IS NOT NULL
        GROUP BY lang, score),
    cum AS (
        SELECT lang, pos, neg,
               COALESCE(SUM(neg) OVER (
                   PARTITION BY lang ORDER BY score
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS cumneg
        FROM grid),
    agg AS (
        SELECT lang,
               SUM(pos) AS n_pos, SUM(neg) AS n_neg,
               SUM(2 * pos * cumneg + pos * neg) AS num2
        FROM cum GROUP BY lang)
    SELECT lang, CAST(n_pos AS BIGINT) AS n_pos,
           CAST(n_neg AS BIGINT) AS n_neg,
           {round_signless_sql(
               "CAST(num2 AS DOUBLE)"
               " / CAST(NULLIF(2 * n_pos * n_neg, 0) AS DOUBLE)", 6)}
               AS auc
    FROM agg
    """,
)
def q_eval_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC AUC of the classifier score per language — the
    threshold-free member that completes the classifier eval family
    (q_classifier_calibration measures probability honesty,
    q_classifier_threshold sweeps one operating point, AUC measures
    RANKING quality across all operating points: the probability a
    random positive outranks a random negative, Mann–Whitney U).
    Per-language slicing is the fairness audit — a 0.9 overall AUC
    hiding a 0.5 on one language means the gate is noise for that
    slice and its mixture share is curated blind.

    Ties are handled exactly (average-rank convention) WITHOUT any
    per-row global sort: the corpus collapses to its per-(lang,
    score) DISTINCT value grid first (the q_drift_ks scale class —
    value-cardinality-bounded), then AUC's numerator folds over the
    grid as Σ pos_v·(2·cumneg_<v + neg_v), kept in integer HALF-pair
    units so tied pairs contribute exactly 1/2 with no float
    arithmetic; AUC = num2 / (2·P·N) is ONE correctly-rounded
    division of exact integers (the ECE/MRR integer-fold pattern).
    Scoring and the deterministic label are the SHARED _calib_lab
    transform.  Unscoreable docs (NULL text → NULL score) are
    excluded on both engines; a single-class language emits NULL.

    Scale shape: map-side scoring fused into ONE pruned scan, one
    map-side-combined (lang, score) grid aggregate (grid-sized, not
    corpus-sized), one grid-sized cumulative window per lang, one
    #langs-row fold — no row-scale shuffle beyond the grid
    aggregate's, no global sort anywhere."""
    # The unscoreable-doc exclusion is expressed as text IS NOT NULL
    # (r16): score is NULL iff text is NULL (split of a non-null
    # string is a ≥1-element array, the weight fold over it is a
    # non-null double, so score = fold/size is non-null), and the
    # score-side formulation — once the scoring fold is STAGED in its
    # own Project (_calib_lab r16) — was alias-substituted below the
    # staging by predicate pushdown, re-evaluating the whole per-token
    # fold a second time per row.  The text-side predicate is the same
    # row set and reaches the parquet scan as a pushed filter.
    lab = _calib_lab(
        spread_scan(
            load_table(spark, sf_dir, "documents")
            .where(F.col("text").isNotNull())
        ),
        keep=("lang",),
    )
    grid = (
        lab.groupBy("lang", "score")
        .agg(
            F.sum("label").alias("pos"),
            (F.count(F.lit(1)) - F.sum("label")).alias("neg"),
        )
    )
    cumneg = F.coalesce(
        F.sum("neg").over(
            Window.partitionBy("lang")
            .orderBy("score")
            .rowsBetween(Window.unboundedPreceding, -1)
        ),
        F.lit(0),
    )
    cum = grid.select("lang", "pos", "neg", cumneg.alias("cumneg"))
    agg = cum.groupBy("lang").agg(
        F.sum("pos").alias("n_pos"),
        F.sum("neg").alias("n_neg"),
        F.sum(
            2 * F.col("pos") * F.col("cumneg")
            + F.col("pos") * F.col("neg")
        ).alias("num2"),
    )
    auc = F.col("num2").cast("double") / F.nullif(
        2 * F.col("n_pos") * F.col("n_neg"), F.lit(0)
    ).cast("double")
    return agg.select(
        "lang",
        F.col("n_pos").cast("long").alias("n_pos"),
        F.col("n_neg").cast("long").alias("n_neg"),
        round_signless(auc, 6).alias("auc"),
    )


#: q_select_budget's budget: the best-scored prefix holding at most
#: 1/_BUDGET_DENOM of the corpus' tokens (integer division — exact)
_BUDGET_DENOM = 4


@register(
    "q_select_budget",
    # Integer token counts end to end; the ordering key is the RAW
    # exact-rational classifier score (bit-identical doubles both
    # engines — same argument as the calibration family) with doc_id
    # tie-break, so the global order and the cumulative sums are
    # engine-identical; the budget is integer division of the exact
    # token total.
    oracle=f"""
    WITH {_calib_lab_ctes()},
    t AS (
        SELECT doc_id, len(string_split(text, ' ')) AS n
        FROM documents WHERE text IS NOT NULL),
    j AS (
        SELECT t.doc_id, t.n, s.score
        FROM t JOIN scored s USING (doc_id)),
    c AS (
        SELECT doc_id, n, score,
               SUM(n) OVER (ORDER BY score DESC, doc_id
                            ROWS UNBOUNDED PRECEDING) AS cum,
               CAST(SUM(n) OVER () // {_BUDGET_DENOM} AS BIGINT)
                   AS budget
        FROM j)
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_tokens,
           CAST(cum AS BIGINT) AS cum_tokens,
           ROUND(score, 6) AS score
    FROM c WHERE cum <= budget
    """,
)
def q_select_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKEN-BUDGET DATA SELECTION — the "best data under a compute
    budget" operation (phi-style quality-first curation): order the
    corpus by classifier score (best first, doc_id tie-break) and
    admit the prefix whose CUMULATIVE token count fits the budget
    (here ⌊total/4⌋ — scale-invariant, so the query expresses the
    same selection at every SF).  Emits the selected docs with their
    token count, running total, and (display-rounded) score.  Scoring
    is the SHARED _calib_lab transform — the ensemble/calibration
    family's exact-rational score, never reimplemented.

    Scale shape: scoring and token counting are map-side in the scan;
    the cumulative cut is ONE global-order running-sum window — the
    documented skewed-window caveat (the q_quality_ppl_bucket stance):
    exact total order is the right form for the oracle-checked eval,
    and the production swap at 100 TB is range-bucketing by score
    (histogram the scores, take whole buckets greedily, sort only the
    boundary bucket — turns the global sort into one tiny aggregate
    plus one bounded sort).  NULL-text docs carry no tokens and are
    excluded outright (both engines)."""
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    )
    lab = _calib_lab(spread_scan(docs), keep=("doc_id", "text"))
    j = lab.select(
        "doc_id",
        F.size(text.tokens("text")).cast("long").alias("n"),
        "score",
    )
    w_ord = (
        Window.orderBy(F.desc("score"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy()
    c = j.select(
        "doc_id",
        "n",
        "score",
        F.sum("n").over(w_ord).alias("cum"),
        F.sum("n").over(w_all).alias("__total"),
    ).withColumn(
        "budget", F.expr(f"__total div {_BUDGET_DENOM}").cast("long")
    )
    return c.where(F.col("cum") <= F.col("budget")).select(
        "doc_id",
        F.col("n").alias("n_tokens"),
        F.col("cum").cast("long").alias("cum_tokens"),
        F.round(F.col("score"), 6).alias("score"),
    )
