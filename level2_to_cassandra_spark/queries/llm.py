"""LLM training-data pipeline queries (SURVEY.md §2 B11): dedup
(exact / n-gram Jaccard / MinHash / SimHash / embedding-cosine),
similarity search, text analysis, fingerprinting.

Oracle notes: Jaccard / cosine thresholds are applied to ROUNDED
values on both engines so float last-ulp differences can't flip a
boundary pair; cosine oracles cast FLOAT[] → DOUBLE[] because DuckDB's
list_cosine_similarity computes in float32 otherwise.  SimHash and
sign-LSH use xxhash64 (no DuckDB equivalent) → rows-only checks plus
property tests in tests/test_llm_ops.py.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from level2_to_cassandra_spark.catalog import (
    load_table,
    read_dirs,
    read_parquet,
    spread_scan,
    staged,
)
from level2_to_cassandra_spark.functions import (
    round_half_up,
    round_half_up_sql,
    round_signless,
    round_signless_sql,
)
from level2_to_cassandra_spark.operators import minhash, similarity, text
from level2_to_cassandra_spark.registry import register


# ---------------------------------------------------------------- dedup

@register(
    "q_llm_dedup_exact",
    oracle="""
    SELECT doc_id, lang, source, n_copies
    FROM (
        SELECT doc_id, lang, source,
               ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn,
               COUNT(*)    OVER (PARTITION BY text) AS n_copies
        FROM documents)
    WHERE rn = 1
    """,
)
def q_llm_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-content dedup: canonical (lowest doc_id) row per distinct
    text + copy count.  The engine groups on a 256-bit content hash so
    the shuffle key is fixed-width even for megabyte documents — the
    raw text never becomes a shuffle key at scale."""
    docs = load_table(spark, sf_dir, "documents")
    # hash → fixed-size shuffle key; collision risk 2^-128 ≈ none
    w = Window.partitionBy(F.sha2(F.col("text"), 256))
    return (
        docs.withColumn("rn", F.row_number().over(w.orderBy("doc_id")))
        .withColumn("n_copies", F.count(F.lit(1)).over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", "lang", "source", "n_copies")
    )


#: The synthetic-URL construction + canonicalization CTEs shared
#: (byte-identically — the _PACK_CTES factoring precedent) by
#: q_dedup_url and the q_frontier_interleave crawl-ordering query.
_CANON_CTES = """synth AS (
      SELECT doc_id,
             (CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'http://' END
              || CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END
              || CASE WHEN doc_id % 5 = 0 THEN upper(source) ELSE source END
              || '.example.com/doc/' || (doc_id % 40)::VARCHAR
              || CASE WHEN doc_id % 4 = 0
                      THEN '?utm_source=feed&id=' || (doc_id % 7)::VARCHAR
                      WHEN doc_id % 4 = 1
                      THEN '?id=' || (doc_id % 7)::VARCHAR
                      ELSE '' END
              || CASE WHEN doc_id % 6 = 0 THEN '#sec' ELSE '' END) AS url
      FROM documents),
    parsed AS (
      SELECT doc_id, url,
             string_split(x, '/')[1] AS host,
             string_split(string_split(
                 substr(x, length(string_split(x, '/')[1]) + 1),
                 '#')[1], '?')[1] AS path,
             string_split(string_split(
                 substr(x, length(string_split(x, '/')[1]) + 1),
                 '#')[1], '?')[2] AS qs
      FROM (SELECT doc_id, url,
                   regexp_replace(url, '^https?://', '') AS x
            FROM synth)),
    canon AS (
      SELECT doc_id, url,
             lower(regexp_replace(host, '^www\\.', '')) || path ||
             CASE WHEN kept IS NOT NULL AND kept <> ''
                  THEN '?' || kept ELSE '' END AS canonical_url
      FROM (SELECT doc_id, url, host, path,
                   array_to_string(
                     list_filter(string_split(qs, '&'),
                                 p -> NOT regexp_matches(p, '^utm_')),
                     '&') AS kept
            FROM parsed))"""


@register(
    "q_dedup_url",
    # The synthetic URL construction (fixture docs carry no URLs, so
    # the check would otherwise never exercise the normalizer — the
    # q_text_redact stance) and every canonicalization step are pure
    # string/array built-ins with identical semantics on both engines;
    # regexes use only anchors + character literals (no lookaround) so
    # Java regex and RE2 agree; out-of-range part extraction is
    # NULL-safe on both sides (Spark F.get, DuckDB list indexing).
    oracle=f"""
    WITH {_CANON_CTES}
    SELECT doc_id, url, canonical_url,
           CAST(doc_id = MIN(doc_id) OVER (PARTITION BY canonical_url)
                AS BIGINT) AS is_canonical,
           CAST(COUNT(*) OVER (PARTITION BY canonical_url) AS BIGINT)
               AS n_variants
    FROM canon
    """,
)
def q_dedup_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-canonicalization dedup — the FIRST dedup any crawl pipeline
    runs, before a byte of content is even fetched or hashed: collapse
    scheme (http/https), a leading ``www.``, host case, tracking query
    parameters (``utm_*`` dropped, payload params kept) and fragments
    into one canonical URL, then keep the first (minimum doc_id)
    occurrence per canonical.  The fixture carries no URL column, so a
    deterministic synthetic URL is constructed per doc from
    (doc_id, source) with all five variance modes live — the
    q_text_redact construction stance: the surface under test is the
    NORMALIZER, and both engines build identical inputs.

    Emits every doc with its raw URL, canonical form, the canonical
    bit, and the canonical-group size, so the reject set and the
    merge factor are auditable (the q_curate_corpus stance).

    Scale shape: canonicalization is pure map-side string/array work
    fused into the scan; the only exchange is ONE hash window on the
    canonical key (at crawl scale the key would be hashed to fixed
    width first — the q_llm_dedup_exact discipline; kept literal here
    so the output is human-auditable).  No joins, no explode."""
    canon = canonical_urls(load_table(spark, sf_dir, "documents"))
    w = Window.partitionBy("canonical_url")
    return canon.select(
        "doc_id", "url", "canonical_url",
        (F.col("doc_id") == F.min("doc_id").over(w))
        .cast("long").alias("is_canonical"),
        F.count(F.lit(1)).over(w).cast("long").alias("n_variants"),
    )


def canonical_urls(docs: DataFrame) -> DataFrame:
    """The synthetic-URL construction + canonicalization behind
    q_dedup_url, as a pure (doc_id, url, canonical_url) transform —
    shared VERBATIM by the batch query and the streaming URL-frontier
    admit step (streaming/monitor.py::url_dedup_step)
    so the two can never drift.  Map-side only: no window, no join."""
    d = F.col("doc_id")
    url = F.concat(
        F.when(d % 2 == 0, F.lit("https://")).otherwise(F.lit("http://")),
        F.when(d % 3 == 0, F.lit("www.")).otherwise(F.lit("")),
        F.when(d % 5 == 0, F.upper("source")).otherwise(F.col("source")),
        F.lit(".example.com/doc/"),
        (d % 40).cast("string"),
        F.when(d % 4 == 0,
               F.concat(F.lit("?utm_source=feed&id="),
                        (d % 7).cast("string")))
        .when(d % 4 == 1,
              F.concat(F.lit("?id="), (d % 7).cast("string")))
        .otherwise(F.lit("")),
        F.when(d % 6 == 0, F.lit("#sec")).otherwise(F.lit("")),
    )
    synth = docs.select("doc_id", url.alias("url"))
    stripped = synth.select(
        "doc_id", "url",
        F.regexp_replace("url", r"^https?://", "").alias("__x"),
    )
    hosted = stripped.select(
        "doc_id", "url", "__x",
        F.get(F.split("__x", "/"), 0).alias("host"),
    )
    parsed = hosted.select(
        "doc_id", "url", "host",
        F.col("__x").substr(
            F.length("host") + F.lit(1), F.length("__x")
        ).alias("tail"),
    ).select(
        "doc_id", "url", "host",
        F.get(F.split(F.get(F.split("tail", "#"), 0), r"\?"), 0)
        .alias("path"),
        F.get(F.split(F.get(F.split("tail", "#"), 0), r"\?"), 1)
        .alias("qs"),
    )
    kept = F.array_join(
        F.filter(F.split("qs", "&"), lambda p: ~p.rlike("^utm_")), "&"
    )
    return parsed.select(
        "doc_id", "url",
        F.concat(
            F.lower(F.regexp_replace("host", r"^www\.", "")),
            F.col("path"),
            F.when(
                kept.isNotNull() & (kept != ""), F.concat(F.lit("?"), kept)
            ).otherwise(F.lit("")),
        ).alias("canonical_url"),
    )


@register(
    "q_frontier_interleave",
    # Pure integer/string algebra: leaders are exact MIN-groups, ranks
    # are ROW_NUMBERs over total orders (host unique within a rank,
    # doc_id unique within a host), and the interleave position is a
    # sum of exact counts — nothing floats anywhere.
    oracle=f"""
    WITH {_CANON_CTES},
    leaders AS (
        SELECT canonical_url, MIN(doc_id) AS doc_id
        FROM canon WHERE canonical_url IS NOT NULL
        GROUP BY canonical_url),
    hosted AS (
        SELECT doc_id, canonical_url,
               string_split(canonical_url, '/')[1] AS host
        FROM leaders),
    ranked AS (
        SELECT *, CAST(ROW_NUMBER() OVER (
                      PARTITION BY host ORDER BY doc_id) AS BIGINT)
                      AS host_rank
        FROM hosted)
    SELECT doc_id, canonical_url, host, host_rank,
           CAST(ROW_NUMBER() OVER (ORDER BY host_rank, host, doc_id)
                AS BIGINT) AS crawl_pos
    FROM ranked
    """,
)
def q_frontier_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CRAWL-FRONTIER POLITENESS ORDERING — the scheduling step after
    q_dedup_url's frontier dedup: emit the deduped canonical URLs in
    an order that round-robins across HOSTS (every host's first URL
    before any host's second), so a crawler consuming the frontier
    in ``crawl_pos`` order never hammers one host while others idle —
    the standard politeness interleave.  Per URL: its host, its rank
    within the host (by doc_id — FIFO per host), and the global
    interleaved crawl position.  Canonicalization and first-per-
    canonical leader selection are SHARED with q_dedup_url
    (canonical_urls + the min-doc_id rule), so the frontier this
    orders is exactly the set that query admits; NULL canonicals
    (unparseable URLs) are not crawlable and are excluded.

    Scale shape: NO global sort of the frontier — the naive form
    (ROW_NUMBER over (host_rank, host), which the oracle uses) is the
    classic total-order trap, so the engine computes the interleave
    ARITHMETICALLY: per-host ranking partitions naturally by host
    (bounded groups), the per-rank group sizes collapse to a
    #ranks-row relation whose running offsets broadcast back, and the
    position within a rank is a window over groups bounded by #hosts.
    crawl_pos = offset(rank) + position-in-rank ≡ the oracle's global
    ROW_NUMBER, exactly."""
    docs = load_table(spark, sf_dir, "documents")
    leaders = (
        canonical_urls(docs)
        .where(F.col("canonical_url").isNotNull())
        .groupBy("canonical_url")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    hosted = leaders.select(
        "doc_id",
        "canonical_url",
        F.get(F.split("canonical_url", "/"), 0).alias("host"),
    )
    # persisted: feeds the offsets aggregate AND the final join side
    # (the q_join_interval dual-consumer staging precedent) — without
    # it the canonicalize→dedup→rank chain runs once per branch
    ranked = hosted.withColumn(
        "host_rank",
        F.row_number()
        .over(Window.partitionBy("host").orderBy("doc_id"))
        .cast("long"),
    ).persist()
    # interleave offsets: Σ sizes of ranks < r, over the tiny
    # (#distinct ranks)-row aggregate — broadcast back, no global sort
    sizes = ranked.groupBy("host_rank").agg(
        F.count(F.lit(1)).alias("__cnt")
    )
    w_off = Window.orderBy("host_rank").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = sizes.select(
        "host_rank",
        F.coalesce(F.sum("__cnt").over(w_off), F.lit(0)).alias("__off"),
    )
    pos_in_rank = F.row_number().over(
        Window.partitionBy("host_rank").orderBy("host", "doc_id")
    )
    return (
        ranked.join(F.broadcast(offsets), "host_rank")
        .select(
            "doc_id",
            "canonical_url",
            "host",
            "host_rank",
            (F.col("__off") + pos_in_rank).cast("long").alias("crawl_pos"),
        )
    )


_FUZZY_ORACLE = """
    WITH postings AS (
        SELECT DISTINCT doc_id, concat_ws(' ', w[i], w[i+1], w[i+2]) AS shingle
        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             LATERAL (SELECT unnest(range(1, len(w) - 1)) AS i)
        WHERE len(w) >= 3),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM postings GROUP BY doc_id),
    co AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
        FROM postings a JOIN postings b ON a.shingle = b.shingle
        WHERE a.doc_id < b.doc_id
        GROUP BY 1, 2)
    SELECT id_a, id_b,
           ROUND(inter::DOUBLE / (sa.n + sb.n - inter), 6) AS jaccard
    FROM co
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE ROUND(inter::DOUBLE / (sa.n + sb.n - inter), 6) >= 0.8
"""


@register(
    "q_llm_dedup_fuzzy", oracle=_FUZZY_ORACLE,
    staging=("shingle_postings", "shingle_index",
             "shingle_sets", "doc_count"),
)
def q_llm_dedup_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs at 3-word-shingle Jaccard ≥ 0.8, EXACT via the
    prefix-filtered inverted shingle index (operators/minhash.py).
    Operator threshold 0.79 < the query's rounded 0.8 cut keeps the
    prefix filter lossless for every pair the oracle can emit.

    The stop-shingle cap is corpus-relative: a shingle in > max(50,
    1 % of docs) documents is excluded from candidate generation (it
    would contribute a join bucket quadratic in its prefix-df), with
    prefix positions on the full order and verification on the full
    shingle sets — precision stays exact.  The cap is computed from
    the staged doc count (_shingle_cap) and enters the plan as a
    literal; verification intersects the staged per-doc shingle sets
    (_shingle_set_relation).  Recall under a LIVE cap is the documented
    boilerplate trade of exact_jaccard_pairs (a pair whose prefix
    overlap is entirely boilerplate shingles is skipped; all-hot-prefix
    docs fall back to their full prefix).  On the fixture corpora the
    50-df floor exceeds the hottest shingle (max df 25 at sf0.1) so
    the cap is INERT and the plan is bit-identical to the uncapped
    oracle — asserted by tests/test_llm_ops.py's floor-inertness test;
    at web scale the cap bounds every candidate bucket at
    (1 % of corpus)²."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash.exact_jaccard_pairs(
        docs, threshold=0.79, k=3,
        max_shingle_df=_shingle_cap(spark, sf_dir),
        postings=_shingle_relation(spark, sf_dir),
        ranked=_shingle_index_relation(spark, sf_dir),
        sets=_shingle_set_relation(spark, sf_dir),
    )
    j = F.round(F.col("jaccard"), 6)
    return pairs.select(
        "id_a", "id_b", j.alias("jaccard")
    ).where(j >= 0.8)


@register(
    "q_llm_dedup_minhash", oracle=_FUZZY_ORACLE,
    staging=("shingle_postings", "shingle_sets",
             "minhash_signatures"),
)
def q_llm_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH (16 perms, 8 bands × 2) with exact verification —
    must find exactly the q_llm_dedup_fuzzy pairs (at j≥0.8 the LSH
    miss probability is ≈(1−j²)⁸ < 10⁻¹⁰ per pair), so it shares the
    exact oracle: the correctness check covers LSH recall itself.

    Serves from TWO staging tables (r16): the shared shingle postings
    (verification sides) and the portable-md5 signature relation
    (_sig_relation — banding reads it on both join sides), so the
    serve plan computes no shingling and no signature aggregate at
    all; the recall math is hash-agnostic, so sharing q_sketch_error's
    portable signatures changes nothing semantically."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash.minhash_pairs(
        docs, threshold=0.0, k=3, n_hashes=16, bands=8,
        postings=_shingle_relation(spark, sf_dir),
        signatures=_sig_relation(spark, sf_dir),
        sets=_shingle_set_relation(spark, sf_dir),
    )
    j = F.round(F.col("jaccard"), 6)
    return pairs.select(
        "id_a", "id_b", j.alias("jaccard")
    ).where(j >= 0.8)


#: SimHash banding: 8 bands × 8 bits.  Pigeonhole guarantee: any pair
#: with hamming ≤ 7 has at least one identical band, so recall is 1.0
#: for the ≤7 threshold; the pair join is bucketed (band, value), never
#: N².  For looser thresholds use more/narrower bands or multi-probe.
@register(
    "q_dedup_incremental",
    oracle="""
    SELECT d.doc_id, d.lang, d.source
    FROM documents d
    WHERE d.doc_id % 10 = 0
      AND NOT EXISTS (SELECT 1 FROM documents s
                      WHERE s.doc_id % 10 != 0 AND s.text = d.text)
      AND d.doc_id = (SELECT MIN(d2.doc_id) FROM documents d2
                      WHERE d2.doc_id % 10 = 0 AND d2.text = d.text)
    """,
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL exact dedup: admit a new batch against an already-
    ingested corpus — the production shape of training-data ingest,
    where the seen corpus is never re-deduplicated (at 100 TB you
    cannot re-scan history per batch; you anti-join the batch against
    a staging table of content hashes).  Here 'new' = doc_id % 10 = 0,
    'seen' = the rest.  A new doc is admitted iff (a) it is the first
    of its content within the batch (lowest doc_id) and (b) its
    content never appeared in the seen corpus.

    Scale shape: both sides shuffle on a 256-bit content hash (fixed-
    width key — megabyte documents never become shuffle keys), the
    seen side reduced to DISTINCT hashes before the LEFT ANTI hash
    join; in production that distinct-hash relation IS the incremental
    staging table, bucketed by hash so each batch's anti join is
    shuffle-free on the corpus side."""
    # NULL-text docs are excluded outright: sha2(NULL) is NULL, which a
    # LEFT ANTI join can never match (so a null-text doc would sail
    # through), while the oracle's `text = d.text` predicate is NULL
    # for them (so IT admits none) — dropping them makes both engines
    # agree and matches ingest reality (no content, nothing to admit).
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    )
    h = F.sha2(F.col("text"), 256)
    new = docs.where(F.col("doc_id") % 10 == 0).withColumn("__h", h)
    seen_h = (
        docs.where(F.col("doc_id") % 10 != 0)
        .select(h.alias("__h"))
        .distinct()
    )
    w = Window.partitionBy("__h").orderBy("doc_id")
    first_in_batch = (
        new.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    )
    return (
        first_in_batch.join(seen_h, "__h", "left_anti")
        .select("doc_id", "lang", "source")
    )


_INCR_FUZZY_ORACLE = """
    WITH postings AS (
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
    dup_pairs AS (
        SELECT id_a, id_b
        FROM co
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE ROUND(inter::DOUBLE / (sa.n + sb.n - inter), 6) >= 0.8),
    flagged AS (
        SELECT CASE WHEN id_a % 10 = 0 THEN id_a ELSE id_b END AS doc_id
        FROM dup_pairs
        WHERE (id_a % 10 = 0) != (id_b % 10 = 0))
    SELECT d.doc_id, d.lang, d.source
    FROM documents d
    WHERE d.doc_id % 10 = 0
      AND d.doc_id NOT IN (SELECT doc_id FROM flagged)
"""


@register(
    "q_dedup_incremental_fuzzy", oracle=_INCR_FUZZY_ORACLE,
    staging=("shingle_postings", "shingle_index",
             "shingle_sets", "doc_count"),
)
def q_dedup_incremental_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL near-dup dedup: admit new-batch docs (doc_id % 10
    = 0) that are not 3-shingle Jaccard ≥ 0.8 near-dups of any SEEN
    doc — the fuzzy layer an ingest pipeline runs after the exact-hash
    layer (q_dedup_incremental).  Candidates come from the same
    prefix-filtered inverted shingle index as q_llm_dedup_fuzzy; only
    CROSS-side pairs flag a new doc (new-vs-new dups are the batch
    dedup's job, seen-vs-seen are history).  At production scale the
    seen side's shingle postings are the incremental staging table and
    the index join is bucketed by shingle, so each batch probes rather
    than rebuilds the corpus index."""
    docs = load_table(spark, sf_dir, "documents")
    # Only CROSS-side pairs are consumed, and the side of a doc is a
    # pure function of its id — so the predicate is pushed into
    # candidate generation (candidate_where, r16): same-side pairs
    # (~82 % of candidates at the 10 % batch fraction) never reach the
    # distinct or the verification joins.  Result-identical:
    # verification is exact per pair, so restricting the domain
    # commutes with it (the operator docstring's argument).
    pairs = minhash.exact_jaccard_pairs(
        docs, threshold=0.79, k=3,
        max_shingle_df=_shingle_cap(spark, sf_dir),
        postings=_shingle_relation(spark, sf_dir),
        ranked=_shingle_index_relation(spark, sf_dir),
        sets=_shingle_set_relation(spark, sf_dir),
        candidate_where=(
            (F.col("id_a") % 10 == 0) != (F.col("id_b") % 10 == 0)
        ),
    )
    j = F.round(F.col("jaccard"), 6)
    cross = pairs.where(j >= 0.8)
    flagged = cross.select(
        F.when(F.col("id_a") % 10 == 0, F.col("id_a"))
        .otherwise(F.col("id_b"))
        .alias("doc_id")
    ).distinct()
    new = docs.where(F.col("doc_id") % 10 == 0)
    return new.join(flagged, "doc_id", "left_anti").select(
        "doc_id", "lang", "source"
    )


_SIMHASH_BANDS = 8
_SIMHASH_MAX_HAMMING = _SIMHASH_BANDS - 1


@register(
    "q_llm_dedup_simhash",
    # The oracle recomputes fingerprints FROM RAW TEXT on the portable
    # md5 token hash (operators/text.py::portable_hash64 — identical
    # 64 bits via ('0x' || substr(md5(tok),1,16))::UBIGINT), then does
    # the brute-force O(N²) hamming scan.  Banded join ≡ brute force
    # at hamming ≤ 7 by pigeonhole (8 bands × 8 bits: ≤7 differing
    # bits cannot touch all 8 bands), so the oracle checks BOTH the
    # fingerprint math and the banding's zero-loss guarantee.
    oracle="""
    WITH bits AS (SELECT UNNEST(range(0, 64)) AS bit),
    th AS (
      SELECT doc_id, ('0x' || substr(md5(tok), 1, 16))::UBIGINT AS h
      FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok
            FROM documents)
    ),
    votes AS (
      SELECT doc_id, bit,
             CASE WHEN 2 * SUM(((h >> bit) & 1)::INT) > COUNT(*)
                  THEN 1 ELSE 0 END AS s
      FROM th CROSS JOIN bits GROUP BY doc_id, bit
    ),
    fpu AS (SELECT doc_id, SUM((s::UBIGINT << bit)::HUGEINT) AS f
            FROM votes GROUP BY doc_id),
    fps AS (SELECT d.doc_id, COALESCE(f.f::UBIGINT, 0::UBIGINT) AS fp
            FROM documents d LEFT JOIN fpu f USING (doc_id))
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           bit_count(xor(a.fp, b.fp))::INT AS hamming
    FROM fps a JOIN fps b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.fp, b.fp)) <= 7
    """,
    staging=("simhash_fp",),
)
def q_llm_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 64-bit fingerprints, banded candidate
    join, pairs within hamming ≤ 7 (guaranteed-recall threshold for
    8×8-bit banding).  Fingerprints use the engine-portable md5 token
    hash (text.py::portable_hash64) so the DuckDB oracle recomputes
    them from raw text bit-for-bit; the xxhash64 mode remains for
    non-oracle use and the banded-vs-brute-force exactness test in
    tests/test_llm_ops.py.

    Serves from the session-staged fingerprint table
    (_simhash_relation, r16 — the _sig_relation discipline): the
    explode + Arrow vote pass runs once per session in the staging
    builder, and the banded self-join reads the 16-byte/doc parquet
    relation on both sides — a staging scan replays per branch, so the
    old per-call ``.persist()`` is gone and the serve plan carries no
    Python node."""
    docs = _simhash_relation(spark, sf_dir)
    width = 64 // _SIMHASH_BANDS
    mask = (1 << width) - 1
    bands = docs.select(
        "doc_id",
        "fp",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned(F.col("fp"), b * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("bv"),
                    )
                    for b in range(_SIMHASH_BANDS)
                ]
            )
        ).alias("e"),
    ).select("doc_id", "fp", "e.band", "e.bv")
    pairs = (
        bands.alias("a")
        .join(bands.alias("b"), ["band", "bv"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            text.hamming64(F.col("a.fp"), F.col("b.fp")).alias("hamming"),
        )
        .distinct()
    )
    return pairs.where(F.col("hamming") <= _SIMHASH_MAX_HAMMING)


def _rademacher_weight_sql(tbl: str = "tbl", p: str = "p",
                           d: str = "d") -> str:
    """DuckDB expression for operators/similarity.py::
    _rademacher_component — the SAME LCG→xorshift→LCG→xorshift chain,
    generated rather than hand-copied so the two can't drift.  The
    xorshift steps are what keep planes decorrelated (an affine-only
    chain collapses plane pairs into copies/complements — see the
    component's docstring)."""
    s = f"({tbl}*1000003 + {p}*7919 + {d})"
    x1 = f"((1103515245*{s} + 12345) % 2147483648)"
    x1m = f"xor({x1}, {x1} >> 13)"
    x2 = f"((1103515245*{x1m} + 12345) % 2147483648)"
    x2m = f"xor({x2}, {x2} >> 7)"
    return f"(CASE WHEN (({x2m} >> 16) % 2) = 0 THEN 1.0 ELSE -1.0 END)"


@register(
    "q_llm_dedup_embed",
    # The oracle replicates the FULL LSH candidate generation: the
    # Rademacher (±1) hyperplanes come from a portable integer
    # generator (operators/similarity.py::_rademacher_component; its
    # SQL twin is GENERATED by _rademacher_weight_sql above), so DuckDB
    # derives bit-identical buckets, the same candidate pairs, and the
    # same rounded cosines.  That upgrades embedding near-dup from
    # "rows-only demo" to a hash-verified end-to-end pipeline.
    oracle=f"""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
      FROM embeddings
    ),
    sig AS (
      SELECT vec_id, tbl,
             list_reduce(
               list_transform(range(0, 6), p ->
                 CASE WHEN list_reduce(
                        list_transform(range(0, 64), d -> ve[d+1] *
                          {_rademacher_weight_sql()}),
                        (a, x) -> a + x) >= 0
                      THEN (1::BIGINT << p) ELSE 0::BIGINT END),
               (a, x) -> a + x) AS bucket
      FROM v, (SELECT UNNEST(range(0, 8)) AS tbl)
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM sig a JOIN sig b ON a.tbl = b.tbl AND a.bucket = b.bucket
      WHERE a.vec_id < b.vec_id
    )
    SELECT c.id_a, c.id_b,
           ROUND(list_cosine_similarity(va.ve, vb.ve), 4) AS cos
    FROM cand c
    JOIN v va ON va.vec_id = c.id_a
    JOIN v vb ON vb.vec_id = c.id_b
    WHERE ROUND(list_cosine_similarity(va.ve, vb.ve), 4) >= 0.35
    """,
    staging=("lsh_buckets_6x8",),
)
def q_llm_dedup_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs fed by sign-LSH buckets
    (6 portable ±1 planes × 8 tables) — candidates form only inside a
    (table, bucket) equi-join, so the pair join is bucket-bounded
    (∝ Σ bucket², never N²) and survives a 100 TB corpus; the earlier
    label-blocked form was per-block quadratic.  Exact cosine re-ranks
    the candidates and a 0.35 threshold cuts.  Capture probability at
    the threshold is 1−(1−(1−θ/π)⁶)⁸ ≈ 0.36 on this near-random
    fixture (≈ 0.99 at a real corpus's cos 0.9 near-dups); the DuckDB
    oracle replicates the planes exactly, so recall is part of WHAT IS
    CHECKED, not a source of mismatch."""
    em = load_table(spark, sf_dir, "embeddings")
    # dim=64 EXPLICIT, matching the oracle's range(0, 64): the SQL twin
    # cannot infer dim from data, so pinning it here means a fixture
    # regenerated at another width fails loudly in tests
    # (tests/test_catalog.py pins the fixture dim) instead of silently
    # bucketing with a different plane count than the oracle.
    pairs = similarity.lsh_candidate_pairs(
        em, n_planes=6, n_tables=8, scheme="rademacher", dim=64,
        buckets=_lsh_embed_buckets(spark, sf_dir),
    )
    return pairs.select(
        "id_a", "id_b", F.round(F.col("cos"), 4).alias("cos")
    ).where(F.col("cos") >= 0.35)


# ------------------------------------------------------- similarity search

@register(
    "q_sim_topk",
    oracle="""
    WITH q AS (SELECT vec_id AS query_id,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
               FROM embeddings WHERE vec_id < 5),
    scored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               ROUND(list_cosine_similarity(
                   list_transform(e.embedding, x -> CAST(x AS DOUBLE)), qv), 4)
                   AS cos
        FROM embeddings e CROSS JOIN q
        WHERE e.vec_id <> q.query_id)
    SELECT query_id, neighbor_id, cos, rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cos DESC, neighbor_id) AS rank
          FROM scored)
    WHERE rank <= 10
    """,
)
def q_sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact cosine top-10 for 5 query vectors: corpus
    stays partitioned, queries broadcast (operators/similarity.py).
    The operator ranks on the ROUNDED cosine (tiebreak neighbor_id), so
    k=10 is the final cut — no over-fetch + re-rank pass."""
    em = load_table(spark, sf_dir, "embeddings")
    queries = em.where(F.col("vec_id") < 5)
    return similarity.brute_topk(em, queries, k=10, round_cos=4).select(
        "query_id", "neighbor_id", "cos",
        F.col("rank").cast("long").alias("rank"),
    )


@register(
    "q_sim_ann_lsh",
    # Same full-pipeline oracle technique as q_llm_dedup_embed: the
    # Rademacher planes come from the engine-portable integer chain
    # (similarity.py::_rademacher_component; SQL twin GENERATED by
    # _rademacher_weight_sql), so DuckDB rebuilds the identical
    # 8-plane × 16-table buckets, the same candidate pairs, and the
    # same rounded cosines — the flagship ANN path is hash-verified
    # end-to-end, not rows-only.
    oracle=f"""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
      FROM embeddings
    ),
    sig AS (
      SELECT vec_id, tbl,
             list_reduce(
               list_transform(range(0, 8), p ->
                 CASE WHEN list_reduce(
                        list_transform(range(0, 64), d -> ve[d+1] *
                          {_rademacher_weight_sql()}),
                        (a, x) -> a + x) >= 0
                      THEN (1::BIGINT << p) ELSE 0::BIGINT END),
               (a, x) -> a + x) AS bucket
      FROM v, (SELECT UNNEST(range(0, 16)) AS tbl)
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM sig a JOIN sig b ON a.tbl = b.tbl AND a.bucket = b.bucket
      WHERE a.vec_id < b.vec_id
    )
    SELECT c.id_a, c.id_b,
           ROUND(list_cosine_similarity(va.ve, vb.ve), 4) AS cos
    FROM cand c
    JOIN v va ON va.vec_id = c.id_a
    JOIN v vb ON vb.vec_id = c.id_b
    WHERE ROUND(list_cosine_similarity(va.ve, vb.ve), 4) >= 0.4
    """,
    staging=("lsh_buckets_8x16",),
)
def q_sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table sign-LSH near-neighbor pairs (8 portable ±1
    hyperplanes × 16 tables; capture p = 1−(1−(1−θ/π)⁸)¹⁶) with exact
    cosine re-rank — the ANN scale path (candidates ∝ Σ bucket² per
    table, never N²).  8 planes → 256 buckets/table is what bounds the
    candidate join: a 4-plane (16-bucket) config turns ~40 % of ALL
    pairs into candidates — a near-cartesian at 100 TB (that loose
    form survives only as a recall test in tests/test_llm_ops.py).
    The 0.4 output threshold is fixture-calibrated (the synthetic
    embeddings are near-random; max pairwise cos ≈ 0.51, so a real-
    corpus 0.8+ near-dup cut would return nothing to check) — capture
    p rises steeply with similarity: ≈ 0.33 at cos 0.4, ≈ 0.63 at 0.6,
    ≈ 0.99 at 0.9, so at production thresholds the same plan has
    near-total recall.  The xxhash64-plane variant (scheme="hash")
    remains an operator mode, recall-tested in tests/test_llm_ops.py;
    the registered query pins scheme="rademacher" so the DuckDB twin
    replicates candidate generation bit-for-bit (recall is part of
    WHAT IS CHECKED, not a source of mismatch)."""
    em = load_table(spark, sf_dir, "embeddings")
    pairs = similarity.lsh_candidate_pairs(
        em, n_planes=8, n_tables=16, scheme="rademacher", dim=64,
        buckets=_lsh_ann_buckets(spark, sf_dir),
    )
    return pairs.select(
        "id_a", "id_b", F.round(F.col("cos"), 4).alias("cos")
    ).where(F.col("cos") >= 0.4)


#: Portable IVF quantizer as DuckDB CTEs — the SQL twin of
#: similarity.ivf_index(scheme="portable", round_assign=6, n_cells=16):
#: seeds = 16 vectors with the lexicographically-smallest
#: md5(CAST(vec_id AS VARCHAR)) hex (fixed-width lowercase hex orders
#: the same as the unsigned integer it encodes, and both engines md5
#: the same decimal digits); one Lloyd step whose argmax rounds the
#: cosine to 6 decimals with a largest-cell tie-break (near-ties
#: collapse to equal keys on both engines).  Shared by the IVF ANN and
#: SemDeDup oracles — both consume the cell assignment ``a0``.
_IVF_PORTABLE_CTES = """
    v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
      FROM embeddings
    ),
    seeds AS (
      SELECT ve AS cv,
             ROW_NUMBER() OVER (
               ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS cell
      FROM v
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
      LIMIT 16
    ),
    a0 AS (
      SELECT vec_id, ve, cell FROM (
        SELECT v.vec_id, v.ve, s.cell,
               ROW_NUMBER() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY ROUND(list_cosine_similarity(v.ve, s.cv), 6) DESC,
                          s.cell DESC) AS rn
        FROM v CROSS JOIN seeds s)
      WHERE rn = 1
    )
"""


@register(
    "q_sim_ann_ivf",
    # Full-pipeline oracle, same philosophy as q_llm_dedup_embed /
    # q_sim_ann_lsh: every lossy step of the index is made
    # engine-portable, so DuckDB rebuilds the IDENTICAL quantizer
    # (see _IVF_PORTABLE_CTES); centroids = per-component means
    # rounded to 6; probe-cell ranking rounds to 6 with a
    # smallest-cell tie-break; final re-rank rounds to 4 (the
    # q_sim_topk-proven cut).  Recall vs brute force stays asserted
    # in tests/test_llm_ops.py — the oracle checks that the
    # APPROXIMATE answer is bit-reproducible, the recall test that it
    # is a good approximation.
    oracle=f"""
    WITH {_IVF_PORTABLE_CTES},
    comp AS (
      SELECT cell, pos, ROUND(AVG(ve[pos + 1]), 6) AS x
      FROM a0 CROSS JOIN (SELECT UNNEST(range(0, 64)) AS pos)
      GROUP BY cell, pos
    ),
    cent AS (SELECT cell, list(x ORDER BY pos) AS cv FROM comp GROUP BY cell),
    q AS (SELECT vec_id AS query_id, ve AS qv FROM v WHERE vec_id < 5),
    probes AS (
      SELECT query_id, qv, cell FROM (
        SELECT q.query_id, q.qv, c.cell,
               ROW_NUMBER() OVER (
                 PARTITION BY q.query_id
                 ORDER BY ROUND(list_cosine_similarity(q.qv, c.cv), 6) DESC,
                          c.cell ASC) AS rn
        FROM q CROSS JOIN cent c)
      WHERE rn <= 6
    ),
    scored AS (
      SELECT p.query_id, a.vec_id AS neighbor_id,
             ROUND(list_cosine_similarity(p.qv, a.ve), 4) AS cos
      FROM probes p JOIN a0 a USING (cell)
      WHERE a.vec_id <> p.query_id
    )
    SELECT query_id, neighbor_id, cos, rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cos DESC, neighbor_id) AS rank
          FROM scored)
    WHERE rank <= 10
    """,
    staging=("ivf_index",),
)
def q_sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-10 for 5 query vectors: md5-seeded spherical
    k-means coarse quantizer (16 cells, 1 Lloyd step), each query
    probes its 6 nearest cells, exact cosine re-ranks — the query-side
    ANN scale path (per query ~nprobe/n_cells of the corpus is
    scanned; at cluster scale the cell-assigned corpus is a
    bucketed-by-cell staging table and probes are broadcast joins).
    The registered query pins scheme="portable" + rounded argmax so
    the DuckDB twin replicates the ENTIRE index construction
    bit-for-bit (see the oracle comment); the xxhash64-seeded mode
    remains the cheaper operator default, recall-tested in
    tests/test_llm_ops.py.  Oracle pins dim=64 (range(0,64) /
    64-component means) — tests/test_catalog.py pins the fixture
    width, so a regenerated fixture fails loudly, not silently."""
    em = load_table(spark, sf_dir, "embeddings")
    queries = em.where(F.col("vec_id") < 5)
    # serves from the session-staged inverted file (_ivf_relation,
    # r16) — the seed/assign/means build ran once per session, every
    # call here is probe + re-rank only (the production steady state)
    return similarity.ivf_topk(
        em, queries, k=10, n_cells=16, nprobe=6, round_cos=4,
        scheme="portable", round_assign=6, round_probe=6,
        index=_ivf_relation(spark, sf_dir),
    ).select(
        "query_id", "neighbor_id", "cos",
        F.col("rank").cast("long").alias("rank"),
    )


#: q_cluster_kmeans knobs: k clusters, fixed Lloyd iterations (fixed,
#: not convergence-tested, so the oracle can unroll them — the
#: q_pagerank pattern), fixture embedding width.
_KMEANS_K = 8
_KMEANS_ITERS = 2
_KMEANS_DIM = 64

#: One Lloyd ASSIGNMENT step as a CTE: every vector to its max-cosine
#: centroid, cosine rounded to 6 before the argmax with the
#: largest-cell tie-break — character-identical semantics to
#: _IVF_PORTABLE_CTES' a0 (proven green on q_sim_ann_ivf/q_semdedup),
#: parameterized on the centroid relation so iterations chain.
_KMEANS_ASSIGN_CTE = """
    a{n} AS (
      SELECT vec_id, ve, cell FROM (
        SELECT v.vec_id, v.ve, c.cell,
               ROW_NUMBER() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY ROUND(list_cosine_similarity(v.ve, c.cv), 6) DESC,
                          c.cell DESC) AS rn
        FROM v CROSS JOIN cent{prev} c)
      WHERE rn = 1)
"""

#: One Lloyd UPDATE step as a CTE pair: per-(cell, position) means
#: rounded to 6 (the engine-invariance cut every portable centroid in
#: this module uses), reassembled position-ordered.
_KMEANS_UPDATE_CTE = """
    comp{n} AS (
      SELECT cell, pos, ROUND(AVG(ve[pos + 1]), 6) AS x
      FROM a{n} CROSS JOIN (SELECT UNNEST(range(0, {dim})) AS pos)
      GROUP BY cell, pos),
    cent{n} AS (SELECT cell, list(x ORDER BY pos) AS cv
                FROM comp{n} GROUP BY cell)
"""


def _kmeans_ctes() -> str:
    """Unrolled full-replay Lloyd as a CTE chain: md5-ordered seeds,
    then _KMEANS_ITERS chained assign/update rounds; a{_KMEANS_ITERS}
    is the LAST assignment (the one that produced the final centroids
    — exactly what ivf_index returns).  Shared by q_cluster_kmeans
    and q_sample_cluster."""
    ctes = [
        """
    v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
      FROM embeddings),
    cent0 AS (
      SELECT ROW_NUMBER() OVER (
                 ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS cell,
             ve AS cv
      FROM (SELECT vec_id, ve FROM v
            ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
            LIMIT {k}))""".strip().format(k=_KMEANS_K)
    ]
    for i in range(1, _KMEANS_ITERS + 1):
        ctes.append(_KMEANS_ASSIGN_CTE.format(n=i, prev=i - 1).strip())
        if i < _KMEANS_ITERS:
            ctes.append(
                _KMEANS_UPDATE_CTE.format(n=i, dim=_KMEANS_DIM).strip()
            )
    return ",\n    ".join(ctes)


def _kmeans_oracle() -> str:
    return (
        "WITH " + _kmeans_ctes()
        + f"""
    SELECT vec_id, CAST(cell AS BIGINT) AS cluster_id,
           CAST(COUNT(*) OVER (PARTITION BY cell) AS BIGINT)
               AS cluster_size
    FROM a{_KMEANS_ITERS}"""
    )


@staged("kmeans_assignment")
def _kmeans_assignment(spark: SparkSession, sf_dir: str, path: str):
    """The (vec_id, cell) relation of the final Lloyd assignment,
    built once per (session, sf_dir) by ivf_index and materialized as
    a parquet staging table — the honest scale shape (a clustering is
    computed once and every consumer reads the label table) and
    cache-state-immune under the bench harness's per-query
    clearCache().  The 2-iteration Lloyd build is deterministic, so
    q_cluster_kmeans and q_sample_cluster share ONE build."""
    em = load_table(spark, sf_dir, "embeddings")
    _cent, assigned = similarity.ivf_index(
        em, n_cells=_KMEANS_K, lloyd_iters=_KMEANS_ITERS,
        scheme="portable", round_assign=6,
    )
    assigned.select("vec_id", "cell").write.mode("overwrite").parquet(
        path
    )
    assigned.unpersist()


@register(
    "q_cluster_kmeans",
    # Full-replay oracle (the q_pagerank unrolled-CTE pattern): DuckDB
    # re-runs seeds → assign → update → assign bit-for-bit, so the
    # hash verifies a distributed ITERATIVE clustering end-to-end, not
    # a tolerance band.
    oracle=_kmeans_oracle(),
    staging=("kmeans_assignment",),
)
def q_cluster_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-MEANS CLUSTERING as a first-class query: _KMEANS_ITERS fixed
    Lloyd iterations of spherical k-means (max-cosine assignment,
    per-cell mean update) over the embeddings corpus, every vector
    labeled with its final cluster plus the cluster size — the
    cluster-balanced-sampling / corpus-partitioning primitive real
    curation pipelines (SemDeDup, DSIR prototypes) run standalone.
    The machinery IS the IVF coarse-quantizer build
    (operators/similarity.py::ivf_index, lloyd_iters=2): md5-seeded
    portable init, Arrow numpy assignment kernel, posexplode mean
    update — registered here as its own query because clustering is a
    product operation, not only an index-build step.

    Scale shape: each build iteration is ONE zero-shuffle Arrow map
    pass (assignment = a dense (n × dim)·(dim × k) matmul per batch,
    the centroid matrix broadcast) + ONE (cell, pos) hash aggregate
    with map-side partials for the update (q_agg_vector_mean's
    shape); the k × dim centroid relation is driver-collected per
    iteration — bounded by construction, it is the relation every
    k-means implementation broadcasts.  The build runs ONCE per
    (session, sf_dir) and lands as the materialized (vec_id, cell)
    label table (:func:`_kmeans_assignment`); this query and
    q_sample_cluster both serve off it.  Empty clusters vanish from
    the centroid relation on both engines identically.  Determinism:
    centroid components round to 6 after every update and the
    assignment argmax rounds cosines to 6 with the largest-cell
    tie-break, so iteration inputs are bit-equal across engines (the
    q_sim_ann_ivf-proven cuts) — which is exactly why serving from
    the materialized assignment is bit-identical to a fresh build."""
    assigned = _kmeans_assignment(spark, sf_dir)
    return assigned.select(
        "vec_id",
        F.col("cell").cast("long").alias("cluster_id"),
    ).withColumn(
        "cluster_size",
        F.count(F.lit(1)).over(Window.partitionBy("cluster_id")),
    )


#: Per-cluster sample quota and the salt keying the deterministic
#: uniform draw (changing it redraws the sample, like q_shuffle_epoch's
#: seed).  40 < the sf0.01 per-cluster sizes (~250) so the quota CUT is
#: live, while sf0.001 clusters (~25) exercise the
#: smaller-than-quota branch.
_CLUSTER_SAMPLE_QUOTA = 40
_CLUSTER_SAMPLE_SALT = "cbs1:"


@register(
    "q_sample_cluster",
    # The kmeans CTEs replay the identical clustering; the draw is the
    # q_sample_stratified discipline (salted-md5 order) per cluster.
    oracle=(
        "WITH " + _kmeans_ctes()
        + f""",
    ranked AS (
      SELECT vec_id, cell,
             ROW_NUMBER() OVER (
                 PARTITION BY cell
                 ORDER BY md5('{_CLUSTER_SAMPLE_SALT}'
                              || CAST(vec_id AS VARCHAR)), vec_id) AS rk
      FROM a{_KMEANS_ITERS})
    SELECT vec_id, CAST(cell AS BIGINT) AS cluster_id,
           CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= {_CLUSTER_SAMPLE_QUOTA}"""
    ),
    staging=("kmeans_assignment",),
)
def q_sample_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLUSTER-BALANCED SAMPLING — the coreset-selection step that
    makes q_cluster_kmeans actionable: an equal quota of vectors drawn
    from EVERY k-means cluster, flattening the cluster-size
    distribution so a downstream sample (curation eval sets, SemDeDup
    prune candidates, diverse few-shot pools) covers embedding space
    instead of mirroring its density.  The draw is deterministic: each
    cluster's members race on the salted md5 of their stable id (the
    q_sample_stratified discipline — no RNG state, identical redraw
    across runs, engines, and partitionings), top _CLUSTER_SAMPLE_QUOTA
    win.

    Scale shape: the clustering is q_cluster_kmeans's once-per-session
    materialized label table (:func:`_kmeans_assignment` — never a
    second Lloyd build of the identical deterministic clustering); the
    draw adds ONE per-cluster ranking window over the k-partition
    relation — at cluster scale a TakeOrdered-per-group heap, and the
    md5 key means the sample needs no coordination to reproduce.  A
    cluster smaller than the quota contributes all its members (both
    engines clip identically)."""
    assigned = _kmeans_assignment(spark, sf_dir)
    w = Window.partitionBy("cell").orderBy(
        F.md5(F.concat(F.lit(_CLUSTER_SAMPLE_SALT),
                       F.col("vec_id").cast("string"))),
        F.asc("vec_id"),
    )
    return (
        assigned.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= _CLUSTER_SAMPLE_QUOTA)
        .select(
            "vec_id",
            F.col("cell").cast("long").alias("cluster_id"),
            F.col("rk").cast("long").alias("rk"),
        )
    )


@register(
    "q_drift_embedding",
    # The kmeans CTEs replay the identical quantizer + assignment; the
    # PSI fold is q_drift_psi's algebra with the Laplace denominator =
    # the cell count (k).  Every count is an exact integer; psi_term
    # and psi round before any comparison, so a sub-ulp ln divergence
    # cannot flip the flag.
    oracle=(
        "WITH " + _kmeans_ctes()
        + f""",
    lab AS (
      SELECT cell,
             CASE WHEN vec_id % 2 = 0 THEN 'ref' ELSE 'cur' END AS period
      FROM a{_KMEANS_ITERS}),
    cells AS (
      SELECT cell,
             SUM(CASE WHEN period = 'ref' THEN 1 ELSE 0 END) AS c_ref,
             SUM(CASE WHEN period = 'cur' THEN 1 ELSE 0 END) AS c_cur
      FROM lab GROUP BY cell),
    tot AS (SELECT SUM(c_ref) AS n_ref, SUM(c_cur) AS n_cur FROM cells),
    terms AS (
      SELECT c.cell, c.c_ref, c.c_cur,
             ((CAST(c.c_cur AS DOUBLE) + 1.0)
                  / (CAST(t.n_cur AS DOUBLE) + {float(_KMEANS_K)!r})
              - (CAST(c.c_ref AS DOUBLE) + 1.0)
                  / (CAST(t.n_ref AS DOUBLE) + {float(_KMEANS_K)!r}))
             * LN(((CAST(c.c_cur AS DOUBLE) + 1.0)
                       / (CAST(t.n_cur AS DOUBLE) + {float(_KMEANS_K)!r}))
                  / ((CAST(c.c_ref AS DOUBLE) + 1.0)
                       / (CAST(t.n_ref AS DOUBLE) + {float(_KMEANS_K)!r})))
                 AS term
      FROM cells c CROSS JOIN tot t)
    SELECT CAST(cell AS BIGINT) AS cluster_id,
           CAST(c_ref AS BIGINT) AS c_ref,
           CAST(c_cur AS BIGINT) AS c_cur,
           {round_half_up_sql("term", 6)} AS psi_term,
           {round_half_up_sql("SUM(term) OVER ()", 6)} AS psi,
           {round_half_up_sql("SUM(term) OVER ()", 6)} > 0.2 AS drift_flag
    FROM terms"""
    ),
    staging=("kmeans_assignment",),
)
def q_drift_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMBEDDING-SPACE DRIFT: PSI over k-means CLUSTER OCCUPANCY — the
    semantic twin of the per-feature drift gate (q_drift_psi) for data
    that lives in a vector space, where no single scalar column
    carries the distribution.  The shared quantizer (the session's
    materialized kmeans label table, :func:`_kmeans_assignment`) bins
    both cohorts into the SAME cells; occupancy shift between the
    reference cohort (even vec_ids — the deterministic fixture stand-
    in for 'last month's embeddings') and the current cohort (odd) is
    folded into one Laplace-smoothed PSI with the conventional 0.2
    alarm.  This is the embedding-drift monitor every ML observability
    stack ships: codebook frozen, per-cell occupancy compared.

    Scale shape: all corpus-scale work is the once-per-session label
    build; this query is one scan of the label table + one k-row cell
    aggregate + a k-row fold — nothing grows with corpus size except
    the label scan.  Output is per-cell (counts + rounded term) plus
    the total psi/flag, so the hash verifies every cell's
    contribution, not just the scalar."""
    labels = _kmeans_assignment(spark, sf_dir)
    # the cohort split mirrors the oracle's CASE ... ELSE 'cur': a
    # NULL or negative-odd vec_id must land in CUR on both engines,
    # never in neither cohort (self-review r10 — the q_drift_psi
    # when/otherwise discipline)
    is_ref = F.col("vec_id") % 2 == 0
    cells = labels.groupBy("cell").agg(
        F.sum(F.when(is_ref, 1).otherwise(0)).alias("c_ref"),
        F.sum(F.when(is_ref, 0).otherwise(1)).alias("c_cur"),
    )
    w = Window.partitionBy()
    cells = cells.withColumn("n_ref", F.sum("c_ref").over(w)).withColumn(
        "n_cur", F.sum("c_cur").over(w)
    )
    k = float(_KMEANS_K)
    p_cur = (F.col("c_cur").cast("double") + F.lit(1.0)) / (
        F.col("n_cur").cast("double") + F.lit(k)
    )
    p_ref = (F.col("c_ref").cast("double") + F.lit(1.0)) / (
        F.col("n_ref").cast("double") + F.lit(k)
    )
    term = (p_cur - p_ref) * F.log(p_cur / p_ref)
    from level2_to_cassandra_spark.functions import round_half_up

    psi = round_half_up(F.sum(term).over(w), 6)
    return cells.select(
        F.col("cell").cast("long").alias("cluster_id"),
        F.col("c_ref").cast("long").alias("c_ref"),
        F.col("c_cur").cast("long").alias("c_cur"),
        round_half_up(term, 6).alias("psi_term"),
        psi.alias("psi"),
        (psi > F.lit(0.2)).alias("drift_flag"),
    )


_SEMDEDUP_THRESHOLD = 0.35


@register(
    "q_semdedup",
    # Reuses the portable-quantizer CTEs (cell assignment a0) and the
    # ROUND(cos, 4) pair cut proven on q_llm_dedup_embed, so the
    # whole cluster-then-prune pipeline is hash-checked end-to-end.
    oracle=f"""
    WITH {_IVF_PORTABLE_CTES},
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM a0 a JOIN a0 b ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE ROUND(list_cosine_similarity(a.ve, b.ve), 4)
            >= {_SEMDEDUP_THRESHOLD}
    ),
    pruned AS (SELECT DISTINCT id_b AS vec_id FROM pairs)
    SELECT a0.vec_id, CAST(a0.cell AS BIGINT) AS cell
    FROM a0 LEFT JOIN pruned p USING (vec_id)
    WHERE p.vec_id IS NULL
    """,
    staging=("ivf_index",),
)
def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic deduplication (SemDeDup-style): cluster embeddings with
    the portable IVF coarse quantizer (16 cells, 1 Lloyd step — the
    same index q_sim_ann_ivf probes), then WITHIN each cluster prune
    every vector that has a lower-id neighbor at rounded cosine ≥
    0.35; survivors are the kept corpus.  This is the
    embedding-space dedup that catches paraphrases exact/minhash text
    dedup cannot.

    Scale shape: the pair join is cell-bounded — candidates ∝
    Σ cell_size², never N², and n_cells grows with the corpus so cell
    sizes stay constant (at 100 TB: thousands of cells, each a
    shuffle-local pairwise pass; a pathologically hot cell gets the
    operators/skew.py salting treatment).  The pair scan runs on
    NARROW (cell, id, vec) rows off the persisted assignment staging
    table; the keep-side anti-join shuffles ids only.  Threshold
    0.35 is fixture-tuned (near-random vectors — real
    corpora use ~0.95+); the keep rule (prune the higher id of a
    qualifying pair) is the same deterministic canonical-survivor rule
    as q_dedup_keep.  The assignment is the session-staged inverted
    file (_ivf_relation — built once per (session, fixture), shared
    with q_sim_ann_ivf, exactly the long-lived-service reuse the
    earlier per-call persist only simulated)."""
    # SemDeDup consumes the CLUSTER ASSIGNMENT only — served from the
    # session-staged inverted file (_ivf_relation, r16): ivf_index's
    # last-Lloyd assignment at lloyd_iters=1 IS the assignment against
    # the seeds, i.e. exactly the relation the previous inline
    # seeds→assign chain computed per call (one seed TakeOrdered + one
    # Arrow corpus pass now paid once per session, not per query); the
    # parquet staging table also replaces the per-call persist.
    _cent, assigned = _ivf_relation(spark, sf_dir)
    v = similarity.as_double(F.col("embedding"))
    narrow = assigned.select(
        "cell",
        F.col("vec_id"),
        v.alias("__dv"),
        similarity.l2_norm(v).alias("__n"),
    )
    cos = similarity.dot(F.col("__va"), F.col("__vb")) / (
        F.col("__na") * F.col("__nb")
    )
    pruned = (
        narrow.select("cell", F.col("vec_id").alias("id_a"),
                      F.col("__dv").alias("__va"), F.col("__n").alias("__na"))
        .join(
            narrow.select("cell", F.col("vec_id").alias("id_b"),
                          F.col("__dv").alias("__vb"),
                          F.col("__n").alias("__nb")),
            "cell",
        )
        .where(F.col("id_a") < F.col("id_b"))
        .where(F.round(cos, 4) >= _SEMDEDUP_THRESHOLD)
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
    )
    return (
        assigned.select("vec_id", F.col("cell").cast("long").alias("cell"))
        .join(pruned, "vec_id", "left_anti")
    )


#: Portable product-quantizer CTEs shared semantics with
#: operators/similarity.py pq_train/pq_encode (M=8 subspaces × 8 dims,
#: K=16 codes): seed codewords are subvectors of the md5-order seed
#: rows (reuses the IVF seeds CTE), one Lloyd step with ROUND(L2², 6)
#: argmin + smallest-code ties, codebook means ROUND 6.  ``sv`` is the
#: exploded (vec, subspace) relation both the train and encode argmins
#: scan; ``enc``/``cb``/``rnorm`` are the DuckDB twins of the engine's
#: encoded staging relation.
_PQ_PORTABLE_CTES = """
    subs AS (SELECT UNNEST(range(0, 8)) AS sub),
    cb0 AS (
      SELECT sub, s.cell AS code,
             list_slice(s.cv, sub*8 + 1, sub*8 + 8) AS cw
      FROM seeds s CROSS JOIN subs
    ),
    sv AS (
      SELECT vec_id, sub, list_slice(ve, sub*8 + 1, sub*8 + 8) AS svec
      FROM v CROSS JOIN subs
    ),
    tr AS (
      SELECT vec_id, sub, code, svec FROM (
        SELECT sv.vec_id, sv.sub, c.code, sv.svec,
               ROW_NUMBER() OVER (
                 PARTITION BY sv.vec_id, sv.sub
                 ORDER BY ROUND(list_reduce(
                     list_transform(range(1, 9),
                       i -> (sv.svec[i] - c.cw[i]) * (sv.svec[i] - c.cw[i])),
                     (a, x) -> a + x), 6) ASC, c.code ASC) AS rn
        FROM sv JOIN cb0 c USING (sub))
      WHERE rn = 1
    ),
    comp_pq AS (
      SELECT sub, code, pos, ROUND(AVG(svec[pos + 1]), 6) AS x
      FROM tr CROSS JOIN (SELECT UNNEST(range(0, 8)) AS pos)
      GROUP BY sub, code, pos
    ),
    cb AS (SELECT sub, code, list(x ORDER BY pos) AS cw
           FROM comp_pq GROUP BY sub, code),
    enc AS (
      SELECT vec_id, sub, code FROM (
        SELECT sv.vec_id, sv.sub, c.code,
               ROW_NUMBER() OVER (
                 PARTITION BY sv.vec_id, sv.sub
                 ORDER BY ROUND(list_reduce(
                     list_transform(range(1, 9),
                       i -> (sv.svec[i] - c.cw[i]) * (sv.svec[i] - c.cw[i])),
                     (a, x) -> a + x), 6) ASC, c.code ASC) AS rn
        FROM sv JOIN cb c USING (sub))
      WHERE rn = 1
    ),
    nsq AS (SELECT sub, code,
                   list_reduce(list_transform(cw, x -> x * x),
                               (a, x) -> a + x) AS nsq
            FROM cb),
    rnorm AS (SELECT vec_id, ROUND(sqrt(SUM(nsq)), 6) AS recon_norm
              FROM enc JOIN nsq USING (sub, code) GROUP BY vec_id)
"""


@register(
    "q_sim_ann_pq",
    # Full-replay oracle in the q_sim_ann_ivf tradition: every lossy
    # step of the compressed index — seed pick, Lloyd argmin, codebook
    # means, encoding, per-subspace ADC partial dots, the approximate-
    # cosine shortlist cut, the exact re-rank — is rounded/tie-broken
    # identically on both engines, so DuckDB rebuilds the byte-exact
    # codes and the same final top-10.
    oracle=f"""
    WITH {_IVF_PORTABLE_CTES},
    {_PQ_PORTABLE_CTES},
    q AS (SELECT vec_id AS query_id, ve AS qv,
                 sqrt(list_reduce(list_transform(ve, x -> x * x),
                                  (a, x) -> a + x)) AS qn
          FROM v WHERE vec_id < 5),
    adc AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             SUM(ROUND(list_reduce(
                 list_transform(range(1, 9),
                   i -> q.qv[e.sub*8 + i] * c.cw[i]),
                 (a, x) -> a + x), 6)) AS adot
      FROM enc e JOIN cb c USING (sub, code) CROSS JOIN q
      WHERE e.vec_id <> q.query_id
      GROUP BY 1, 2
    ),
    short AS (
      SELECT query_id, neighbor_id FROM (
        SELECT a.query_id, a.neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY a.query_id
                 ORDER BY ROUND(a.adot / (q.qn * r.recon_norm), 6) DESC,
                          a.neighbor_id ASC) AS rn
        FROM adc a
        JOIN q USING (query_id)
        JOIN rnorm r ON r.vec_id = a.neighbor_id)
      WHERE rn <= 30
    )
    SELECT query_id, neighbor_id, cos, rank FROM (
      SELECT s.query_id, s.neighbor_id,
             ROUND(list_cosine_similarity(q.qv, v.ve), 4) AS cos,
             ROW_NUMBER() OVER (
               PARTITION BY s.query_id
               ORDER BY ROUND(list_cosine_similarity(q.qv, v.ve), 4) DESC,
                        s.neighbor_id ASC) AS rank
      FROM short s
      JOIN q USING (query_id)
      JOIN v ON v.vec_id = s.neighbor_id)
    WHERE rank <= 10
    """,
    staging=("pq_index",),
)
def q_sim_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCT-QUANTIZATION ANN (ADC scan + exact re-rank): train
    md5-seeded per-subspace codebooks (8 subspaces × 8 dims, 16 codes,
    1 Lloyd step), encode every corpus vector as 8 one-byte codes plus
    a stored reconstruction norm (~30× less than the 256-byte float
    vector), rank candidates per query from the CODES ALONE
    (asymmetric distance: per-subspace query·codeword partial dots),
    then re-rank only the top-30 shortlist with exact cosines for the
    final top-10 — the compressed-domain ANN path that complements
    q_sim_ann_ivf's cell-pruning path (production IVF-PQ composes
    both; Jégou et al., TPAMI 2011).

    Scale shape: the trained codebook is k·m rows riding the Arrow
    kernels as a closure (nothing is shuffled for it); the encoded
    relation is the persisted narrow staging index — built once per
    (session, corpus) by ``_pq_relation`` (the _ivfpq_session_index
    build/serve split; bit-identity of the staged index is pinned in
    tests/test_llm_ops.py), so the serve path is ONE vectorized codes
    pass (the ADC lookup-table kernel — per subspace every possible
    partial dot is precomputed per query, so scoring a corpus row is
    m table lookups over ~9 bytes of codes); the only full-vector
    reads after encoding are the shortlist-sized (queries × 30 rows,
    broadcast) re-rank join — at 100 TB the full-precision corpus is
    read ~30 rows per query instead of once per query.  Recall floor +
    exactness at shortlist ≥ corpus + Arrow/JVM-fold encode parity are
    pinned in tests/test_llm_ops.py; the oracle pins
    bit-reproducibility of the whole compressed pipeline.
    """
    em = load_table(spark, sf_dir, "embeddings")
    queries = em.where(F.col("vec_id") < 5)
    return similarity.pq_adc_topk(
        em, queries, topk=10, shortlist=30,
        index=_pq_relation(spark, sf_dir),
    ).select(
        "query_id",
        "neighbor_id",
        "cos",
        F.col("rank").cast("long").alias("rank"),
    )


def _lsh_buckets(spark: SparkSession, sf_dir: str, path: str,
                 n_planes: int, n_tables: int) -> None:
    """Write (vec_id, table, bucket) for the Rademacher sign-LSH config
    (n_planes × n_tables, dim=64 — the exact configuration the
    consuming oracles replay): the multi-table hash index an LSH stack
    maintains, staged once per (session, fixture, config) — before r16
    every consumer re-ran the Arrow bucketize pass and persisted the
    result per call.  The build is deterministic (integer-chain
    planes, sequential-fold projections) and the relation is pure
    int64s, so serving from parquet is bit-identical to a fresh build;
    with the staging table supplied, lsh_candidate_pairs' per-call
    persist disappears (each join branch replays a parquet scan)."""
    em = load_table(spark, sf_dir, "embeddings")
    similarity.lsh_buckets_np(
        em, n_planes=n_planes, n_tables=n_tables, dim=64,
        scheme="rademacher",
    ).write.mode("overwrite").parquet(path)


@staged("lsh_buckets_6x8")
def _lsh_embed_buckets(spark: SparkSession, sf_dir: str, path: str):
    """The 6-plane × 8-table near-dup config's bucket table
    (q_llm_dedup_embed, q_dedup_incremental_multimodal and the
    multimodal gate build)."""
    _lsh_buckets(spark, sf_dir, path, 6, 8)


@staged("lsh_buckets_8x16")
def _lsh_ann_buckets(spark: SparkSession, sf_dir: str, path: str):
    """The 8-plane × 16-table ANN config's bucket table
    (q_sim_ann_lsh)."""
    _lsh_buckets(spark, sf_dir, path, 8, 16)


@staged("ivf_index", serve=read_dirs("cent", "assigned"))
def _ivf_relation(spark: SparkSession, sf_dir: str, path: str):
    """(cent, assigned) for the PORTABLE 16-cell IVF coarse quantizer
    (scheme="portable", round_assign=6 — the exact configuration the
    q_sim_ann_ivf oracle replays), built ONCE per (session, fixture)
    and served from parquet — the build/serve split every ANN stack
    runs (the inverted file IS the bucketed-by-cell staging table;
    the _ivfpq_session_index / _sig_relation precedent).  Before r16
    q_sim_ann_ivf re-ran the full index build (seed TakeOrdered +
    Arrow assignment pass + centroid-means collect) on EVERY call and
    q_semdedup independently re-ran the seed+assignment passes of the
    same quantizer.  The build is deterministic (md5 seeds, rounded
    means, rounded argmax) and parquet round-trips floats/doubles
    exactly, so serving from the staged index is bit-identical to a
    fresh build.  ``assigned`` is ivf_index's last-Lloyd assignment —
    the assignment against the SEEDS at lloyd_iters=1, i.e. exactly
    the relation q_semdedup's seeds→assign chain computed inline.
    Shared by q_sim_ann_ivf and q_semdedup."""
    em = load_table(spark, sf_dir, "embeddings")
    cent, assigned = similarity.ivf_index(
        em, n_cells=16, scheme="portable", round_assign=6
    )
    assigned.write.parquet(path + "/assigned")
    assigned.unpersist()
    cent.write.parquet(path + "/cent")


@staged("pq_index", serve=lambda spark, path, cb: (
    cb, read_parquet(spark, path + "/enc")))
def _pq_relation(spark: SparkSession, sf_dir: str, path: str):
    """(codebook, encoded) for the 8×16 product quantizer over the
    embeddings fixture — built ONCE per (session, fixture) and the
    encoded relation served from parquet (the build/serve split every
    PQ stack runs; the codebook is k·m rows of rounded doubles and
    lives in the session memo like the IvfPqIndex object).  Before r16
    q_sim_ann_pq re-ran BOTH build corpus passes (seed TakeOrdered +
    Lloyd-step train collect, then the Arrow encode pass) on every
    call.  The build is deterministic (md5 seed order, rounded means,
    rounded argmin with smallest-code ties) and the encoded relation
    is int64s + a rounded double, so parquet round-trips it exactly —
    serving from the staged index is bit-identical to a fresh build
    (pinned by tests/test_llm_ops.py::
    test_pq_staged_relation_matches_inline_build)."""
    em = load_table(spark, sf_dir, "embeddings")
    cb = similarity.pq_train(em)
    similarity.pq_encode(em, cb).write.parquet(path + "/enc")
    return cb


@staged("ivfpq_index")
def _ivfpq_session_index(spark: SparkSession, sf_dir: str, path: str):
    """The built IvfPqIndex, its code relation written to ``path``: a
    bench or contract-check process pays the index build once and
    every later q_sim_ann_ivfpq invocation measures the SERVE path
    (VERDICT r05 #3).  A plain ``persist()`` would be dropped by the harness's
    per-query ``clearCache()`` and silently re-run the whole build
    inside the next serve."""
    em = load_table(spark, sf_dir, "embeddings")
    return similarity.ivfpq_build(em, n_cells=16, path=path)


@register(
    "q_sim_ann_ivfpq",
    # Composes the two proven portable bundles: the IVF CTEs rebuild
    # the identical coarse cells/centroids/probes (q_sim_ann_ivf's
    # oracle), the PQ CTEs the identical codebooks/codes/norms
    # (q_sim_ann_pq's oracle); the ADC sum is simply restricted to
    # probed (query, cell) pairs via the a0 cell assignment.
    oracle=f"""
    WITH {_IVF_PORTABLE_CTES},
    {_PQ_PORTABLE_CTES},
    comp_c AS (
      SELECT cell, pos, ROUND(AVG(ve[pos + 1]), 6) AS x
      FROM a0 CROSS JOIN (SELECT UNNEST(range(0, 64)) AS pos)
      GROUP BY cell, pos
    ),
    cent_c AS (SELECT cell, list(x ORDER BY pos) AS cv
               FROM comp_c GROUP BY cell),
    q AS (SELECT vec_id AS query_id, ve AS qv,
                 sqrt(list_reduce(list_transform(ve, x -> x * x),
                                  (a, x) -> a + x)) AS qn
          FROM v WHERE vec_id < 5),
    probes AS (
      SELECT query_id, cell FROM (
        SELECT q.query_id, c.cell,
               ROW_NUMBER() OVER (
                 PARTITION BY q.query_id
                 ORDER BY ROUND(list_cosine_similarity(q.qv, c.cv), 6) DESC,
                          c.cell ASC) AS rn
        FROM q CROSS JOIN cent_c c)
      WHERE rn <= 6
    ),
    adc AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             SUM(ROUND(list_reduce(
                 list_transform(range(1, 9),
                   i -> q.qv[e.sub*8 + i] * c.cw[i]),
                 (a, x) -> a + x), 6)) AS adot
      FROM enc e
      JOIN a0 ON a0.vec_id = e.vec_id
      JOIN probes p ON p.cell = a0.cell
      JOIN q ON q.query_id = p.query_id
      JOIN cb c ON c.sub = e.sub AND c.code = e.code
      WHERE e.vec_id <> q.query_id
      GROUP BY 1, 2
    ),
    short AS (
      SELECT query_id, neighbor_id FROM (
        SELECT a.query_id, a.neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY a.query_id
                 ORDER BY ROUND(a.adot / (q.qn * r.recon_norm), 6) DESC,
                          a.neighbor_id ASC) AS rn
        FROM adc a
        JOIN q USING (query_id)
        JOIN rnorm r ON r.vec_id = a.neighbor_id)
      WHERE rn <= 30
    )
    SELECT query_id, neighbor_id, cos, rank FROM (
      SELECT s.query_id, s.neighbor_id,
             ROUND(list_cosine_similarity(q.qv, v.ve), 4) AS cos,
             ROW_NUMBER() OVER (
               PARTITION BY s.query_id
               ORDER BY ROUND(list_cosine_similarity(q.qv, v.ve), 4) DESC,
                        s.neighbor_id ASC) AS rank
      FROM short s
      JOIN q USING (query_id)
      JOIN v ON v.vec_id = s.neighbor_id)
    WHERE rank <= 10
    """,
    staging=("ivfpq_index",),
)
def q_sim_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN — THE production large-scale ANN layout (FAISS's
    IndexIVFPQ, by_residual=false): the coarse quantizer prunes to 6
    of 16 cells per query, product-quantization codes score the
    surviving rows in the compressed domain (ADC lookup tables), and
    only the top-30 shortlist touches full-precision vectors for the
    exact top-10 re-rank.  Composes q_sim_ann_ivf's cell index (the
    persisted inverted file IS the staging table the codes ride on)
    with q_sim_ann_pq's codebooks; at 100 TB the steady-state read is
    ~(nprobe/n_cells)·9 bytes per corpus row — the cell cut and the
    code compression multiply.

    Build/serve split (VERDICT r05 #3): the index — one Lloyd corpus
    pass (the cell assignment/inverted file) + one Arrow pass
    appending codes/norms — is built ONCE per (session, sf_dir) by
    :func:`_ivfpq_session_index`, written to parquet, and every
    invocation after the first serves straight off the materialized
    code relation (probe-restricted ADC scan + broadcast re-rank, the
    production steady state; plan-pinned by tests/test_plans.py::
    test_ivfpq_serves_from_persisted_index).  The build is
    deterministic (md5 seeds, rounded means/argmins), so serving from
    the prebuilt index is bit-identical to a fresh build — which is
    exactly why the DuckDB oracle may replay the whole build every
    time.  Probes are picked driver-side from the index's centroid
    matrix (n_cells rows — the same bounded collect every IVF probe
    path makes).  Recall floor and brute-force equality at
    nprobe=n_cells ∧ shortlist≥corpus are pinned in
    tests/test_llm_ops.py; the oracle replays the ENTIRE composed
    index bit-for-bit (see oracle comment)."""
    em = load_table(spark, sf_dir, "embeddings")
    queries = em.where(F.col("vec_id") < 5)
    return similarity.ivfpq_topk(
        em, queries, topk=10, shortlist=30, nprobe=6,
        index=_ivfpq_session_index(spark, sf_dir),
    ).select(
        "query_id",
        "neighbor_id",
        "cos",
        F.col("rank").cast("long").alias("rank"),
    )


@staged("ann_eval_tables", serve=read_dirs("ivf", "exact"))
def _ann_eval_tables(spark: SparkSession, sf_dir: str, path: str):
    """(ivf top-10, exact top-10) staging tables — q_sim_ann_ivf's and
    q_sim_topk's rankings, each built from the REGISTERED plan and
    column-complete (query_id, neighbor_id, cos, rank), so q_ann_recall,
    q_ann_ndcg and q_ann_mrr all serve off the same two
    materializations (self-review r13: each eval query re-ran both
    retrieval pipelines).  Their SERVE plans are then pure scans +
    tiny joins — the Python-kernel IVF assignment runs at build time
    only, plan-pinned."""
    q_sim_ann_ivf(spark, sf_dir).write.parquet(path + "/ivf")
    q_sim_topk(spark, sf_dir).write.parquet(path + "/exact")


@register(
    "q_ann_recall",
    # The ann CTE chain is q_sim_ann_ivf's oracle VERBATIM (comp /
    # cent / q / probes / scored over _IVF_PORTABLE_CTES) and the
    # exact chain is q_sim_topk's — any drift between this copy and
    # those specs fails THIS query's hash check, so the duplication
    # is self-policing.  The recall arithmetic is exact integers and
    # one division.
    oracle=f"""
    WITH {_IVF_PORTABLE_CTES},
    comp AS (
      SELECT cell, pos, ROUND(AVG(ve[pos + 1]), 6) AS x
      FROM a0 CROSS JOIN (SELECT UNNEST(range(0, 64)) AS pos)
      GROUP BY cell, pos
    ),
    cent AS (SELECT cell, list(x ORDER BY pos) AS cv FROM comp GROUP BY cell),
    q AS (SELECT vec_id AS query_id, ve AS qv FROM v WHERE vec_id < 5),
    probes AS (
      SELECT query_id, qv, cell FROM (
        SELECT q.query_id, q.qv, c.cell,
               ROW_NUMBER() OVER (
                 PARTITION BY q.query_id
                 ORDER BY ROUND(list_cosine_similarity(q.qv, c.cv), 6) DESC,
                          c.cell ASC) AS rn
        FROM q CROSS JOIN cent c)
      WHERE rn <= 6
    ),
    scored AS (
      SELECT p.query_id, a.vec_id AS neighbor_id,
             ROUND(list_cosine_similarity(p.qv, a.ve), 4) AS cos
      FROM probes p JOIN a0 a USING (cell)
      WHERE a.vec_id <> p.query_id
    ),
    ann AS (
      SELECT query_id, neighbor_id
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY cos DESC, neighbor_id)
                          AS rank
            FROM scored)
      WHERE rank <= 10
    ),
    exscored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             ROUND(list_cosine_similarity(
                 list_transform(e.embedding, x -> CAST(x AS DOUBLE)),
                 q.qv), 4) AS cos
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> q.query_id
    ),
    exact AS (
      SELECT query_id, neighbor_id
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY cos DESC, neighbor_id)
                          AS rank
            FROM exscored)
      WHERE rank <= 10
    ),
    hits AS (
      SELECT a.query_id, COUNT(*) AS n_hits
      FROM ann a JOIN exact e
        ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
      GROUP BY 1
    ),
    ex AS (SELECT query_id, COUNT(*) AS n_exact FROM exact GROUP BY 1)
    SELECT ex.query_id,
           CAST(COALESCE(n_hits, 0) AS BIGINT) AS n_hits,
           CAST(n_exact AS BIGINT) AS n_exact,
           (ROUND(CAST(COALESCE(n_hits, 0) AS DOUBLE) / n_exact, 6) + 0.0)
               AS recall
    FROM ex LEFT JOIN hits ON hits.query_id = ex.query_id
    """,
    staging=("ivf_index", "ann_eval_tables"),
)
def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN INDEX QUALITY EVALUATION: recall@10 of the IVF index
    (q_sim_ann_ivf's registered plan) against the exact brute-force
    ranking (q_sim_topk's) per query — THE metric an ANN deployment
    regression-gates on before swapping an index into serving.
    Composing the two registered queries is the point: the evaluation
    measures the real plans, not a reimplementation; both rankings
    are staged once per (session, fixture) and shared with q_ann_ndcg
    (:func:`_ann_eval_tables`).

    Scale shape: the eval harness pattern — recall is always measured
    on a SAMPLED query set (here the 5 fixture queries), so the
    brute-force leg is bounded by sample × corpus (one broadcast-
    nested-loop pass, the q_sim_topk shape) while the ANN leg prices
    the index being evaluated — both priced ONCE at staging-build
    time; the served intersection join and recall arithmetic run over
    ≤(sample · k) rows — free.  At 100 TB the same query evaluates an
    index over any corpus the brute leg can scan once."""
    ivf, ex_t = _ann_eval_tables(spark, sf_dir)
    ann = ivf.select("query_id", "neighbor_id")
    exact = ex_t.select("query_id", "neighbor_id")
    hits = (
        ann.join(exact, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    ex = exact.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_exact")
    )
    return ex.join(hits, "query_id", "left").select(
        "query_id",
        F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
        F.col("n_exact").cast("long").alias("n_exact"),
        round_signless(
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("double")
            / F.col("n_exact"), 6
        ).alias("recall"),
    )


#: DCG position discounts 1/log2(rank+1) for ranks 1..10, FROZEN as
#: literals: libm log2 is not guaranteed correctly rounded, so instead
#: of trusting two engines' log2 to agree at the last ulp, both sides
#: index the SAME ten decimal literals (identical doubles by parse).
_NDCG_DISCOUNTS = (
    "1.0", "0.6309297535714575", "0.5", "0.43067655807339306",
    "0.38685280723454163", "0.3562071871080222", "0.3333333333333333",
    "0.31546487678572877", "0.3010299956639812", "0.2890648263178879",
)


@register(
    "q_ann_ndcg",
    # Same composed-plans philosophy as q_ann_recall, with GRADED
    # relevance: the gain of a returned neighbor is its exact rounded
    # cosine (clamped at 0 — NDCG assumes non-negative gains), so the
    # metric rewards ranking the strong neighbors early, which the
    # set-overlap recall metric cannot see.  dcg/idcg are FLOOR
    # half-up rounded before the ratio on both sides.
    oracle=f"""
    WITH {_IVF_PORTABLE_CTES},
    comp AS (
      SELECT cell, pos, ROUND(AVG(ve[pos + 1]), 6) AS x
      FROM a0 CROSS JOIN (SELECT UNNEST(range(0, 64)) AS pos)
      GROUP BY cell, pos
    ),
    cent AS (SELECT cell, list(x ORDER BY pos) AS cv FROM comp GROUP BY cell),
    q AS (SELECT vec_id AS query_id, ve AS qv FROM v WHERE vec_id < 5),
    probes AS (
      SELECT query_id, qv, cell FROM (
        SELECT q.query_id, q.qv, c.cell,
               ROW_NUMBER() OVER (
                 PARTITION BY q.query_id
                 ORDER BY ROUND(list_cosine_similarity(q.qv, c.cv), 6) DESC,
                          c.cell ASC) AS rn
        FROM q CROSS JOIN cent c)
      WHERE rn <= 6
    ),
    scored AS (
      SELECT p.query_id, a.vec_id AS neighbor_id,
             ROUND(list_cosine_similarity(p.qv, a.ve), 4) AS cos
      FROM probes p JOIN a0 a USING (cell)
      WHERE a.vec_id <> p.query_id
    ),
    ann AS (
      SELECT query_id, cos, rank
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY cos DESC, neighbor_id)
                          AS rank
            FROM scored)
      WHERE rank <= 10
    ),
    exscored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             ROUND(list_cosine_similarity(
                 list_transform(e.embedding, x -> CAST(x AS DOUBLE)),
                 q.qv), 4) AS cos
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> q.query_id
    ),
    exact AS (
      SELECT query_id, cos, rank
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY cos DESC, neighbor_id)
                          AS rank
            FROM exscored)
      WHERE rank <= 10
    ),
    d AS (SELECT [{', '.join(_NDCG_DISCOUNTS)}] AS w),
    dcg AS (
      SELECT query_id,
             FLOOR(SUM(GREATEST(cos, 0.0) * w[rank]) * 1000000 + 0.5)
                 / 1000000 AS dcg
      FROM ann CROSS JOIN d GROUP BY query_id
    ),
    idcg AS (
      SELECT query_id,
             FLOOR(SUM(GREATEST(cos, 0.0) * w[rank]) * 1000000 + 0.5)
                 / 1000000 AS idcg
      FROM exact CROSS JOIN d GROUP BY query_id
    )
    SELECT idcg.query_id, dcg.dcg, idcg.idcg,
           (ROUND(CASE WHEN idcg = 0 THEN 0.0 ELSE dcg / idcg END, 6)
            + 0.0) AS ndcg
    FROM idcg JOIN dcg ON dcg.query_id = idcg.query_id
    """,
    staging=("ivf_index", "ann_eval_tables"),
)
def q_ann_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRADED ANN quality: NDCG@10 of the registered IVF plan against
    the exact ranking's ideal ordering — recall@10 (q_ann_recall) is
    blind to WHERE in the list the true neighbors land; NDCG weights
    each position by 1/log2(rank+1), so an index that finds the right
    set but ranks the strong neighbors late scores lower.  Gains are
    the exact rounded cosines (the IVF re-rank is exact cosine over
    candidates, so a returned neighbor's gain is its true rounded
    similarity), clamped at 0.

    Determinism: the ten position discounts are FROZEN decimal
    literals indexed by rank on both engines (libm log2 is not
    correctly-rounded-guaranteed); gains are rounded-at-4 cosines;
    dcg/idcg are FLOOR half-up rounded before the ratio.  Scale shape:
    identical to q_ann_recall — sampled query set, both legs bounded
    and staged once per (session, fixture) via
    :func:`_ann_eval_tables`, the served metric arithmetic runs over
    ≤(sample · k) rows."""
    darr = F.array(*[F.lit(float(d)) for d in _NDCG_DISCOUNTS])
    gain = (
        F.greatest(F.col("cos"), F.lit(0.0))
        * F.element_at(darr, F.col("rank").cast("int"))
    )
    ann, exact = _ann_eval_tables(spark, sf_dir)
    dcg = ann.groupBy("query_id").agg(
        round_half_up(F.sum(gain), 6).alias("dcg")
    )
    idcg = exact.groupBy("query_id").agg(
        round_half_up(F.sum(gain), 6).alias("idcg")
    )
    return idcg.join(dcg, "query_id").select(
        "query_id",
        "dcg",
        "idcg",
        round_signless(
            F.when(F.col("idcg") == 0, F.lit(0.0))
            .otherwise(F.col("dcg") / F.col("idcg")),
            6,
        ).alias("ndcg"),
    )


@register(
    "q_ann_mrr",
    # Same self-policing oracle pattern as q_ann_recall: the ann CTE
    # chain is q_sim_ann_ivf's oracle verbatim (rank kept this time),
    # the exact chain is q_sim_topk's; the MRR fold is EXACT integer
    # algebra — reciprocal ranks lifted to 1e6 units (1e6/rank is a
    # correctly-rounded division of exact inputs, floor half-up makes
    # it an integer both engines agree on), SUM an order-free integer,
    # one final division.
    oracle=f"""
    WITH {_IVF_PORTABLE_CTES},
    comp AS (
      SELECT cell, pos, ROUND(AVG(ve[pos + 1]), 6) AS x
      FROM a0 CROSS JOIN (SELECT UNNEST(range(0, 64)) AS pos)
      GROUP BY cell, pos
    ),
    cent AS (SELECT cell, list(x ORDER BY pos) AS cv FROM comp GROUP BY cell),
    q AS (SELECT vec_id AS query_id, ve AS qv FROM v WHERE vec_id < 5),
    probes AS (
      SELECT query_id, qv, cell FROM (
        SELECT q.query_id, q.qv, c.cell,
               ROW_NUMBER() OVER (
                 PARTITION BY q.query_id
                 ORDER BY ROUND(list_cosine_similarity(q.qv, c.cv), 6) DESC,
                          c.cell ASC) AS rn
        FROM q CROSS JOIN cent c)
      WHERE rn <= 6
    ),
    scored AS (
      SELECT p.query_id, a.vec_id AS neighbor_id,
             ROUND(list_cosine_similarity(p.qv, a.ve), 4) AS cos
      FROM probes p JOIN a0 a USING (cell)
      WHERE a.vec_id <> p.query_id
    ),
    ann AS (
      SELECT query_id, neighbor_id, rank
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY cos DESC, neighbor_id)
                          AS rank
            FROM scored)
      WHERE rank <= 10
    ),
    exscored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             ROUND(list_cosine_similarity(
                 list_transform(e.embedding, x -> CAST(x AS DOUBLE)),
                 q.qv), 4) AS cos
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> q.query_id
    ),
    exact AS (
      SELECT query_id, neighbor_id
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY cos DESC, neighbor_id)
                          AS rank
            FROM exscored)
      WHERE rank <= 10
    ),
    firsthit AS (
      SELECT a.query_id, MIN(a.rank) AS fr
      FROM ann a JOIN exact e
        ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
      GROUP BY 1
    ),
    rr AS (
      SELECT b.query_id,
             CAST(fr AS BIGINT) AS first_hit_rank,
             COALESCE(CAST(FLOOR(1000000.0 / fr + 0.5) AS BIGINT), 0)
                 AS rr_e6
      FROM (SELECT DISTINCT query_id FROM q) b
      LEFT JOIN firsthit USING (query_id))
    SELECT query_id, first_hit_rank,
           CAST(rr_e6 AS DOUBLE) / 1000000.0 AS rr,
           FLOOR(CAST(SUM(rr_e6) OVER () AS DOUBLE)
                 / CAST(COUNT(*) OVER () * 1000000 AS DOUBLE)
                 * 1000000 + 0.5) / 1000000 AS mrr
    FROM rr
    """,
    staging=("ivf_index", "ann_eval_tables"),
)
def q_ann_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN eval, third metric: MEAN RECIPROCAL RANK@10 — how high the
    first truly-relevant neighbor (exact-top-10 membership) sits in
    the served ANN list.  Recall@10 counts overlap, NDCG@10 weighs the
    whole list, MRR prices the first-hit latency a retrieval UI or
    RAG prompt-builder actually feels; a query whose ANN list contains
    no exact-top-10 member scores 0.  Per-query rows carry the first
    hit rank (NULL when none) and rr; the corpus MRR rides every row
    (the q_classifier_calibration scalar-fold shape).

    Exactness: reciprocal ranks are lifted to integer 1e6 units
    (1e6/rank is a correctly-rounded division of exact inputs, so the
    floor-half-up integer is engine-identical), the MRR numerator is
    an order-free INTEGER sum, and one final division closes it — the
    integer-ECE discipline applied to ranking eval.

    Scale shape: identical to q_ann_recall — both rankings staged once
    per (session, fixture) via :func:`_ann_eval_tables`; the served
    metric arithmetic (intersection join + min + window) runs over
    <=(sample x k) rows, free at any corpus size."""
    ivf, ex_t = _ann_eval_tables(spark, sf_dir)
    ann = ivf.select("query_id", "neighbor_id", "rank")
    exact = ex_t.select("query_id", "neighbor_id")
    firsthit = (
        ann.join(exact, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.min("rank").alias("fr"))
    )
    base = ex_t.select("query_id").distinct()
    rr_e6 = F.coalesce(
        F.floor(F.lit(1000000.0) / F.col("fr") + F.lit(0.5)).cast("long"),
        F.lit(0),
    )
    j = base.join(firsthit, "query_id", "left").select(
        "query_id",
        F.col("fr").cast("long").alias("first_hit_rank"),
        rr_e6.alias("rr_e6"),
    )
    w_all = Window.partitionBy()
    mrr = round_half_up(
        F.sum("rr_e6").over(w_all).cast("double")
        / (F.count(F.lit(1)).over(w_all) * 1000000).cast("double"),
        6,
    )
    return j.select(
        "query_id",
        "first_hit_rank",
        (F.col("rr_e6").cast("double") / F.lit(1000000.0)).alias("rr"),
        mrr.alias("mrr"),
    )


#: q_sketch_error knobs: the candidate-pair Jaccard floor (0.6 — the
#: bottom of the band an 8×2 LSH at 16 perms still collides in; the
#: prefix-filter candidate volume grows ~(1−t)², so a lower floor
#: pays quadratically for a regime LSH never serves), the
#: background-panel sampling stride (every 29th doc paired with its
#: id-successor — an equi-join, never a global order), the MinHash
#: permutation count (derived from _SKETCH_SEEDS md5 evaluations —
#: md5 is 128 bits, so each seed yields TWO independent 64-bit
#: permutation hashes; measured 2× cheaper than 16 separate md5s),
#: and the sign mask that makes MIN agree between Spark's signed long
#: and DuckDB's UBIGINT (drop the sign bit → both engines order the
#: same non-negative 63-bit values).
_SKETCH_T = 0.6
_SKETCH_STRIDE = 29
_SKETCH_SEEDS = 8
_SKETCH_PERMS = 2 * _SKETCH_SEEDS
_SKETCH_MASK = minhash.SIG_MASK  # one definition beside the operator


@register(
    "q_sketch_error",
    # The signature hash is the engine-portable md5 form seeded by
    # prefixing the seed index ("0 <shingle>" … "7 <shingle>"); each
    # 128-bit md5 yields TWO 64-bit permutation hashes (hex chars
    # 1-16 and 17-32 — independent halves of one evaluation), and
    # masking to the low 63 bits makes MIN identical whether the bits
    # are held signed (Spark long) or unsigned (DuckDB UBIGINT).
    # Estimates are exact dyadics (m/16); the exact Jaccard is a ratio
    # of exact ints — identical doubles on both engines before ROUND.
    oracle=f"""
    WITH postings AS (
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
    cand AS (
        SELECT id_a, id_b, 'cand' AS panel,
               inter::DOUBLE / (sa.n + sb.n - inter) AS j
        FROM co
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE ROUND(inter::DOUBLE / (sa.n + sb.n - inter), 6)
              >= {_SKETCH_T}),
    samp AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, 'sample' AS panel,
               COALESCE(o.inter, 0)::DOUBLE
                 / (a.n + b.n - COALESCE(o.inter, 0)) AS j
        FROM sizes a
        JOIN sizes b ON b.doc_id = a.doc_id + 1
        LEFT JOIN co o ON o.id_a = a.doc_id AND o.id_b = b.doc_id
        WHERE a.doc_id % {_SKETCH_STRIDE} = 0),
    pairs AS (
        SELECT * FROM cand
        UNION ALL
        SELECT * FROM samp WHERE ROUND(j, 6) < {_SKETCH_T}),
    hsrc AS (
        SELECT doc_id, j, md5(j::VARCHAR || ' ' || shingle) AS m
        FROM postings
        CROSS JOIN (SELECT unnest(range(0, {_SKETCH_SEEDS})) AS j)),
    sig AS (
        SELECT doc_id, i, MIN(h) AS h FROM (
            SELECT doc_id, 2 * j AS i,
                   ((('0x' || substr(m, 1, 16))::UBIGINT)
                    & {_SKETCH_MASK}::UBIGINT)::BIGINT AS h
            FROM hsrc
            UNION ALL
            SELECT doc_id, 2 * j + 1,
                   ((('0x' || substr(m, 17, 16))::UBIGINT)
                    & {_SKETCH_MASK}::UBIGINT)::BIGINT
            FROM hsrc)
        GROUP BY 1, 2),
    sigs AS (
        SELECT doc_id, list(h ORDER BY i) AS hs FROM sig GROUP BY doc_id),
    est AS (
        SELECT p.id_a, p.id_b, p.panel, p.j,
               len(list_filter(range(1, {_SKETCH_PERMS} + 1),
                               k -> sa.hs[k] = sb.hs[k]))::DOUBLE
                   / {_SKETCH_PERMS} AS e
        FROM pairs p
        JOIN sigs sa ON sa.doc_id = p.id_a
        JOIN sigs sb ON sb.doc_id = p.id_b)
    SELECT id_a, id_b, panel,
           ROUND(j, 6) AS jaccard,
           ROUND(e, 6) AS est_jaccard,
           ROUND(ABS(e - j), 6) AS abs_err
    FROM est
    """,
    staging=(
        "shingle_postings", "shingle_index", "shingle_sets",
        "minhash_signatures",
    ),
)
def q_sketch_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash SKETCH-QUALITY evaluation — the dedup counterpart of
    the ANN eval family (q_ann_recall/q_ann_ndcg/q_ann_mrr evaluate
    the served index; this evaluates the served SKETCH): per pair the
    16-permutation MinHash estimate next to the exact shingle-set
    Jaccard and their absolute error.  Two panels keep the eval honest
    across the range a sketch is actually used on: 'cand' = every true
    near-dup pair (exact PPJoin at Jaccard ≥ 0.6 — the bottom of the
    band an 8×2-banded LSH still collides in, the regime where an
    over-estimate merges distinct docs) and 'sample' = a deterministic
    1-in-29 stride of id-consecutive pairs (the low-similarity
    background where an under-estimate is invisible to LSH but an
    over-estimate creates false candidates).  This is the measurement
    that sizes n_hashes before trusting banded LSH over 100 TB —
    expected |error| scales as √(j(1−j)/n).

    Signatures come from the portable-md5 signature STAGING TABLE
    (_sig_relation, r16 — formerly computed inline per run, the
    dominant serve cost at 4.99 s driver median; the same table now
    also serves q_llm_dedup_minhash's banding): 8 seeded md5
    evaluations per shingle, each 128-bit digest split into TWO
    independent 64-bit permutation hashes, sign-masked to 63 bits so
    signed/unsigned MIN agree — the DuckDB oracle replays the SKETCH
    itself bit-for-bit, not just the exact leg.

    Scale shape: the signature aggregate runs once per corpus at
    staging build (16 mins per doc — the signature table an LSH stack
    maintains anyway); the candidate leg serves from the ranked
    prefix index UNCAPPED (ADVICE r15: the oracle enumerates
    candidates from uncapped postings, and the eval's domain is
    already bounded by the threshold — the plain prefix filter keeps
    it exact-and-bounded at every SF, so no stop-shingle cap that
    could diverge from the oracle on a boilerplate-heavy corpus;
    candidate volume grows ~(1−t)², which is why the floor sits at
    the LSH band edge rather than lower); both panels take |∩| as a
    set intersection over the staged shingle-set table
    (_shingle_set_relation), never re-expanding postings; the
    background panel pairs set rows by id-successor EQUI-join (no
    global sort) and prices linearly in the stride; the estimate join
    touches only pair-panel-sized relations."""
    docs = load_table(spark, sf_dir, "documents")
    sets = _shingle_set_relation(spark, sf_dir)
    sig = _sig_relation(spark, sf_dir)
    cand = (
        minhash.exact_jaccard_pairs(
            docs, threshold=_SKETCH_T - 0.01, k=3,
            postings=_shingle_relation(spark, sf_dir),
            ranked=_shingle_index_relation(spark, sf_dir), sets=sets,
        )
        .where(F.round(F.col("jaccard"), 6) >= _SKETCH_T)
        .select("id_a", "id_b", F.lit("cand").alias("panel"),
                F.col("jaccard").alias("j"))
    )
    # background panel straight off the set table: sizes and |∩| are
    # array functions of the two joined set rows
    a, b = sets.alias("a"), sets.alias("b")
    na, nb = F.size("a.sh"), F.size("b.sh")
    inter = F.size(F.array_intersect("a.sh", "b.sh"))
    samp_j = (
        a.join(b, F.col("b.id") == F.col("a.id") + 1)
        .where(F.col("a.id") % _SKETCH_STRIDE == 0)
        .select(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
            F.lit("sample").alias("panel"),
            (inter.cast("double") / (na + nb - inter)).alias("j"),
        )
        .where(F.round(F.col("j"), 6) < _SKETCH_T)
    )
    # NOT spread_keys-widened (r17): every probe task of the signature
    # attach joins deserializes the broadcast 17-column sig relation,
    # so widening the tail multiplied that fixed CPU — measured a small
    # net LOSS (interleaved A/B min 1.94 vs 1.89 s).  Its broadcast is
    # not this plan's largest: it and the two set-table broadcasts each
    # report 1,052,576 B at 500 docs, the hashed relation's allocated
    # capacity (a 1 MiB page plus a dense array over the ids), not the
    # rows shipped — the staged sig table is 87 KB.
    pairs = cand.unionByName(samp_j)
    sa = sig.select(F.col("id").alias("id_a"),
                    *[F.col(f"h{i}").alias(f"__a{i}")
                      for i in range(_SKETCH_PERMS)])
    sb = sig.select(F.col("id").alias("id_b"),
                    *[F.col(f"h{i}").alias(f"__b{i}")
                      for i in range(_SKETCH_PERMS)])
    matches = sum(
        F.when(F.col(f"__a{i}") == F.col(f"__b{i}"), 1).otherwise(0)
        for i in range(_SKETCH_PERMS)
    )
    est = matches.cast("double") / F.lit(float(_SKETCH_PERMS))
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a", "id_b", "panel",
            F.round(F.col("j"), 6).alias("jaccard"),
            F.round(est, 6).alias("est_jaccard"),
            F.round(F.abs(est - F.col("j")), 6).alias("abs_err"),
        )
    )


@register(
    "q_embed_quantize",
    oracle="""
    SELECT vec_id,
           ROUND(mn, 6) AS mn,
           ROUND(mx, 6) AS mx,
           CASE WHEN mx = mn THEN 0.0 ELSE
             ROUND(list_aggregate(list_transform(embedding, x ->
                 POWER(x::DOUBLE - (mn + ROUND((x::DOUBLE - mn) / sc) * sc),
                       2)), 'sum') / len(embedding), 12)
           END AS mse
    FROM (SELECT vec_id, embedding,
                 list_aggregate(embedding, 'min')::DOUBLE AS mn,
                 list_aggregate(embedding, 'max')::DOUBLE AS mx,
                 (list_aggregate(embedding, 'max')::DOUBLE
                  - list_aggregate(embedding, 'min')::DOUBLE) / 255.0 AS sc
          FROM embeddings)
    """,
)
def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector int8 scalar quantization audit: (min, max) range and
    the reconstruction MSE of round((x−min)/scale) 8-bit codes — the
    measurement that decides whether an embedding corpus can be stored
    and searched at 1/4 the bytes (the standard memory/IO lever for
    ANN at 100 TB).  Everything is per-row JVM array math: no shuffle
    at all.  The range subexpressions are re-inlined into the lambda by
    CollapseProject (the hazard documented in operators/similarity.py),
    making the kernel O(dim²) per row — acceptable for an audit query;
    an ingest pipeline would persist (mn, mx) as columns instead.

    Engine-invariance: both engines compute the identical double
    expression tree element-wise in list order (sequential fold, no
    reassociation), ties in ROUND break away from zero on both, and
    the MSE is rounded to 12 decimals (~5 guard digits above the 1e-7
    signal) so last-ulp jitter cannot flip the hash."""
    em = load_table(spark, sf_dir, "embeddings")
    v = similarity.as_double(F.col("embedding"))
    mn = F.array_min(v)
    mx = F.array_max(v)
    sc = (mx - mn) / 255.0
    err = F.transform(
        v, lambda x: F.pow(x - (mn + F.round((x - mn) / sc) * sc), F.lit(2))
    )
    mse = (
        F.aggregate(err, F.lit(0.0), lambda acc, x: acc + x)
        / F.size(F.col("embedding"))
    )
    return em.select(
        "vec_id",
        F.round(mn, 6).alias("mn"),
        F.round(mx, 6).alias("mx"),
        F.when(mx == mn, F.lit(0.0)).otherwise(F.round(mse, 12)).alias("mse"),
    )


# ----------------------------------------------------------- text analysis

_REDACT_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_REDACT_PHONE = "\\+?[0-9][0-9 ()-]{5,}[0-9]"


@register(
    "q_text_redact",
    # Same synthetic-PII construction on both sides (the fixture corpus
    # carries no natural PII, so the check would otherwise never
    # exercise the substitutions), then identical redaction passes.
    oracle=f"""
    WITH synth AS (
      SELECT doc_id, lang,
             concat(substr(text, 1, 80), ' reach user', doc_id,
                    '@ex-', lang, '.org or +1 415 ',
                    lpad((doc_id % 100000)::VARCHAR, 5, '0'),
                    ' now') AS raw
      FROM documents
    )
    SELECT doc_id,
           len(regexp_extract_all(raw, '{_REDACT_EMAIL}')) AS n_emails,
           len(regexp_extract_all(raw, '{_REDACT_PHONE}')) AS n_phones,
           regexp_replace(
             regexp_replace(raw, '{_REDACT_EMAIL}', '<EMAIL>', 'g'),
             '{_REDACT_PHONE}', '<PHONE>', 'g') AS redacted
    FROM synth
    """,
)
def q_text_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction — the scrub stage every training-data pipeline
    runs before anything else sees the text: emails then phone-shaped
    number runs replaced with typed placeholders, plus per-doc match
    counts for audit.  Pure JVM ``regexp_replace``/``regexp_count``
    (global substitution, single codegen'd pass per pattern) — at
    100 TB this is embarrassingly parallel map-side work with zero
    shuffles; patterns are deliberately RE2-compatible so the same
    expressions run on Spark (java.util.regex) and the DuckDB oracle
    (RE2) with identical semantics.  Email redaction runs FIRST so
    digit runs inside addresses are consumed before the phone pass."""
    docs = load_table(spark, sf_dir, "documents")
    # concat_ws, not concat: DuckDB's concat SKIPS null pieces where
    # Spark's concat null-propagates — a NULL text (or lang) would
    # null the whole synthetic row on this side only
    raw = F.concat_ws(
        "",
        F.substring("text", 1, 80),
        F.lit(" reach user"), F.col("doc_id").cast("string"),
        F.lit("@ex-"), F.col("lang"), F.lit(".org or +1 415 "),
        F.lpad((F.col("doc_id") % 100000).cast("string"), 5, "0"),
        F.lit(" now"),
    )
    synth = docs.select("doc_id", raw.alias("raw"))
    return synth.select(
        "doc_id",
        F.regexp_count("raw", F.lit(_REDACT_EMAIL))
        .cast("long").alias("n_emails"),
        F.regexp_count("raw", F.lit(_REDACT_PHONE))
        .cast("long").alias("n_phones"),
        F.regexp_replace(
            F.regexp_replace("raw", _REDACT_EMAIL, "<EMAIL>"),
            _REDACT_PHONE, "<PHONE>",
        ).alias("redacted"),
    )


@register(
    "q_text_entropy",
    # Counts are exact ints on both engines; p = c/n is an identical
    # double division; log2 is within 1 ulp on both; the ~30-term sum's
    # order jitter (~1e-14) is absorbed by ROUND(.,6).  The 0.0 - SUM
    # form (instead of unary minus) normalizes the single-distinct-char
    # edge to +0.0 on both engines (-0.0 would hash differently).
    oracle="""
    WITH ch AS (
      SELECT doc_id, ch, COUNT(*) AS c
      FROM (SELECT doc_id, UNNEST(string_split_regex(text, '')) AS ch
            FROM documents WHERE length(text) > 0)
      GROUP BY doc_id, ch),
    tot AS (SELECT doc_id, SUM(c) AS n FROM ch GROUP BY doc_id)
    SELECT doc_id, CAST(n AS BIGINT) AS n_chars,
           ROUND(0.0 - SUM((c::DOUBLE / n) * log2(c::DOUBLE / n)), 6)
               AS char_entropy
    FROM ch JOIN tot USING (doc_id)
    GROUP BY doc_id, n
    """,
)
def q_text_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy per document (bits/char) — the
    Gopher-style gibberish gate q_text_stats' token ratios miss:
    base64 blobs, repeated-char padding, and mojibake all sit at
    entropy extremes while passing length/TTR checks.

    Uses the identity H = log2(n) − (Σ c·log2 c)/n so the whole
    computation is TWO map-side-combined hash aggregations over narrow
    (doc_id, char) rows — per-(doc,char) count, then one per-doc sum.
    (A shuffle-free array-fold form was measured 6.4 s at sf0.1: the
    count-per-distinct-char filter is O(len·alphabet) interpreted
    per-element work; the exploded JVM hash-agg is ~20× cheaper and
    also handles unbounded alphabets.)  The single-distinct-char edge
    leaves a ±ulp-scale residual, not exact zero ((n·log2 n)/n ≠
    log2 n in doubles for many n) — +0.0 is restored by F.round's
    BigDecimal path, which cannot represent −0.0; the oracle's direct
    −Σ p·log2 p differs only by float-jitter ROUND(.,6) absorbs."""
    from level2_to_cassandra_spark.catalog import spread_scan

    # length > 0 on BOTH sides: the engines' char-splits disagree only
    # on the empty string (Spark [] drops the doc, DuckDB [''] keeps a
    # one-char row) — entropy of nothing is undefined, so neither
    # emits it, explicitly.
    docs = load_table(spark, sf_dir, "documents").where(
        F.length("text") > 0
    )
    cnt = (
        spread_scan(docs)
        .select("doc_id", F.explode(F.split("text", "")).alias("__ch"))
        .groupBy("doc_id", "__ch")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    n = F.sum("__c")
    s_clog = F.sum(F.col("__c").cast("double") * F.log2("__c"))
    return cnt.groupBy("doc_id").agg(
        n.cast("long").alias("n_chars"),
        F.round(F.log2(n) - s_clog / n, 6).alias("char_entropy"),
    )


@register(
    "q_text_stats",
    oracle="""
    SELECT doc_id, lang,
           len(string_split(text, ' ')) AS n_tokens,
           len(list_distinct(string_split(text, ' '))) AS n_unique,
           ROUND(len(list_distinct(string_split(text, ' ')))::DOUBLE
                 / len(string_split(text, ' ')), 6) AS ttr,
           ROUND(len(list_filter(string_split(text, ' '),
                                 t -> t IN ('a','the','of','and','is')))::DOUBLE
                 / len(string_split(text, ' ')), 6) AS stopword_ratio,
           ROUND((length(text) - len(string_split(text, ' ')) + 1)::DOUBLE
                 / len(string_split(text, ' ')), 6) AS avg_token_len,
           CASE WHEN len(string_split(text, ' ')) BETWEEN 20 AND 1000
                 AND len(list_distinct(string_split(text, ' ')))::DOUBLE
                     / len(string_split(text, ' ')) > 0.2
                THEN 1 ELSE 0 END AS quality_ok
    FROM documents
    """,
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality stats: token/unique counts, type-token
    ratio, stopword ratio, average token length, and a boolean quality
    gate (the C4-style length+diversity filter shape)."""
    docs = load_table(spark, sf_dir, "documents")
    n_tok = text.token_count("text")
    n_uni = text.distinct_token_count("text")
    ttr = n_uni.cast("double") / n_tok
    return docs.select(
        "doc_id",
        "lang",
        n_tok.cast("long").alias("n_tokens"),
        n_uni.cast("long").alias("n_unique"),
        F.round(ttr, 6).alias("ttr"),
        F.round(text.stopword_ratio("text"), 6).alias("stopword_ratio"),
        F.round(
            (F.length("text") - n_tok + 1).cast("double") / n_tok, 6
        ).alias("avg_token_len"),
        F.when(n_tok.between(20, 1000) & (ttr > 0.2), 1)
        .otherwise(0)
        .alias("quality_ok"),
    )


@register(
    "q_tokenizer_fertility",
    # Every sum is an exact integer on both engines, so the two ratio
    # outputs divide identical values — the rounding is pure
    # convention, not a parity mechanism.
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars,
           (ROUND(CAST(SUM(len(string_split(text, ' '))) AS DOUBLE)
                  / SUM(n_chars), 6) + 0.0) AS tokens_per_char,
           (ROUND(CAST(SUM(n_chars) AS DOUBLE)
                  / SUM(len(string_split(text, ' '))), 6) + 0.0)
               AS chars_per_token
    FROM documents
    GROUP BY lang
    """,
)
def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKENIZER FERTILITY per language: tokens-per-char and its
    inverse over each lang's corpus slice — the budgeting metric
    behind per-language token accounting (a tokenizer that is twice
    as fertile on one language doubles that language's effective
    epoch cost; multilingual data planning reads exactly this table
    before setting mixture weights).  Whitespace tokens stand in for
    the subword tokenizer, as everywhere in this module (the metric's
    shape — corpus-sliced token/char ratios — is the capability).

    Scale shape: token counts are map-side array-size math (no
    explode), one map-side-combined aggregate shuffles #langs rows —
    a single narrow corpus scan."""
    # NOT spread_scan-spread (r17): token_count is one split-size per
    # row — measured +64 % with the spread (shuffle-bound, not fold-
    # bound).
    docs = load_table(spark, sf_dir, "documents")
    agg = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(text.token_count("text")).cast("long").alias("n_tokens"),
        F.sum("n_chars").cast("long").alias("n_chars"),
    )
    return agg.select(
        "lang",
        "n_docs",
        "n_tokens",
        "n_chars",
        round_signless(
            F.col("n_tokens").cast("double") / F.col("n_chars"), 6
        ).alias("tokens_per_char"),
        round_signless(
            F.col("n_chars").cast("double") / F.col("n_tokens"), 6
        ).alias("chars_per_token"),
    )


@register(
    "q_quality_gopher",
    # All four raw metrics are exact integer arithmetic divided once
    # (counts, char counts); the gates compare the ROUNDED ratio
    # columns so a last-ulp division difference cannot flip a flag
    # (the q_anomaly_zscore stance).  The mean-word-length identity
    # (length − n_words + 1)/n_words is the same one q_text_stats
    # pins (single-space-separated fixture text).
    oracle="""
    WITH s AS (
        SELECT doc_id,
               len(string_split(text, ' ')) AS n_words,
               ROUND((length(text) - len(string_split(text, ' ')) + 1)
                     ::DOUBLE / len(string_split(text, ' ')), 6)
                   AS mean_word_len,
               ROUND(len(list_filter(string_split(text, ' '),
                                     t -> regexp_matches(t, '[a-z]')))
                     ::DOUBLE / len(string_split(text, ' ')), 6)
                   AS alpha_frac,
               ROUND(((length(text) - length(replace(text, '#', '')))
                      + (length(text) - length(replace(text, '…', ''))))
                     ::DOUBLE / len(string_split(text, ' ')), 6)
                   AS symbol_ratio
        FROM documents)
    SELECT doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           mean_word_len, alpha_frac, symbol_ratio,
           CASE WHEN n_words BETWEEN 50 AND 100000
                 AND mean_word_len BETWEEN 3 AND 10
                 AND alpha_frac >= 0.8
                 AND symbol_ratio <= 0.1
                THEN 1 ELSE 0 END AS pass_gopher
    FROM s
    """,
)
def q_quality_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GOPHER-STYLE document quality rules (Rae et al. 2021, the
    rule set behind MassiveText and most subsequent corpus filters) —
    the structural complement of q_text_stats' C4-style length/TTR
    gate: word-count bounds (50..100k), mean word length in [3, 10],
    ≥80 % of words containing an alphabetic character, and a
    symbol-to-word ratio ≤ 0.1 over '#' and '…' (the two symbols the
    paper names).  Emits the raw metrics AND the composite 1/0 gate so
    downstream curation can re-threshold without recomputation.

    Scale shape: every metric is per-row map-side expression work on
    the token array (no explode, no shuffle — the output is a pure
    projection of the scan); the alpha-word filter is one array HOF
    per row, bounded by document length.  At 100 TB this is the
    cheapest query shape there is: scan → project."""
    return gopher_stats(spread_scan(load_table(spark, sf_dir, "documents")))


#: gopher_stats' computed metric columns, in output order — the SINGLE
#: source of truth: the function's selects are built from these names,
#: and a set-equality check inside gopher_stats makes drift fail loud
#: in BOTH directions at plan-build time (a tuple name missing from
#: the expression dict would KeyError anyway; a dict metric missing
#: from this tuple would otherwise be SILENTLY dropped from the
#: output — review r15, third pass).  A ``keep`` passthrough may not
#: collide with these (or doc_id / pass_gopher): the output schema
#: would carry duplicate names and every downstream bare reference
#: would raise AMBIGUOUS_REFERENCE at runtime.
_GOPHER_METRIC_COLS = (
    "n_words", "mean_word_len", "alpha_frac", "symbol_ratio",
)
_GOPHER_STAT_COLS = ("doc_id", *_GOPHER_METRIC_COLS, "pass_gopher")


def gopher_stats(docs: DataFrame, keep: tuple[str, ...] = (),
                 toks_col: str | None = None) -> DataFrame:
    """The pure Gopher-rule transform behind q_quality_gopher: per-doc
    raw metrics + the composite pass_gopher bit, with ``keep``
    passthrough columns (the curate_flags discipline — the streaming
    quality gate keeps the original payload so admitted rows flow to
    the sink unchanged).  A NULL text yields NULL metrics and
    pass_gopher = 0 (the gate condition is NULL → ``otherwise(0)``),
    so pass/reject PARTITION any input: nothing drops, nothing lands
    twice.

    ``keep`` names colliding with the computed stat columns raise
    immediately (a scored-corpus payload that already carries e.g. an
    ``n_words`` column would otherwise produce a duplicate-name schema
    and an AMBIGUOUS_REFERENCE failure on the FIRST micro-batch of a
    streaming gate — fail at build time, with a message, instead).
    The comparison is CASEFOLDED: Spark resolves column names
    case-insensitively by default, so 'N_Words' collides with
    'n_words' just the same (review r15, second pass)."""
    clash = {k for k in keep
             if k.lower() in _GOPHER_STAT_COLS or k.lower() == "__toks"}
    if clash:
        raise ValueError(
            "gopher_stats keep columns collide with computed stat "
            f"columns: {sorted(clash)} — rename them upstream"
        )
    # token array STAGED in its own Project (r16): the metrics
    # reference it ~5× and the inline form replayed split(text) per
    # reference once the projection leaves whole-stage codegen.
    # ``toks_col`` lets a caller chaining several text transforms
    # (quality_votes) supply ONE staged array for the whole chain.
    if toks_col is None:
        docs = docs.withColumn("__toks", text.tokens("text"))
        toks_col = "__toks"
    toks = F.col(toks_col)
    n_words = F.size(toks)
    n_sym = (
        F.length("text") - F.length(F.replace(F.col("text"), F.lit("#")))
    ) + (
        F.length("text") - F.length(F.replace(F.col("text"), F.lit("…")))
    )
    metrics = {
        "n_words": n_words.cast("long"),
        "mean_word_len": F.round(
            (F.length("text") - n_words + 1).cast("double") / n_words, 6
        ),
        "alpha_frac": F.round(
            F.size(F.filter(toks, lambda w: w.rlike("[a-z]")))
            .cast("double") / n_words,
            6,
        ),
        "symbol_ratio": F.round(n_sym.cast("double") / n_words, 6),
    }
    if set(metrics) != set(_GOPHER_METRIC_COLS):
        raise ValueError(
            "gopher_stats metric dict and _GOPHER_METRIC_COLS diverged: "
            f"{sorted(set(metrics) ^ set(_GOPHER_METRIC_COLS))}"
        )
    s = docs.select(
        "doc_id",
        *[metrics[c].alias(c) for c in _GOPHER_METRIC_COLS],
        *keep,
    )
    return s.select(
        "doc_id",
        *_GOPHER_METRIC_COLS,
        F.when(
            F.col("n_words").between(50, 100000)
            & F.col("mean_word_len").between(3, 10)
            & (F.col("alpha_frac") >= 0.8)
            & (F.col("symbol_ratio") <= 0.1),
            1,
        ).otherwise(0).alias("pass_gopher"),
        *keep,
    )


def _langid_sql_parts() -> tuple[str, str, str]:
    """(score columns, best-score expr, argmax-lang expr) for the
    marker-vote language ID, in DuckDB SQL — shared by the langid
    oracle and the curation-funnel oracle so both stay in lockstep
    with ``text.LANG_MARKERS``."""
    score = {
        lang: (
            "len(list_intersect(list_distinct(string_split(text, ' ')), "
            f"[{', '.join(repr(m) for m in text.LANG_MARKERS[lang])}]))"
        )
        for lang in sorted(text.LANG_MARKERS)
    }
    cols = ",\n           ".join(
        f"{expr} AS s_{lang}" for lang, expr in score.items()
    )
    langs = sorted(text.LANG_MARKERS)
    # argmax with ascending-code tie order = strict > against best-so-far
    case = f"'{langs[0]}'"
    best = f"s_{langs[0]}"
    for lang in langs[1:]:
        case = f"CASE WHEN s_{lang} > {best} THEN '{lang}' ELSE {case} END"
        best = f"CASE WHEN s_{lang} > {best} THEN s_{lang} ELSE {best} END"
    return cols, best, case


def _langid_oracle() -> str:
    cols, best, case = _langid_sql_parts()
    return f"""
    WITH scored AS (
        SELECT doc_id, lang,
           {cols}
        FROM documents)
    SELECT doc_id, lang AS actual_lang,
           CASE WHEN {best} > 0 THEN {case} ELSE 'und' END AS predicted_lang
    FROM scored
    """


@register("q_text_langid", oracle=_langid_oracle())
def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-vocabulary language ID: votes = |distinct tokens ∩
    per-language markers|, argmax with deterministic ties.  The marker
    lists are tiny inline stand-ins for a real lexicon; the mechanism
    (broadcast match + vote argmax) is the scalable part.

    Plan shape (r16): the distinct-token array and the per-language
    scores are STAGED in their own Projects below the argmax fold —
    the fold's when-chain references every score O(|langs|) times, and
    inlined scoring replayed the tokenize+distinct+intersect per
    reference (87 split() instances in the q_langid_confusion plan →
    1 after staging; the projections stay scan-fused map-side work,
    so the scale shape is unchanged)."""
    # NOT spread_scan-spread (r17): the staged transform here is one
    # array_distinct(split) + map-side agg — measured +25 % with the
    # spread (the round-robin text shuffle costs more than the fold).
    docs = load_table(spark, sf_dir, "documents")
    staged = docs.select(
        "doc_id", "lang",
        F.array_distinct(text.tokens("text")).alias("__dt"),
    )
    scores = {
        lang: F.col(f"__ls_{lang}")
        for lang in text.LANG_MARKERS
    }
    scored = staged.select(
        "doc_id", "lang",
        *[
            s.alias(f"__ls_{lang}")
            for lang, s in sorted(
                text.lang_scores_of(F.col("__dt")).items()
            )
        ],
    )
    return scored.select(
        "doc_id",
        F.col("lang").alias("actual_lang"),
        text.predict_lang_from(scores).alias("predicted_lang"),
    )


def _langid_confusion_oracle() -> str:
    cols, best, case = _langid_sql_parts()
    return f"""
    WITH scored AS (
        SELECT doc_id, lang,
           {cols}
        FROM documents),
    pred AS (
        SELECT lang AS actual_lang,
               CASE WHEN {best} > 0 THEN {case} ELSE 'und' END
                   AS predicted_lang
        FROM scored),
    cells AS (
        SELECT actual_lang, predicted_lang, COUNT(*)::BIGINT AS n
        FROM pred GROUP BY 1, 2)
    SELECT actual_lang, predicted_lang, n,
           ROUND(n::DOUBLE / SUM(n) OVER (PARTITION BY predicted_lang), 6)
               AS "precision",
           ROUND(n::DOUBLE / SUM(n) OVER (PARTITION BY actual_lang), 6)
               AS recall
    FROM cells
    """


@register("q_langid_confusion", oracle=_langid_confusion_oracle())
def q_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID CONFUSION MATRIX — the evaluation step for the
    registered q_text_langid plan (the eval-a-registered-plan pattern
    of q_ann_recall / q_graph_modularity): per (actual, predicted)
    cell the document count, plus the cell's share of its predicted
    class (precision when actual = predicted) and of its actual class
    (recall on the diagonal).  This is the check run before TRUSTING
    a language classifier to route 100 TB into per-language pipelines
    — a systematic confusion (e.g. everything unmarked collapsing to
    'und') shows up as an off-diagonal hot cell.

    Integer counts end to end; the only floats are two ratios of
    exact integers, identical doubles on both engines before the
    ROUND.  Scale shape: the corpus collapses to |langs|²-bounded
    cells in ONE map-side-combined aggregate (predict_lang is scan
    fused); both windows then run over the tiny cell relation —
    nothing row-scale ever shuffles."""
    pred = q_text_langid(spark, sf_dir)
    cells = pred.groupBy("actual_lang", "predicted_lang").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    by_pred = Window.partitionBy("predicted_lang")
    by_actual = Window.partitionBy("actual_lang")
    return cells.select(
        "actual_lang",
        "predicted_lang",
        "n",
        F.round(
            F.col("n").cast("double") / F.sum("n").over(by_pred), 6
        ).alias("precision"),
        F.round(
            F.col("n").cast("double") / F.sum("n").over(by_actual), 6
        ).alias("recall"),
    )


def _curation_ctes() -> str:
    """The curation funnel as reusable DuckDB CTEs (``scored`` →
    ``flags``): shared by the q_curate_corpus oracle and the
    end-to-end q_corpus_pipeline oracle, which gates on the
    flags.admit-equivalent product before tokenizing."""
    cols, best, case = _langid_sql_parts()
    return f"""scored AS (
        SELECT doc_id, lang, text,
           {cols}
        FROM documents),
    flags AS (
        SELECT doc_id,
           (CASE WHEN len(string_split(text, ' ')) BETWEEN 20 AND 1000
                 AND len(list_distinct(string_split(text, ' ')))::DOUBLE
                     / len(string_split(text, ' ')) > 0.2
                THEN 1 ELSE 0 END)::BIGINT AS quality_ok,
           (CASE WHEN (CASE WHEN {best} > 0 THEN {case} ELSE 'und' END)
                     = lang THEN 1 ELSE 0 END)::BIGINT AS lang_match,
           (CASE WHEN COALESCE(
                    (len(g3) - len(list_distinct(g3)))
                    / CAST(NULLIF(len(g3), 0) AS DOUBLE), 0) <= 0.2
                THEN 1 ELSE 0 END)::BIGINT AS low_repetition,
           (CASE WHEN doc_id = MIN(doc_id) OVER (PARTITION BY text)
                THEN 1 ELSE 0 END)::BIGINT AS is_canonical
        FROM (
            SELECT *, list_transform(range(1, len(w) - 1),
                       i -> concat_ws(' ', w[i], w[i+1], w[i+2])) AS g3
            FROM (SELECT *, string_split(text, ' ') AS w FROM scored)
        ))"""


def _curation_oracle() -> str:
    return f"""
    WITH {_curation_ctes()}
    SELECT doc_id, quality_ok, lang_match, low_repetition, is_canonical,
           (quality_ok * lang_match * low_repetition * is_canonical)::BIGINT
               AS admit
    FROM flags
    """


@register("q_curate_corpus", oracle=_curation_oracle())
def q_curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CURATION FUNNEL, end to end in one DataFrame: every
    pre-training quality gate this engine implements, composed the way
    a corpus pipeline actually runs them — C4-style length+diversity
    (q_text_stats), language-ID agreement (q_text_langid), Gopher-style
    duplicated-trigram fraction (q_text_repetition), and exact-dup
    canonicalization (q_llm_dedup_exact) — emitting per-doc flag
    columns plus the final admit bit, so rejects are AUDITABLE by
    reason rather than silently dropped.

    Plan shape: all four flags except canonicality are map-side
    expressions fused into the single scan stage; canonicality adds
    the one shuffle the semantics require (hash window on sha2-256 of
    the content — fixed-width key).  One pass over the corpus total:
    at 100 TB this runs at scan speed plus one exchange."""
    return curate_flags(spread_scan(load_table(spark, sf_dir, "documents")))


def curate_flags(docs: DataFrame, keep: tuple[str, ...] = ()) -> DataFrame:
    """The pure curation-funnel transform behind q_curate_corpus:
    per-doc gate flags + admit bit, with ``keep`` passthrough columns
    (q_corpus_pipeline keeps ``text`` so it can gate-and-tokenize
    without re-joining the corpus).

    Plan shape (r16): the token / trigram / distinct-token arrays and
    the per-language scores are STAGED in their own Projects (aliased
    non-cheap expressions referenced more than once stay un-collapsed,
    so each array is built ONCE per row — the inline form replayed
    split(text) 119× per row in the q_curate_corpus plan, 1× after;
    measured 3× on the projection stage).  Only scalar metrics + text
    cross the canonicality exchange — the arrays never shuffle."""
    clash = {k for k in keep if k.lower().startswith("__")}
    if clash:
        raise ValueError(
            "curate_flags keep columns collide with staging columns: "
            f"{sorted(clash)} — rename them upstream"
        )
    arrs = docs.withColumn("__toks", text.tokens("text"))
    arrs = arrs.withColumn(
        "__g3", text.word_shingles_of(F.col("__toks"), 3)
    ).withColumn("__dt", F.array_distinct(F.col("__toks")))
    scalars = arrs.withColumn("__n_tok", F.size("__toks")).withColumn(
        "__nd_tok", F.size("__dt")
    ).withColumn("__n3", F.size("__g3")).withColumn(
        "__nd3", F.size(F.array_distinct("__g3"))
    )
    for lang, s in sorted(text.lang_scores_of(F.col("__dt")).items()):
        scalars = scalars.withColumn(f"__ls_{lang}", s)
    n_tok = F.col("__n_tok")
    ttr = F.col("__nd_tok").cast("double") / n_tok
    n3 = F.col("__n3")
    dup3 = F.when(n3 <= 0, F.lit(0.0)).otherwise(
        (n3 - F.col("__nd3")).cast("double") / n3
    )
    pred = text.predict_lang_from(
        {lang: F.col(f"__ls_{lang}") for lang in text.LANG_MARKERS}
    )
    w = Window.partitionBy(F.sha2(F.col("text"), 256)).orderBy("doc_id")
    flags = scalars.select(
        "doc_id",
        *keep,
        F.when(n_tok.between(20, 1000) & (ttr > 0.2), 1)
        .otherwise(0).cast("long").alias("quality_ok"),
        F.when(pred == F.col("lang"), 1)
        .otherwise(0).cast("long").alias("lang_match"),
        F.when(dup3 <= 0.2, 1).otherwise(0).cast("long")
        .alias("low_repetition"),
        F.when(F.row_number().over(w) == 1, 1).otherwise(0).cast("long")
        .alias("is_canonical"),
    )
    return flags.withColumn(
        "admit",
        F.col("quality_ok") * F.col("lang_match")
        * F.col("low_repetition") * F.col("is_canonical"),
    )


@staged("shingle_postings", bucket="id", sort=("id", "shingle"))
def _shingle_relation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus 3-gram shingle postings (id, shingle) staging table,
    built once per (session, sf_dir): the inverted shingle index the
    lexical dedup family shares (same tokenizer, same k=3, distinct
    per doc) — at corpus scale the postings table PPJoin/LSH stacks
    materialize before candidate generation.  Consumers pass it to the
    minhash.py pair operators as their ``postings`` input, and the
    ranked prefix index, the shingle-set table and the signature table
    are all built from it.

    Written as a BUCKETED table, doc-bucketed (``id``) and sorted
    (id, shingle): every postings scan gets bucket-count parallelism
    instead of the 2-4 packed splits of a small parquet dir, and the
    per-doc set aggregate over it needs no exchange."""
    return minhash.shingle_postings(load_table(spark, sf_dir, "documents"))


@staged("shingle_index", bucket="shingle", sort=("shingle",))
def _shingle_index_relation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus ranked prefix index (id, shingle, pos, n, df,
    min_df), built once per (session, sf_dir) from the shingle
    postings staging table — the standing prefix index the PPJoin
    literature maintains: its rarest-first window stack is the
    dominant candidate-generation cost of the prefix-filtered pair
    operators (~2 s at sf0.1 against a 0.23 s re-scan).  Consumers
    pass it to the pair operators as their ``ranked`` input, removing
    the window stack AND the per-call persist from every serve plan
    (both candidate-join branches replay a scan instead).

    r17: written as a BUCKETED table on ``shingle`` (sorted by it) —
    the PPJoin candidate generation is a self-join on the shingle, so
    both branches of that join read pre-partitioned, pre-sorted
    buckets: no exchange, no sort, scan parallelism = bucket count
    (the fuzzy-family candidate join previously paid 2 Exchange +
    2 Sort on shingle strings per query)."""
    return minhash.ranked_postings(_shingle_relation(spark, sf_dir))


@staged("shingle_sets", bucket="id", sort=("id",))
def _shingle_set_relation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus shingle-set table (id, sh = collect_list(shingle)),
    built once per (session, sf_dir) from the shingle postings staging
    table (operators/minhash.py::shingle_sets) — consumers pass it to
    the pair operators as their ``sets`` input.  Verification is then
    ``cand ⋈ sets on id_a ⋈ sets on id_b`` with |∩| =
    size(array_intersect(sa, sb)): two set rows per candidate instead
    of re-expanding both docs' postings, and a broadcast of one row
    per doc instead of an (id, shingle) string-keyed relation.

    Written as a BUCKETED table on ``id`` (sorted by it), like the
    postings: once the corpus outgrows the broadcast threshold both
    verify joins stay co-partitioned with it — no exchange on the set
    side (tests/test_plans.py pins this at simulated scale)."""
    return minhash.shingle_sets(_shingle_relation(spark, sf_dir))


@staged("doc_count")
def _doc_count(spark: SparkSession, sf_dir: str, path: str) -> int:
    """count(distinct doc_id) over the corpus, computed once per
    (session, sf_dir) beside the staging tables: the only input of the
    corpus-relative stop-shingle cap, a value fixed for the corpus that
    the operators' in-plan ``max_shingle_frac`` path recomputes on each
    side of the candidate self-join."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(F.count_distinct("doc_id")).first()[0]


def _shingle_cap(spark: SparkSession, sf_dir: str) -> int:
    """The stop-shingle cap max(50, ⌈0.01 · n_docs⌉) of the fuzzy
    dedup family, from the staged doc count — exactly the operators'
    in-plan ``max_shingle_frac=0.01`` cap (same default 50-df floor,
    same double product and ceil), passed as ``max_shingle_df`` so the
    serve plans carry it as a literal: no count(distinct) and no
    broadcast nested-loop attach of its one-row result."""
    return max(50, math.ceil(0.01 * _doc_count(spark, sf_dir)))


@staged("minhash_signatures")
def _sig_relation(spark: SparkSession, sf_dir: str, path: str):
    """The corpus MinHash signature staging table (id, h0..h15, n),
    built once per (session, sf_dir) from the shingle postings staging
    table with the engine-portable seeded-md5 permutation hashes
    (operators/minhash.py::portable_signatures — the q_sketch_error
    oracle replays the identical sketch in DuckDB).  Served to
    q_llm_dedup_minhash (banded LSH reads it on both join sides — a
    parquet scan replays per branch) and q_sketch_error (per-pair
    signature compare).  Before r16 both computed the 16-min signature
    aggregate inline per call (q_sketch_error's dominant serve cost);
    at corpus scale this IS the signature table an LSH stack maintains
    next to its postings."""
    posts = _shingle_relation(spark, sf_dir)
    minhash.portable_signatures(
        posts, n_seeds=_SKETCH_SEEDS
    ).write.mode("overwrite").parquet(path)


@staged("simhash_fp")
def _simhash_relation(spark: SparkSession, sf_dir: str, path: str):
    """The corpus SimHash fingerprint staging table (doc_id, fp),
    built once per (session, sf_dir) with the engine-portable md5
    token hash (operators/text.py::simhash_fingerprints — the
    q_llm_dedup_simhash oracle recomputes the identical fingerprints
    from raw text).  The same build/serve split as _sig_relation: the
    fingerprint index IS the artifact a simhash dedup stack maintains,
    and the banded candidate join reads it on both sides — a parquet
    scan replays per branch (16 bytes/doc), so the serve plan carries
    no Arrow vote pass and no persist."""
    text.simhash_fingerprints(
        load_table(spark, sf_dir, "documents"), "doc_id", "text",
        hasher="md5"
    ).write.mode("overwrite").parquet(path)


@staged("tf_postings")
def _tf_relation(spark: SparkSession, sf_dir: str, path: str):
    """The corpus (doc_id, term, tf) term-frequency staging table,
    built once per (session, sf_dir) — the postings table every lexical
    scorer in this module derives from; at corpus scale the
    inverted-index staging table a retrieval stack materializes once
    and probes forever.  Consumers read it through MULTIPLE plan
    branches (df aggregation + weight probe) — a parquet scan replays
    per branch for the cost of the read, where the previous per-query
    ``.persist()`` forms re-tokenized the corpus on every call."""
    docs = load_table(spark, sf_dir, "documents")
    toks = spread_scan(docs).select(
        "doc_id", F.explode(text.tokens("text")).alias("term")
    )
    toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf")
    ).write.mode("overwrite").parquet(path)


@register(
    "q_text_tfidf",
    oracle="""
    WITH tokens AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tokens GROUP BY 1, 2),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM tokens GROUP BY 1),
    df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tokens GROUP BY 1),
    n AS (SELECT COUNT(*) AS n FROM documents)
    SELECT doc_id, term,
           ROUND((tf::DOUBLE / dl) * LN(n::DOUBLE / df), 6) AS tfidf,
           rnk
    FROM (SELECT tf.doc_id, tf.term,
                 tf, dl, df, n,
                 ROW_NUMBER() OVER (
                     PARTITION BY tf.doc_id
                     ORDER BY ROUND((tf::DOUBLE / dl) * LN(n::DOUBLE / df), 6)
                              DESC, tf.term) AS rnk
          FROM tf JOIN dl USING (doc_id) JOIN df USING (term) CROSS JOIN n)
    WHERE rnk <= 3
    """,
    staging=("tf_postings",),
)
def q_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF: explode terms → tf per (doc, term), df per term, idf =
    ln(N/df); top-3 terms per doc ranked on the rounded score (ties by
    term).

    Dataflow: everything derives from the tf relation (one row per
    (doc, term)) — df is a row-count over tf grouped by term (tf is
    already distinct per doc, so countDistinct is unnecessary), and dl
    is sum(tf) as a window riding the SAME doc_id exchange the rank
    window needs anyway.  tf is the MATERIALIZED postings staging
    table (:func:`_tf_relation` — built once per (session, fixture),
    shared with q_text_more_like_this): it feeds both the join probe
    and the df aggregation, and a parquet scan replays per branch
    where the earlier per-query persist re-tokenized the corpus on
    every call.

    The per-term document-frequency relation is UNBOUNDED (one row per
    distinct term), so it joins with NO broadcast hint — AQE still
    broadcasts it at small SF, but at corpus scale it degrades to a
    shuffle join instead of OOMing the executors; a join (unlike a
    count-window over term) also keeps hot stopword terms splittable by
    AQE skew handling.  N stays in-plan as a broadcast crossJoin of a
    1-row aggregate (no separate driver job)."""
    docs = load_table(spark, sf_dir, "documents")
    tf = _tf_relation(spark, sf_dir)
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("__n_docs"))
    tfidf = F.round(
        (F.col("tf").cast("double") / F.col("dl"))
        * F.log(F.col("__n_docs").cast("double") / F.col("df")),
        6,
    )
    w_doc = Window.partitionBy("doc_id")
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n))
        .withColumn("dl", F.sum("tf").over(w_doc))
        .select("doc_id", "term", tfidf.alias("tfidf"))
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= 3)
    )


@staged("mlt_ranking")
def _mlt_ranking(spark: SparkSession, sf_dir: str, path: str):
    """The full more-like-this ranking — (query_id, neighbor_id, cos,
    rank) for the 5 query docs over ALL candidates sharing a top-8
    tf-idf term, rank deterministic on (rounded cos DESC,
    neighbor_id) — shared by q_text_more_like_this (cuts at 3) and
    q_rank_fusion's lexical leg (cuts at 20).  Served from a parquet
    staging table built once per (session, fixture) — one build for
    both consumers, bounded on disk (5 query docs x their
    term-sharing candidates), where per-call ``.persist()`` leaked one
    cached relation per invocation (ADVICE r13 #3); see
    q_text_more_like_this for the scoring spec and scale shape."""
    ranked, top8 = _mlt_ranking_plan(spark, sf_dir)
    try:
        ranked.write.mode("overwrite").parquet(path)
    finally:
        top8.unpersist()


def _mlt_ranking_plan(spark: SparkSession, sf_dir: str):
    """The one-shot build plan behind :func:`_mlt_ranking` (tf-idf
    top-8 term pruning, query-side inverted-index probe, cosine over
    pruned vectors).  Returns ``(ranked, top8)`` — top8 is persisted
    for the build's three branches and the caller unpersists it once
    the staging write completes."""
    docs = load_table(spark, sf_dir, "documents")
    tf = _tf_relation(spark, sf_dir)
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("__n_docs"))
    w_doc = Window.partitionBy("doc_id")
    weight = F.round(
        (F.col("tf").cast("double") / F.col("dl"))
        * F.log(F.col("__n_docs").cast("double") / F.col("df")),
        6,
    )
    w_rank = Window.partitionBy("doc_id").orderBy(F.desc("w"), F.asc("term"))
    top8 = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n))
        .withColumn("dl", F.sum("tf").over(w_doc))
        .select("doc_id", "term", weight.alias("w"))
        .withColumn("rk", F.row_number().over(w_rank))
        .where(F.col("rk") <= 8)
        .select("doc_id", "term", "w")
        .persist()
    )
    nrm = top8.groupBy("doc_id").agg(
        F.round(F.sqrt(F.sum(F.col("w") * F.col("w"))), 6).alias("nr")
    )
    q = top8.where(F.col("doc_id") < 5).select(
        F.col("doc_id").alias("query_id"), "term", F.col("w").alias("wq")
    )
    dots = (
        F.broadcast(q)
        .join(
            top8.select(F.col("doc_id").alias("neighbor_id"), "term",
                        F.col("w").alias("wc")),
            "term",
        )
        .where(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum(F.col("wq") * F.col("wc")).alias("dot"))
    )
    scored = (
        dots.join(
            nrm.select(F.col("doc_id").alias("query_id"),
                       F.col("nr").alias("nq")), "query_id")
        .join(
            nrm.select(F.col("doc_id").alias("neighbor_id"),
                       F.col("nr").alias("nc")), "neighbor_id")
        .select(
            "query_id", "neighbor_id",
            F.round(F.col("dot") / (F.col("nq") * F.col("nc")), 4)
            .alias("cos"),
        )
    )
    w_top = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("neighbor_id")
    )
    ranked = scored.withColumn(
        "rank", F.row_number().over(w_top).cast("long")
    )
    return ranked, top8


@register(
    "q_text_more_like_this",
    # Weights/top-8 pruning/norms replicated exactly; candidates are
    # ALL corpus docs sharing a top-8 term with the query doc (the
    # query side is 5 docs, so the inverted-index probe is bounded by
    # the query postings, never corpus²).
    oracle="""
    WITH tokens AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tokens GROUP BY 1, 2),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM tokens GROUP BY 1),
    df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tokens GROUP BY 1),
    n AS (SELECT COUNT(*) AS n FROM documents),
    w AS (SELECT tf.doc_id, tf.term,
                 ROUND((tf::DOUBLE / dl) * LN(n::DOUBLE / df), 6) AS w
          FROM tf JOIN dl USING (doc_id) JOIN df USING (term) CROSS JOIN n),
    top8 AS (SELECT doc_id, term, w FROM (
               SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                            ORDER BY w DESC, term) AS rk
               FROM w)
             WHERE rk <= 8),
    nrm AS (SELECT doc_id, ROUND(SQRT(SUM(w * w)), 6) AS nr
            FROM top8 GROUP BY 1),
    dots AS (
        SELECT q.doc_id AS query_id, c.doc_id AS neighbor_id,
               SUM(q.w * c.w) AS dot
        FROM top8 q JOIN top8 c
          ON q.term = c.term AND q.doc_id < 5 AND c.doc_id <> q.doc_id
        GROUP BY 1, 2),
    scored AS (
        SELECT query_id, neighbor_id,
               ROUND(dot / (nq.nr * nc.nr), 4) AS cos
        FROM dots
        JOIN nrm nq ON nq.doc_id = query_id
        JOIN nrm nc ON nc.doc_id = neighbor_id)
    SELECT query_id, neighbor_id, cos, rank FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, neighbor_id) AS rank
        FROM scored)
    WHERE rank <= 3
    """,
    staging=("tf_postings", "mlt_ranking"),
)
def q_text_more_like_this(spark: SparkSession, sf_dir: str) -> DataFrame:
    """More-like-this: for each of 5 query documents, the top-3 most
    similar corpus documents by SPARSE tf-idf cosine over each doc's
    top-8 terms — the lexical doc-to-doc retrieval that complements
    q_bm25 (query TERMS → docs) and the dense q_sim_topk (embedding
    cosine).  Pruning each vector to its top-8 tf-idf terms is the
    standard more-like-this move (Lucene's MLT does exactly this):
    it bounds every doc's postings at k rows regardless of length.

    Scale shape: the QUERY side is tiny (5 docs ⇒ ≤ 40 postings) and
    joins the corpus postings on term — the probe touches only
    corpus postings whose term appears in a query vector, so the
    work is (query postings) × (per-term df), never corpus²; tf is
    the SAME materialized postings staging table q_text_tfidf serves
    from (:func:`_tf_relation`), and top8 (derived, feeds the query
    probe, the corpus side and both norm lookups) stays persisted.
    Same machinery as q_text_tfidf (shared tokenizer, weights rounded
    at 6 so both engines sum identical value sets; cosine rounded at 4
    on top of norm-6).  The ranking itself lives in
    :func:`_mlt_ranking`, shared with q_rank_fusion's lexical leg."""
    return _mlt_ranking(spark, sf_dir).where(F.col("rank") <= 3)


#: Reciprocal-rank-fusion constant (Cormack et al. 2009's k=60) and
#: the per-leg candidate depth — part of the query SPEC.
_RRF_K = 60
_RRF_DEPTH = 20


@register(
    "q_rank_fusion",
    # The lexical CTEs are q_text_more_like_this's oracle verbatim
    # (same weights/top-8/norms), the vector CTEs q_sim_topk's; both
    # legs rank on their ROUNDED score with neighbor_id tiebreak, so
    # the rank lists — and therefore the fused scores — are
    # cross-engine deterministic.  The RRF sum is two fixed-order
    # terms of 1/(60+rank) (exact integer denominators), rounded with
    # the FLOOR half-up form for the final ordering and output.
    oracle=f"""
    WITH tokens AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tokens GROUP BY 1, 2),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM tokens GROUP BY 1),
    df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tokens GROUP BY 1),
    n AS (SELECT COUNT(*) AS n FROM documents),
    w AS (SELECT tf.doc_id, tf.term,
                 ROUND((tf::DOUBLE / dl) * LN(n::DOUBLE / df), 6) AS w
          FROM tf JOIN dl USING (doc_id) JOIN df USING (term) CROSS JOIN n),
    top8 AS (SELECT doc_id, term, w FROM (
               SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                            ORDER BY w DESC, term) AS rk
               FROM w)
             WHERE rk <= 8),
    nrm AS (SELECT doc_id, ROUND(SQRT(SUM(w * w)), 6) AS nr
            FROM top8 GROUP BY 1),
    dots AS (
        SELECT q.doc_id AS query_id, c.doc_id AS neighbor_id,
               SUM(q.w * c.w) AS dot
        FROM top8 q JOIN top8 c
          ON q.term = c.term AND q.doc_id < 5 AND c.doc_id <> q.doc_id
        GROUP BY 1, 2),
    lex AS (
        SELECT query_id, neighbor_id, rank AS lex_rank FROM (
            SELECT query_id, neighbor_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY query_id
                       ORDER BY ROUND(dot / (nq.nr * nc.nr), 4) DESC,
                                neighbor_id) AS rank
            FROM dots
            JOIN nrm nq ON nq.doc_id = query_id
            JOIN nrm nc ON nc.doc_id = neighbor_id)
        WHERE rank <= {_RRF_DEPTH}),
    vq AS (SELECT vec_id AS query_id,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
           FROM embeddings WHERE vec_id < 5),
    vec AS (
        SELECT query_id, neighbor_id, rank AS vec_rank FROM (
            SELECT query_id, neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cos DESC, neighbor_id) AS rank
            FROM (SELECT q.query_id, e.vec_id AS neighbor_id,
                         ROUND(list_cosine_similarity(
                             list_transform(e.embedding,
                                            x -> CAST(x AS DOUBLE)), qv), 4)
                             AS cos
                  FROM embeddings e CROSS JOIN vq q
                  WHERE e.vec_id <> q.query_id))
        WHERE rank <= {_RRF_DEPTH}),
    fused AS (
        SELECT COALESCE(l.query_id, v.query_id) AS query_id,
               COALESCE(l.neighbor_id, v.neighbor_id) AS neighbor_id,
               CAST(l.lex_rank AS BIGINT) AS lex_rank,
               CAST(v.vec_rank AS BIGINT) AS vec_rank,
               COALESCE(1.0 / ({_RRF_K} + l.lex_rank), 0.0)
               + COALESCE(1.0 / ({_RRF_K} + v.vec_rank), 0.0) AS rrf
        FROM lex l FULL OUTER JOIN vec v
          ON l.query_id = v.query_id AND l.neighbor_id = v.neighbor_id)
    SELECT query_id, neighbor_id, lex_rank, vec_rank,
           {{rrf_rounded}} AS rrf,
           CAST(fused_rank AS BIGINT) AS fused_rank
    FROM (SELECT *, ROW_NUMBER() OVER (
              PARTITION BY query_id
              ORDER BY {{rrf_rounded_raw}} DESC, neighbor_id) AS fused_rank
          FROM fused)
    WHERE fused_rank <= 10
    """.format(
        rrf_rounded=round_half_up_sql("rrf", 6),
        rrf_rounded_raw=round_half_up_sql("rrf", 6),
    ),
    staging=("tf_postings", "mlt_ranking"),
)
def q_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID RETRIEVAL via reciprocal-rank fusion (Cormack et al.
    2009): for each of the 5 query documents, fuse the LEXICAL
    more-like-this ranking (sparse tf-idf cosine, :func:`_mlt_ranking`
    — shared verbatim with q_text_more_like_this) with the DENSE
    embedding ranking (brute cosine, q_sim_topk's operator) at depth
    20 per leg (_RRF_DEPTH), score = Σ_legs 1/(60+rank) (_RRF_K),
    keep the fused top-10 — the standard hybrid-search shape every
    modern retrieval stack (BM25+vector) runs, and the missing
    combinator between this module's independent lexical and dense
    rankers.

    Determinism: each leg ranks on its ROUNDED score with
    neighbor_id tiebreak (both legs' conventions are individually
    hash-verified queries), the RRF sum is two fixed-order terms with
    exact integer denominators, and the fused ordering uses the FLOOR
    half-up rounded score — bit-identical in any IEEE engine.

    Scale shape: both legs are already bounded (query side 5 docs,
    broadcast; candidate generation probe-sized, never corpus²); the
    fusion itself is a full-outer join of two ≤(5·20)-row
    relations and a window over ≤200 rows — free at any corpus size.
    A leg list missing a doc contributes 0 to its RRF term (COALESCE,
    not inner join): fusion must not require membership in BOTH lists
    (that asymmetry is RRF's entire point)."""
    lex = _mlt_ranking(spark, sf_dir).where(
        F.col("rank") <= _RRF_DEPTH
    ).select("query_id", "neighbor_id", F.col("rank").alias("lex_rank"))
    em = load_table(spark, sf_dir, "embeddings")
    queries = em.where(F.col("vec_id") < 5)
    vec = similarity.brute_topk(em, queries, k=_RRF_DEPTH, round_cos=4).select(
        "query_id", "neighbor_id", F.col("rank").cast("long").alias("vec_rank")
    )
    fused = lex.join(vec, ["query_id", "neighbor_id"], "full_outer")
    rrf_raw = (
        F.coalesce(F.lit(1.0) / (F.lit(_RRF_K) + F.col("lex_rank")),
                   F.lit(0.0))
        + F.coalesce(F.lit(1.0) / (F.lit(_RRF_K) + F.col("vec_rank")),
                     F.lit(0.0))
    )
    rrf = round_half_up(rrf_raw, 6)
    w = Window.partitionBy("query_id").orderBy(
        F.desc(rrf), F.asc("neighbor_id")
    )
    return (
        fused.withColumn("rrf", rrf)
        .withColumn("fused_rank", F.row_number().over(w).cast("long"))
        .where(F.col("fused_rank") <= 10)
        .select("query_id", "neighbor_id", "lex_rank", "vec_rank",
                "rrf", "fused_rank")
    )


# Covariance CTE block shared by the q_embed_covariance and
# q_embed_pca oracles: admitted vectors (non-NULL, len 64, no NULL
# elements — the exact filter the Spark side applies before the Gram
# kernel), upper-triangle cells with the covariance rounded
# SIGN-NORMALIZED at 6 (r11 driver failure: DuckDB ROUND preserves
# IEEE sign and emitted -0.0 for a ≈-3e-8 cell; Spark round is
# BigDecimal HALF_UP, which has no signed zero — numerically equal,
# hash-distinct).  Exact-arithmetic shape on both sides: integer
# count, double sums combined in the SAME operation order (SUM/COUNT,
# then the mean-product subtraction).
_COV_CTES = f"""p AS (SELECT UNNEST(range(0, 64)) AS i),
    v AS (SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
          FROM embeddings
          WHERE embedding IS NOT NULL AND len(embedding) = 64
            AND len(list_filter(embedding, x -> x IS NULL)) = 0
            AND len(list_filter(embedding, x -> isnan(x) OR isinf(x))) = 0),
    pr AS (SELECT a.i AS i, b.i AS j FROM p a JOIN p b ON a.i <= b.i),
    cells AS MATERIALIZED (
        SELECT i, j,
               {round_signless_sql(
                   '''SUM(ve[i + 1] * ve[j + 1]) / COUNT(*)
                     - (SUM(ve[i + 1]) / COUNT(*))
                       * (SUM(ve[j + 1]) / COUNT(*))''', 6)} AS cov,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM v CROSS JOIN pr
        GROUP BY i, j)"""


@register(
    "q_embed_covariance",
    oracle=f"""
    WITH {_COV_CTES}
    SELECT i, j, cov, n FROM cells
    """,
)
def q_embed_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORPUS COVARIANCE of the embedding space — the moment matrix
    behind PCA / whitening / ZCA and the drift diagnostics that watch
    eigen-spectrum shifts; the statistic every embedding-curation
    pipeline computes before deciding how many components carry
    signal.  Output: upper-triangle (i, j, cov, n) — dim·(dim+1)/2 =
    2080 scalar rows, every entry hash-verified.

    Scale shape — the map-side moment reduction
    (operators/similarity.py::gram_partials): each Arrow batch
    collapses to O(dim²) partial-sum rows via ONE numpy matrix
    product, so the corpus is read once with zero shuffles and the
    only aggregate runs over (#tasks · 2080) partial rows, not N·dim²
    exploded elements (a double-posexplode form amplifies each vector
    4096× before the shuffle — that is the plan this kernel exists to
    avoid).  The final covariance assembly is arithmetic over the
    2080-row aggregate: free at any corpus size.  The 64×64 result is
    driver-sized forever; downstream eigendecomposition is a local
    O(dim³) step, not a distributed one (q_embed_pca runs exactly
    that step on these cells)."""
    return _cov_cells(spark, sf_dir)


def _admitted_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectors admitted to the moment computations, per the single
    shared admission rule (operators/similarity.py::admit_predicate):
    non-NULL, correct length, no NULL elements, and no NON-FINITE
    elements.  The NULL-element leg is mirrored in _COV_CTES'
    list_filter (Arrow hands a NULL element to the Gram kernel as
    NaN, which would poison the global sums while DuckDB's SUM
    silently skips the NULL product, ADVICE r11); the finiteness leg
    (r12) excludes stored NaN/Inf identically on both engine sides
    (``isnan(x) OR isinf(x)`` in the oracle CTEs) — see
    admit_predicate's docstring for why each leg exists."""
    return load_table(spark, sf_dir, "embeddings").where(
        similarity.admit_predicate(64)
    )


def _cov_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle covariance cells ``(i, j, cov, n)`` — the Spark
    twin of the oracle's ``cells`` CTE (_COV_CTES), shared by
    q_embed_covariance (returns them) and q_embed_pca (collects the
    driver-sized 2080 rows and iterates)."""
    em = _admitted_embeddings(spark, sf_dir)
    parts = similarity.gram_partials(em, dim=64)
    agg = parts.groupBy("i", "j").agg(
        F.sum("sxy").alias("sxy"),
        F.sum("sxi").alias("sxi"),
        F.sum("syj").alias("syj"),
        F.sum("cnt").alias("n"),
    )
    nd = F.col("n").cast("double")
    cov = round_signless(
        F.col("sxy") / nd - (F.col("sxi") / nd) * (F.col("syj") / nd), 6
    )
    return agg.select(
        "i", "j", cov.alias("cov"), F.col("n").cast("long").alias("n")
    )


#: Fixed power-iteration count for q_embed_pca — part of the query's
#: SPEC, not a convergence knob: both engines run exactly this many
#: rounded iterations, so the result is deterministic even before the
#: iteration has numerically converged.  64 covers the fixture's
#: near-isotropic spectrum (λ2/λ1 ≈ 0.93 → 0.93⁶⁴ ≈ 0.01 residual —
#: measured 0.44 % eigenvalue / 0.989 direction-cosine at K=40,
#: 0.06 % / >0.999 at K=64 against numpy eigh); extra
#: iterations cost O(dim²) driver arithmetic + 3 tiny SQL CTEs each
#: and CANNOT introduce cross-engine divergence (every iterate is
#: bit-identical on both sides by construction).
_PCA_ITERS = 64


def _pca_oracle() -> str:
    """The q_embed_pca oracle: the SAME rounded power iteration the
    Spark side runs, unrolled as SQL CTEs over the shared covariance
    cells (_COV_CTES).  Every step is engine-exact by construction:

    * the iteration matrix is the ROUNDED covariance — bit-identical
      across engines by q_embed_covariance's own verified parity;
    * the matvec is ``list_dot_product`` over j-ordered rows, which is
      a sequential left fold in DuckDB — bit-identical to the Spark
      driver's sequential Python fold and to F.aggregate's fold
      (verified property: 200-trial bit-exactness in
      test_pca_fold_parity_* / the r12 prototype);
    * normalization divides by MAX(ABS(w)) (exact on identical
      doubles) and re-rounds via the FLOOR half-up form
      (round_half_up_sql), the cross-engine-deterministic rounding —
      so each iterate is bit-identical on both sides, and divergence
      cannot compound."""
    steps = []
    prev = "v0"
    for k in range(1, _PCA_ITERS + 1):
        steps.append(f"""w{k} AS MATERIALIZED (
        SELECT i, list_dot_product(row, (SELECT v FROM {prev})) AS w
        FROM cmat),
    m{k} AS MATERIALIZED (
        SELECT COALESCE(NULLIF(MAX(ABS(w)), 0.0), 1.0) AS m FROM w{k}),
    v{k} AS MATERIALIZED (
        SELECT list({round_half_up_sql('w / m', 6)} ORDER BY i) AS v
        FROM w{k}, m{k})""")
        prev = f"v{k}"
    chain = ",\n    ".join(steps)
    return f"""
    WITH {_COV_CTES},
    sym AS MATERIALIZED (
        SELECT i, j, cov FROM cells
        UNION ALL
        SELECT j AS i, i AS j, cov FROM cells WHERE i <> j),
    cmat AS MATERIALIZED (
        SELECT i, list(cov ORDER BY j) AS row FROM sym GROUP BY i),
    v0 AS MATERIALIZED (SELECT list_transform(range(0, 64), x -> 1.0) AS v),
    {chain}
    SELECT vec_id,
           {round_half_up_sql(
               f'list_dot_product(ve, (SELECT v FROM v{_PCA_ITERS}))',
               6)} AS pc1,
           (SELECT {round_half_up_sql('m', 6)}
            FROM m{_PCA_ITERS}) AS lambda1
    FROM v
    """


@register("q_embed_pca", oracle=_pca_oracle())
def q_embed_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOP PRINCIPAL COMPONENT of the embedding space, end to end:
    distributed covariance (the q_embed_covariance moment reduction) →
    driver-side rounded power iteration on the 64×64 matrix → the
    corpus PROJECTED onto the dominant direction.  Output: one row per
    admitted vector ``(vec_id, pc1, lambda1)`` — pc1 is the vector's
    score along the component (what SemDeDup-style curation buckets
    on, what whitening subtracts first, the 1-D shadow a curator
    plots), lambda1 the dominant-eigenvalue estimate (the component's
    variance share numerator in an eigen-spectrum drift check).  Every
    row hash-verified against a DuckDB replay of the identical
    iteration.

    DETERMINISM ACROSS ENGINES is the interesting part: eigensolvers
    are iterative float code, normally the LAST thing an exact oracle
    can check.  This query makes it exact by (a) iterating on the
    ROUNDED covariance cells (bit-identical across engines by
    q_embed_covariance's verified parity), (b) folding the matvec
    SEQUENTIALLY in j order on both sides (Python left fold here;
    list_dot_product — a sequential fold — in DuckDB; F.aggregate's
    fold for the corpus projection: all three verified bit-identical),
    and (c) re-rounding every iterate with the FLOOR half-up form
    (functions.round_half_up), the cross-engine-deterministic
    rounding.  _PCA_ITERS is part of the spec: both engines run
    exactly that many steps, so the result is well-defined even where
    convergence would be slow.

    Scale shape: the corpus is read TWICE and only twice (once for the
    Gram partials, once for the projection), both map-side passes with
    zero row-scale shuffles; the 2080-cell collect is the documented
    bounded-collect pattern (kmeans centroids discipline) and the
    O(K·dim²) iteration is driver arithmetic — at 100 TB the cost is
    two scans, independent of dim³ solver numerics.  The projection
    broadcasts 64 literal doubles into a codegen'd fold — no join, no
    shuffle."""
    import math

    cells = _cov_cells(spark, sf_dir).select("i", "j", "cov").collect()
    dim = 64
    C = [[0.0] * dim for _ in range(dim)]
    for r in cells:
        C[r.i][r.j] = C[r.j][r.i] = r.cov
    v = [1.0] * dim
    lam = 1.0
    p = float(10**6)
    for _ in range(_PCA_ITERS):
        w = []
        for i in range(dim):
            acc = 0.0
            for j in range(dim):
                acc = acc + C[i][j] * v[j]
            w.append(acc)
        m = max(abs(x) for x in w)
        if m == 0.0:
            m = 1.0
        v = [math.floor(x / m * p + 0.5) / p for x in w]
        lam = m
    lam_r = math.floor(lam * p + 0.5) / p

    em = _admitted_embeddings(spark, sf_dir)
    dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    lit_v = F.array(*[F.lit(float(x)) for x in v])
    score = F.aggregate(
        F.zip_with(dbl, lit_v, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return em.select(
        "vec_id",
        round_half_up(score, 6).alias("pc1"),
        F.lit(lam_r).alias("lambda1"),
    )


_CONTAINMENT_THRESHOLD = 0.8


@register(
    "q_text_containment",
    oracle=f"""
    WITH postings AS (
        SELECT DISTINCT doc_id, concat_ws(' ', w[i], w[i+1], w[i+2]) AS shingle
        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             LATERAL (SELECT unnest(range(1, len(w) - 1)) AS i)
        WHERE len(w) >= 3),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM postings GROUP BY doc_id),
    co AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
        FROM postings a JOIN postings b ON a.shingle = b.shingle
        WHERE a.doc_id <> b.doc_id
        GROUP BY 1, 2)
    SELECT id_a AS inner_id, id_b AS outer_id,
           ROUND(inter::DOUBLE / sa.n, 6) AS containment
    FROM co JOIN sizes sa ON sa.doc_id = id_a
    WHERE ROUND(inter::DOUBLE / sa.n, 6) >= {_CONTAINMENT_THRESHOLD}
    """,
    staging=("shingle_postings", "shingle_index", "shingle_sets", "doc_count"),
)
def q_text_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC shingle CONTAINMENT pairs: C(a→b) = |Sa∩Sb| / |Sa| ≥
    {_CONTAINMENT_THRESHOLD} — the doc-inside-doc detector symmetric
    Jaccard dedup is blind to (a quote, a syndicated article inside a
    longer page, a subset document: J shrinks with the CONTAINER's
    size, containment does not), the third member of the lexical dedup
    family after q_llm_dedup_fuzzy (symmetric) and q_text_span_dedup
    (span-level).

    Scale shape — the ASYMMETRIC PREFIX FILTER
    (operators/minhash.py::containment_pairs): only each doc's
    ⌊(1−t)·n⌋+1 rarest shingles enter the candidate index on the
    CONTAINED side, joined against full postings on the container
    side (lossless — a qualifying pair's overlap cannot fit in the
    inner doc's suffix), with inline container-size and PPJoin-style
    positional bounds cutting candidates before the distinct;
    verification intersects the two docs' full shingle sets (the
    staged set table) so the result is EXACT.  The stop-shingle cap
    (corpus-relative from the staged doc count, inert on the fixture
    by the 50-df floor — the q_llm_dedup_fuzzy discipline) bounds
    every prefix bucket at web scale.  Operator threshold 0.79 < the
    query's rounded 0.8 cut keeps the prefix filter lossless for every
    pair the oracle can emit (the fuzzy-dedup boundary trick).

    Measured trade (sf0.1): the prefix form generates 183 k candidates
    vs the all-pairs co-count's 1.13 M grouped pairs, but ran ~4.5 s
    vs ~2.0 s when verification re-expanded both docs' postings per
    candidate — the fixture's fixed vocabulary makes every shingle
    common.  Verification now reads two rows of the staged
    shingle-set table per candidate and intersects them: median serve
    0.79–0.83 s at sf0.1 on 4 cores, staging tables built.  The
    fixture is the pathological case: on a real corpus the vocabulary
    grows with the data, prefixes are near-unique, candidates track
    true pairs, and the all-pairs form is the one that dies (Σ df²
    → N² as df grows linearly under a fixed vocab) — the same
    trade q_llm_dedup_fuzzy documents for exact PPJoin."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash.containment_pairs(
        docs, threshold=0.79, k=3,
        max_shingle_df=_shingle_cap(spark, sf_dir),
        postings=_shingle_relation(spark, sf_dir),
        ranked=_shingle_index_relation(spark, sf_dir),
        sets=_shingle_set_relation(spark, sf_dir),
    )
    c = F.round(F.col("containment"), 6)
    return pairs.select(
        "inner_id", "outer_id", c.alias("containment")
    ).where(c >= _CONTAINMENT_THRESHOLD)


@register(
    "q_agg_vector_mean",
    # Per-dimension scalar rows (label, pos, mean_x), not an array
    # column: the driver's pandas canonicalization cannot hash
    # top-level arrays, and the exploded form is ALSO the scale shape.
    oracle="""
    WITH p AS (SELECT UNNEST(range(0, 64)) AS pos)
    SELECT label, pos,
           ROUND(AVG(CAST(embedding[pos + 1] AS DOUBLE)), 6) AS mean_x,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM embeddings CROSS JOIN p
    GROUP BY label, pos
    """,
)
def q_agg_vector_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding CENTROIDS (class prototypes / the k-means
    update step / embedding averaging for retrieval) as posexplode +
    one (label, pos) hash aggregate — the dense-vector aggregation
    shape that scales: per-dimension rows ride normal map-side
    partial aggregation through ONE shuffle of #labels × dim cells,
    where an array-typed ``F.aggregate`` zip-fold would run
    interpreted per element and a collect-then-average would move
    whole vectors to one reducer per label.  Means are rounded at 6
    on both engines so summation-order jitter cannot flip the hash;
    dim=64 is pinned to the fixture (same contract as
    q_llm_dedup_embed's planes)."""
    em = load_table(spark, sf_dir, "embeddings")
    return (
        em.select(
            "label", F.posexplode("embedding").alias("pos", "x")
        )
        .withColumn("pos", F.col("pos").cast("long"))
        .groupBy("label", "pos")
        .agg(
            F.round(F.avg(F.col("x").cast("double")), 6).alias("mean_x"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@register(
    "q_udf_pandas_cosine",
    # sign-normalized rounding: a vector whose component sum is a tiny
    # negative has cos_ones ≈ -1e-5…-1e-9, which DuckDB's
    # sign-preserving ROUND emits as -0.0 while Spark emits +0.0 —
    # numerically equal, driver-hash distinct (the r11
    # q_embed_covariance failure class; found here by the hardened
    # repr-strict harness at sf0.001)
    oracle=f"""
    SELECT vec_id, label,
           {round_signless_sql('''list_cosine_similarity(
               list_transform(embedding, x -> CAST(x AS DOUBLE)),
               list_transform(embedding, x -> 1.0))''', 4)} AS cos_ones
    FROM embeddings
    """,
)
def q_udf_pandas_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar pandas UDF surface (B10): Arrow-batched numpy cosine
    against the all-ones vector, oracle-checked against DuckDB's
    list_cosine_similarity in double precision."""
    from level2_to_cassandra_spark.functions.udfs import cosine_to_ones

    em = load_table(spark, sf_dir, "embeddings")
    return em.select(
        "vec_id", "label",
        round_signless(cosine_to_ones("embedding"), 4).alias("cos_ones"),
    )


@register(
    "q_udtf_tokenize",
    oracle="""
    SELECT doc_id,
           generate_subscripts(string_split(text, ' '), 1) - 1 AS pos,
           unnest(string_split(text, ' ')) AS token
    FROM documents
    WHERE doc_id < 50
    """,
)
def q_udtf_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF surface (B10): table-generating tokenizer applied
    via lateral join, oracle = unnest-with-ordinality.  (The engine's
    hot tokenization path stays JVM-side — operators/text.py; this
    query exists to cover the UDTF mechanism.)"""
    from level2_to_cassandra_spark.functions.udfs import tokenizer_udtf

    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 50)
    Tokenize = tokenizer_udtf()
    spark.udtf.register("l2c_tokenize", Tokenize)
    docs.createOrReplaceTempView("__docs_for_udtf")
    return spark.sql(
        """
        SELECT d.doc_id, t.pos, t.token
        FROM __docs_for_udtf d,
             LATERAL l2c_tokenize(d.text) t
        """
    )


@register(
    "q_udaf_trimmed_mean",
    oracle="""
    WITH b AS (
        SELECT l_returnflag AS rflag,
               quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.25) AS lo,
               quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.75) AS hi
        FROM lineitem GROUP BY 1
    )
    SELECT l.l_returnflag AS rflag,
           ROUND(AVG(CAST(l.l_extendedprice AS DOUBLE)), 4) AS iq_mean
    FROM lineitem l
    JOIN b ON l.l_returnflag = b.rflag
    WHERE CAST(l.l_extendedprice AS DOUBLE) >= b.lo
      AND CAST(l.l_extendedprice AS DOUBLE) <= b.hi
    GROUP BY 1
    """,
)
def q_udaf_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-agg pandas UDF surface (B10): exact interquartile mean
    per group in ONE grouped pass (Arrow batch per group), where the
    oracle needs a quantile CTE joined back against the fact table.
    Quantiles are linear-interpolated on both sides (numpy ``linear``
    ≡ DuckDB ``quantile_cont``) so the trim bounds agree bit-for-bit;
    the mean is rounded at 4 like every other avg in the registry."""
    from level2_to_cassandra_spark.functions.udfs import trimmed_mean_udaf

    li = load_table(spark, sf_dir, "lineitem")
    tm = trimmed_mean_udaf(0.25, 0.75)
    return li.groupBy(F.col("l_returnflag").alias("rflag")).agg(
        F.round(tm(F.col("l_extendedprice").cast("double")), 4)
        .alias("iq_mean")
    )


_MM_FEATURE_COLS = ", ".join(
    "ROUND(CASE WHEN length(d.text) = 0 THEN 0.0 ELSE "
    f"COALESCE(SUM(CASE WHEN h.bin = {i} THEN h.c END), 0)"
    " / length(d.text) END, 6)"
    f" AS f{i:02d}"
    for i in range(16)
)


@register(
    "q_multimodal_features",
    # The fake decoder is pure arithmetic over the payload bytes
    # (16-bin histogram of byte % 16, normalized by length), and the
    # fixture text is pure ASCII (pinned in tests/test_catalog.py), so
    # a char-level DuckDB twin recomputes the features exactly: same
    # integer counts, same double division, same ROUND(.,6).
    oracle=f"""
    WITH hist AS (
      SELECT doc_id, ord(ch) % 16 AS bin, COUNT(*)::DOUBLE AS c
      FROM (SELECT doc_id, UNNEST(string_split_regex(text, '')) AS ch
            FROM documents)
      GROUP BY doc_id, bin
    )
    SELECT d.doc_id,
           'application/octet-stream' AS mime,
           length(d.text)::BIGINT AS n_bytes,
           {_MM_FEATURE_COLS}
    FROM documents d LEFT JOIN hist h USING (doc_id)
    GROUP BY d.doc_id, d.text
    """,
)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal pipeline plumbing: documents → binary assets with
    typed metadata → Arrow-batched feature extraction (deterministic
    fake decoder — see operators/multimodal.py).

    The 16-dim feature vector is emitted as per-element ROUNDED scalar
    columns f00..f15 — the harness canonicalizes results through
    pandas, where a raw ``array<double>`` cell is unhashable/
    unsortable, and scalar columns additionally let the DuckDB oracle
    hash-verify every feature value (VERDICT r04 #5); library callers
    use ``extract_features`` directly for the typed array."""
    from level2_to_cassandra_spark.operators import multimodal

    docs = load_table(spark, sf_dir, "documents")
    assets = multimodal.attach_binary(docs)
    feats = multimodal.extract_features(assets)
    return feats.select(
        "doc_id",
        "mime",
        "n_bytes",
        *[
            F.round(F.col("features")[i], 6).alias(f"f{i:02d}")
            for i in range(16)
        ],
    )


@register(
    "q_dedup_multimodal",
    # Full-replay oracle: the text leg is a plain window over text, the
    # embedding leg replicates the ENTIRE sign-LSH candidate pipeline
    # (same generated Rademacher planes as q_llm_dedup_embed's oracle),
    # the union edge set is transitively closed by a recursive CTE, and
    # the keep rule + both provenance flags are all hash-verified.  The
    # engine emits STAR edges (group-min → member) for text groups while
    # the oracle unions symmetric closures — different edge sets with
    # identical CONNECTIVITY, so components and min-labels agree.
    oracle=f"""
    WITH RECURSIVE v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
      FROM embeddings
    ),
    sig AS (
      SELECT vec_id, tbl,
             list_reduce(
               list_transform(range(0, 6), p ->
                 CASE WHEN list_reduce(
                        list_transform(range(0, 64), d -> ve[d+1] *
                          {_rademacher_weight_sql()}),
                        (a, x) -> a + x) >= 0
                      THEN (1::BIGINT << p) ELSE 0::BIGINT END),
               (a, x) -> a + x) AS bucket
      FROM v, (SELECT UNNEST(range(0, 8)) AS tbl)
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM sig a JOIN sig b ON a.tbl = b.tbl AND a.bucket = b.bucket
      WHERE a.vec_id < b.vec_id
    ),
    epairs AS (
      SELECT c.id_a, c.id_b
      FROM cand c
      JOIN v va ON va.vec_id = c.id_a
      JOIN v vb ON vb.vec_id = c.id_b
      WHERE ROUND(list_cosine_similarity(va.ve, vb.ve), 4) >= 0.35
    ),
    tgroup AS (
      SELECT doc_id,
             MIN(doc_id) OVER (PARTITION BY text) AS head,
             COUNT(*) OVER (PARTITION BY text) > 1 AS text_dup
      FROM documents WHERE text IS NOT NULL
    ),
    edges AS (
      SELECT head AS s, doc_id AS d FROM tgroup WHERE doc_id <> head
      UNION SELECT doc_id, head FROM tgroup WHERE doc_id <> head
      UNION SELECT id_a, id_b FROM epairs
      UNION SELECT id_b, id_a FROM epairs
    ),
    reach(s, d) AS (
      SELECT s, d FROM edges
      UNION
      SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
    ),
    lab AS (
      SELECT s AS doc_id, LEAST(s, MIN(d)) AS canonical_id
      FROM reach GROUP BY s
    ),
    -- DISTINCT over UNION ALL, not bare UNION: DuckDB 1.0.0 fails to
    -- fully deduplicate a plain UNION in a NON-recursive CTE when the
    -- WITH list is RECURSIVE (observed: nondeterministic duplicate
    -- ids here), while an explicit DISTINCT aggregate is reliable.
    edup AS (SELECT DISTINCT doc_id FROM
             (SELECT id_a AS doc_id FROM epairs
              UNION ALL SELECT id_b AS doc_id FROM epairs))
    SELECT d.doc_id,
           COALESCE(t.text_dup, FALSE) AS text_dup,
           (e.doc_id IS NOT NULL) AS embed_dup,
           COALESCE(l.canonical_id, d.doc_id) AS canonical_id,
           COALESCE(l.canonical_id, d.doc_id) = d.doc_id AS keep
    FROM documents d
    LEFT JOIN tgroup t ON t.doc_id = d.doc_id
    LEFT JOIN edup e ON e.doc_id = d.doc_id
    LEFT JOIN lab l ON l.doc_id = d.doc_id
    """,
    staging=("lsh_buckets_6x8", "multimodal_gate"),
)
def q_dedup_multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-MODAL dedup gate (VERDICT r10 task #5): the any-modality
    duplicate decision a real multimodal curation pipeline runs.  A
    multimodal asset here is (text, embedding) keyed by doc_id = vec_id
    — the text column is one modality, its embedding stands in for the
    other (image/audio feature head output; see operators/multimodal.py
    for the binary plumbing).  Two independent verdicts:

    * TEXT duplicate — exact content match, q_llm_dedup_exact's sha2
      shuffle key (raw text never shuffles);
    * EMBEDDING near-duplicate — q_llm_dedup_embed's sign-LSH buckets
      (6 Rademacher planes × 8 tables) + exact rounded cosine ≥ 0.35.

    THE RULE: the two edge sets are UNIONED and transitively closed
    into connected components; a doc is kept iff it is the canonical
    (minimum-id) member of its component — so a doc duplicated in
    EITHER modality is dropped unless canonical, and cross-modality
    chains (A≡B by text, B≈C by embedding) collapse into ONE cluster
    instead of leaking C past a per-modality gate.  Output carries
    per-modality provenance flags so a curation audit can see WHICH
    gate fired.

    Serves from the MATERIALIZED per-(session, sf_dir) decision table
    (:func:`_multimodal_gate` — the kmeans/components build/serve
    split): dedup verdicts are computed once per corpus snapshot and
    every downstream consumer (the keep filter, the curation audit,
    the incremental admit) reads the label table.  Build scale shape
    in :func:`_multimodal_gate_frame`'s docstring."""
    return _multimodal_gate(spark, sf_dir)


def _multimodal_gate_frame(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, list[DataFrame]]:
    """The gate pipeline as an unmaterialized frame (build side of the
    split; returns ``(frame, persisted)`` — the caller unpersists after
    materializing).

    Scale shape: the text leg shuffles on a fixed-width 256-bit hash;
    the embedding leg is bucket-bounded (∝ Σ bucket², never N²); the
    component closure is pointer-jumping over narrow id pairs
    (operators/dedup.py); the final assembly is id-only left joins
    against the pruned documents scan — content never re-shuffles."""
    from level2_to_cassandra_spark.operators import dedup

    docs = load_table(spark, sf_dir, "documents")
    em = load_table(spark, sf_dir, "embeddings")
    # text verdict: one window pass over the sha2 content key — emits
    # the group head (star-edge source) and the per-doc flag together.
    # Persisted: feeds both the edge union and the provenance join.
    w = Window.partitionBy(F.sha2(F.col("text"), 256))
    tex = (
        docs.where(F.col("text").isNotNull())
        .select(
            "doc_id",
            F.min("doc_id").over(w).alias("head"),
            (F.count(F.lit(1)).over(w) > 1).alias("text_dup"),
        )
        .persist()
    )
    tpairs = tex.where(F.col("doc_id") != F.col("head")).select(
        F.col("head").alias("id_a"), F.col("doc_id").alias("id_b")
    )
    # embedding verdict: identical parameters to q_llm_dedup_embed so
    # the two queries' pair sets are the same relation.  Persisted:
    # feeds the edge union AND the embed_dup provenance flag.
    epairs = (
        similarity.lsh_candidate_pairs(
            em, n_planes=6, n_tables=8, scheme="rademacher", dim=64,
            buckets=_lsh_embed_buckets(spark, sf_dir),
        )
        .where(F.round(F.col("cos"), 4) >= 0.35)
        .select("id_a", "id_b")
        .persist()
    )
    # the component loop re-evaluates its edge input per iteration —
    # both branches are persisted above, so each pass is a cheap
    # projection-union, not a window or an LSH rebuild
    labels = dedup.connected_components(tpairs.unionByName(epairs))
    edup = (
        epairs.select(F.col("id_a").alias("doc_id"))
        .unionByName(epairs.select(F.col("id_b").alias("doc_id")))
        .distinct()
        .withColumn("embed_dup", F.lit(True))
    )
    canon = F.coalesce(F.col("label"), F.col("doc_id"))
    frame = (
        docs.select("doc_id")
        .join(tex.select("doc_id", "text_dup"), "doc_id", "left")
        .join(edup, "doc_id", "left")
        .join(
            labels.select(F.col("node").alias("doc_id"), "label"),
            "doc_id",
            "left",
        )
        .select(
            "doc_id",
            F.coalesce(F.col("text_dup"), F.lit(False)).alias("text_dup"),
            F.coalesce(F.col("embed_dup"), F.lit(False)).alias("embed_dup"),
            canon.alias("canonical_id"),
            (canon == F.col("doc_id")).alias("keep"),
        )
    )
    return frame, [tex, epairs]


@register(
    "q_dedup_incremental_multimodal",
    # q_dedup_incremental's exact-hash admit rule composed with the
    # cross-side flagging of q_dedup_incremental_fuzzy, the near-dup
    # verdict being q_llm_dedup_embed's full LSH replication — no
    # recursive closure here (admission is per-doc, not clustered), so
    # the WITH list is plain and the UNION quirk cannot bite.
    oracle=f"""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
      FROM embeddings
    ),
    sig AS (
      SELECT vec_id, tbl,
             list_reduce(
               list_transform(range(0, 6), p ->
                 CASE WHEN list_reduce(
                        list_transform(range(0, 64), d -> ve[d+1] *
                          {_rademacher_weight_sql()}),
                        (a, x) -> a + x) >= 0
                      THEN (1::BIGINT << p) ELSE 0::BIGINT END),
               (a, x) -> a + x) AS bucket
      FROM v, (SELECT UNNEST(range(0, 8)) AS tbl)
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM sig a JOIN sig b ON a.tbl = b.tbl AND a.bucket = b.bucket
      WHERE a.vec_id < b.vec_id
    ),
    epairs AS (
      SELECT c.id_a, c.id_b
      FROM cand c
      JOIN v va ON va.vec_id = c.id_a
      JOIN v vb ON vb.vec_id = c.id_b
      WHERE ROUND(list_cosine_similarity(va.ve, vb.ve), 4) >= 0.35
    ),
    eflagged AS (
      SELECT CASE WHEN id_a % 10 = 0 THEN id_a ELSE id_b END AS doc_id
      FROM epairs
      WHERE (id_a % 10 = 0) != (id_b % 10 = 0)
    )
    SELECT d.doc_id, d.lang, d.source
    FROM documents d
    WHERE d.doc_id % 10 = 0
      AND d.text IS NOT NULL
      AND NOT EXISTS (SELECT 1 FROM documents s
                      WHERE s.doc_id % 10 != 0 AND s.text = d.text)
      AND d.doc_id = (SELECT MIN(d2.doc_id) FROM documents d2
                      WHERE d2.doc_id % 10 = 0 AND d2.text = d.text)
      AND d.doc_id NOT IN (SELECT doc_id FROM eflagged)
    """,
    staging=("lsh_buckets_6x8",),
)
def q_dedup_incremental_multimodal(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """INCREMENTAL cross-modal admit: the batch spec of the gate a
    multimodal ingest runs per arriving batch — a new doc (doc_id % 10
    = 0, the fixture's new/seen split) is admitted iff

    * EXACT text: first of its content within the batch (lowest
      doc_id per sha2) and its content never appeared in the seen
      corpus (q_dedup_incremental's rule), and
    * EMBEDDING: no sign-LSH near-dup (rounded cos ≥ 0.35, the
      q_llm_dedup_embed verdict) against the SEEN side — cross-side
      pairs only, like q_dedup_incremental_fuzzy: new-vs-new near-dups
      are batch dedup's job, seen-vs-seen are history.

    This is q_dedup_multimodal's decision applied at the ingest
    boundary, where re-clustering the corpus per batch is impossible;
    the streaming twin (operators/dedup.py::multimodal_admit_step, a
    monitor.gate_chain step) runs the same rule per micro-batch
    against persisted hash/bucket/vector staging stores and is
    parity-pinned to this hash-verified query.

    Scale shape: the exact leg anti-joins on the fixed-width content
    hash; the embedding leg probes only (table, bucket) collisions
    between the batch and the store (∝ batch × bucket occupancy,
    never batch × corpus); the admit assembly is id-only anti joins."""
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    )
    em = load_table(spark, sf_dir, "embeddings")
    h = F.sha2(F.col("text"), 256)
    new = docs.where(F.col("doc_id") % 10 == 0).withColumn("__h", h)
    seen_h = (
        docs.where(F.col("doc_id") % 10 != 0)
        .select(h.alias("__h"))
        .distinct()
    )
    w = Window.partitionBy("__h").orderBy("doc_id")
    first_in_batch = (
        new.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    )
    epairs = similarity.lsh_candidate_pairs(
        em, n_planes=6, n_tables=8, scheme="rademacher", dim=64,
        buckets=_lsh_embed_buckets(spark, sf_dir),
    ).where(F.round(F.col("cos"), 4) >= 0.35)
    eflagged = (
        epairs.where((F.col("id_a") % 10 == 0) != (F.col("id_b") % 10 == 0))
        .select(
            F.when(F.col("id_a") % 10 == 0, F.col("id_a"))
            .otherwise(F.col("id_b"))
            .alias("doc_id")
        )
        .distinct()
    )
    return (
        first_in_batch.join(seen_h, "__h", "left_anti")
        .join(eflagged, "doc_id", "left_anti")
        .select("doc_id", "lang", "source")
    )


@staged("multimodal_gate")
def _multimodal_gate(spark: SparkSession, sf_dir: str, path: str):
    """The gate's decision table: the verdict pipeline is deterministic
    per corpus snapshot, so one LSH pass + one component closure serve
    every consumer — and the bench's per-query clearCache cannot force
    a rebuild mid-round."""
    frame, persisted = _multimodal_gate_frame(spark, sf_dir)
    frame.write.mode("overwrite").parquet(path)
    for p in persisted:
        p.unpersist()


@register(
    "q_text_tokens_bpe",
    oracle="""
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_ws_tokens,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]+'))
               AS n_bpe_tokens,
           regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]+')[1]
               AS first_token
    FROM documents
    """,
)
def q_text_tokens_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace and a BPE-ish regex
    pre-tokenizer (letters / digits / punctuation runs — the GPT-2
    pre-tokenization shape) — the cheap 'how many tokens will this
    cost' estimator a training pipeline runs over every document."""
    docs = load_table(spark, sf_dir, "documents")
    pat = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]+"
    bpe = F.regexp_extract_all("text", F.lit(pat), 0)
    return docs.select(
        "doc_id",
        F.size(text.tokens("text")).cast("long").alias("n_ws_tokens"),
        F.size(bpe).cast("long").alias("n_bpe_tokens"),
        bpe[0].alias("first_token"),
    )


@register(
    "q_text_rolling_hash",
    oracle="""
    SELECT doc_id,
           list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                   list_transform(string_split(text, ' '),
                       t -> CAST(length(t) * 131 + ascii(substring(t, 1, 1))
                                 AS BIGINT))),
               (acc, x) -> (acc * 31 + x) % 2147483647) AS rhash
    FROM documents
    """,
)
def q_text_rolling_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive document fingerprint: polynomial rolling hash
    (Rabin–Karp) folded over per-token codes, mod 2^31−1 each step so
    both engines stay in exact BIGINT range.  Distinguishes permuted
    documents that the bag-of-words fingerprint (q_text_fingerprint)
    deliberately collapses."""
    docs = load_table(spark, sf_dir, "documents")
    codes = F.transform(
        text.tokens("text"),
        lambda t: (F.length(t) * 131 + F.ascii(F.substring(t, 1, 1))).cast("long"),
    )
    rhash = F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * 31 + x) % 2147483647,
    )
    return docs.select("doc_id", rhash.alias("rhash"))


@register(
    "q_sample_split",
    oracle="""
    SELECT doc_id, lang,
           CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cd'
                THEN 'train' ELSE 'eval' END AS split
    FROM documents
    """,
)
def q_sample_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~80/20 train/eval split by hashing the stable id
    (first md5 byte < 0xcd ⇒ train, 205/256 ≈ 80.1%).  Hash-based
    splits are reproducible across runs/engines and need no shuffle,
    sort, or RNG state — the only split strategy that behaves at
    100 TB.  md5 (not xxhash) so DuckDB can replicate it exactly."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    return docs.select(
        "doc_id",
        "lang",
        F.when(bucket < "cd", "train").otherwise("eval").alias("split"),
    )


@register(
    "q_text_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(text) AS fp_exact,
           md5(array_to_string(list_sort(list_distinct(
               string_split(text, ' '))), ' ')) AS fp_bow
    FROM documents
    """,
)
def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprints: exact md5 + order-insensitive
    bag-of-words md5 (sorted distinct tokens) — the cheap signals an
    ingest pipeline computes once and joins against forever."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        text.doc_fingerprint("text").alias("fp_exact"),
        text.normalized_fingerprint("text").alias("fp_bow"),
    )


#: Fixed retrieval query for q_bm25 — terms chosen from the fixture
#: vocabulary's mid-band so every SF has hits and misses.
_BM25_TERMS = ("join", "spark", "window")
_BM25_K1 = 1.2
_BM25_B = 0.75


@register(
    "q_bm25",
    # Same whitespace tokenization as q_text_tfidf's oracle; every
    # count is an exact integer on both engines, avgdl is an exact
    # int-sum ratio, and the per-row score expression is written in
    # the IDENTICAL operation order as the Spark side so the doubles
    # agree bit-for-bit before the ROUND(.,6).
    oracle="""
    WITH dl AS (SELECT doc_id, len(string_split(text, ' ')) AS dl
                FROM documents),
    stats AS (SELECT (SELECT COUNT(*) FROM documents) AS n,
                     AVG(dl) AS avgdl FROM dl),
    tfq AS (SELECT doc_id, term, COUNT(*) AS tf
            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                  FROM documents)
            WHERE term IN ('join', 'spark', 'window') GROUP BY 1, 2),
    dfq AS (SELECT term, COUNT(*) AS df FROM tfq GROUP BY 1),
    scored AS (
        SELECT t.doc_id,
               LN((n - df + 0.5) / (df + 0.5) + 1)
               * (tf * (1.2 + 1))
               / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)) AS s
        FROM tfq t JOIN dl USING (doc_id) JOIN dfq USING (term)
        CROSS JOIN stats)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms_hit,
           ROUND(SUM(s), 6) AS bm25
    FROM scored GROUP BY doc_id
    """,
    staging=("tf_postings",),
)
def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval scoring (SURVEY.md §2 B11/B12 — the ranking
    function behind decontamination lookups and retrieval-based data
    selection; Robertson & Zaragoza 2009): score every document
    against a fixed 3-term query with the standard k1=1.2, b=0.75
    saturation/length normalization.

    Scale shape — the asymmetry IS the plan: the query-term postings
    (tfq) are filtered AT the tokenizer (term IN (...) before any
    aggregation), so the per-(doc,term) relation shrinks to hit docs
    only; document length (dl) is map-side array-size math (never an
    explode), the corpus stats (N, avgdl) are a 1-row broadcast, and
    df is a 3-row broadcast.  The only wide shuffle is the filtered
    tfq aggregation itself.  At 100 TB with a query WORKLOAD
    instead of one query, tfq generalizes to the inverted-index
    staging table (term → postings) that every retrieval engine
    materializes once and probes per query."""
    docs = load_table(spark, sf_dir, "documents")
    # Both legs serve from the STAGED tf table (r16) — the inverted
    # index this docstring's scale argument names: tfq is the tf
    # relation filtered to the query terms (no corpus explode), and
    # dl = Σ tf per doc is the SAME integer token count the old
    # size(tokens(text)) pass computed (split of a non-null string is
    # ≥1 element; NULL-text docs are absent here instead of carrying
    # a NULL dl — identical to avg() and to the hit-doc joins either
    # way).  The two corpus tokenize passes disappear.
    tf_rel = _tf_relation(spark, sf_dir)
    dl = tf_rel.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    n = docs.agg(F.count(F.lit(1)).alias("n"))
    stats = dl.agg(F.avg("dl").alias("avgdl")).crossJoin(F.broadcast(n))
    tfq = tf_rel.where(F.col("term").isin(*_BM25_TERMS)).select(
        "doc_id", "term", "tf"
    )
    dfq = tfq.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        (F.col("n") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5)) + F.lit(1)
    )
    score = (
        idf
        * (F.col("tf") * (F.lit(_BM25_K1) + F.lit(1)))
        / (
            F.col("tf")
            + F.lit(_BM25_K1)
            * (F.lit(1) - F.lit(_BM25_B)
               + F.lit(_BM25_B) * F.col("dl") / F.col("avgdl"))
        )
    )
    return (
        tfq.join(dl, "doc_id")
        .join(F.broadcast(dfq), "term")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", score.alias("s"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_terms_hit"),
            F.round(F.sum("s"), 6).alias("bm25"),
        )
    )


_OUTLIER_TAU = -0.15


def _outlier_oracle() -> str:
    """q_embed_outlier oracle: same admitted-vector filter as
    _COV_CTES, per-dimension means rounded with the FLOOR half-up
    form (cross-engine deterministic), then a sequential-fold cosine
    (list_dot_product) against the rounded centroid — the exact
    arithmetic the Spark side mirrors (F.aggregate's fold + a
    driver-side Python fold for the centroid norm, both verified
    bit-identical to list_dot_product by the q_embed_pca parity
    work)."""
    cos = ("list_dot_product(ve, cv) / "
           "(SQRT(list_dot_product(ve, ve)) * cnorm)")
    cos_r = round_half_up_sql(cos, 6)
    return f"""
    WITH v AS (SELECT vec_id, label,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
          FROM embeddings
          WHERE embedding IS NOT NULL AND len(embedding) = 64
            AND len(list_filter(embedding, x -> x IS NULL)) = 0
            AND len(list_filter(embedding, x -> isnan(x) OR isinf(x))) = 0),
    p AS (SELECT UNNEST(range(0, 64)) AS pos),
    c AS (SELECT pos, {round_half_up_sql('AVG(ve[pos + 1])', 6)} AS m
          FROM v CROSS JOIN p GROUP BY pos),
    cent AS (SELECT list(m ORDER BY pos) AS cv FROM c),
    cn AS (SELECT cv, SQRT(list_dot_product(cv, cv)) AS cnorm FROM cent)
    SELECT vec_id, label, cos_centroid,
           (CASE WHEN cos_centroid < {_OUTLIER_TAU} THEN 1 ELSE 0
            END)::BIGINT AS is_outlier
    FROM (
        SELECT vec_id, label, {cos_r} AS cos_centroid
        FROM v CROSS JOIN cn
        WHERE SQRT(list_dot_product(ve, ve)) > 0 AND cnorm > 0)
    """


@register("q_embed_outlier", oracle=_outlier_oracle())
def q_embed_outlier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CENTROID-COSINE OUTLIER SCORING of the embedding corpus — the
    cheap first-line quality gate an embedding-curation pipeline runs
    before anything cluster-shaped: a vector pointing away from the
    corpus centroid (cosine < -0.15, _OUTLIER_TAU) is a corrupted
    decode, an
    off-distribution scrape, or an encoder failure, and flagging it
    costs two map passes.  Output: one row per admitted vector
    ``(vec_id, label, cos_centroid, is_outlier)``, every value
    hash-verified.

    Cross-engine determinism (the q_embed_pca discipline): the
    centroid is the per-dimension mean rounded with the FLOOR
    half-up form (functions.round_half_up — bit-identical in any
    IEEE engine), the centroid NORM is a sequential Python fold over
    the 64 rounded means (bit-identical to DuckDB's
    list_dot_product fold), and the per-vector cosine is
    ``F.aggregate``'s sequential fold against 64 literal doubles
    with the SAME division/multiplication order as the oracle, so
    the only cross-engine jitter left is the pre-rounding mean (the
    accepted q_agg_vector_mean risk).  The outlier flag compares the
    ROUNDED cosine so the cut cannot straddle engines.

    Scale shape: build = one scan collapsing map-side to 64 mean
    cells (bounded 64-row collect — the kmeans-centroid discipline);
    serve = one scan, ZERO shuffles, the cosine fused into
    whole-stage codegen as a fold over literal doubles (no join, no
    UDF).  At 100 TB: two scans total, state O(dim) — the same
    two-pass contract as q_embed_pca, one pass cheaper than any
    clustering-based outlier gate.

    The centroid/cosine arithmetic lives in
    operators/similarity.py::centroid_stats / centroid_cosine, SHARED
    with the streaming gate
    (streaming/monitor.py::outlier_gate_step) so batch
    and stream score identically by construction."""
    em = load_table(spark, sf_dir, "embeddings")
    cv, cnorm = similarity.centroid_stats(em, dim=64)
    cos_r = similarity.centroid_cosine(cv, cnorm)
    scored = (
        em.where(similarity.admit_predicate(64))
        .where(similarity.vector_norm() > 0)
        .select("vec_id", "label", cos_r.alias("cos_centroid"))
    )
    if cnorm <= 0:  # degenerate corpus: centroid at origin — no scores
        scored = scored.where(F.lit(False))
    return scored.select(
        "vec_id", "label", "cos_centroid",
        F.when(F.col("cos_centroid") < F.lit(_OUTLIER_TAU), 1)
        .otherwise(0).cast("long").alias("is_outlier"),
    )


#: Aliases of the shared hot-cut constants (operators/text.py — the
#: single source the batch query, its oracle, and the streaming
#: shingle-df journal all read; rationale for the values and the
#: division form lives there).
_BOILER_DENOM = text.BOILER_DENOM
_BOILER_FLOOR = text.BOILER_FLOOR
_BOILER_TAU = 0.2


def _boilerplate_oracle() -> str:
    frac = round_half_up_sql("per.hot_n3 / CAST(per.n3 AS DOUBLE)", 6)
    return f"""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS w
               FROM documents),
    g AS (SELECT doc_id, UNNEST(list_transform(range(1, len(w) - 1),
                 i -> concat_ws(' ', w[i], w[i+1], w[i+2]))) AS g3
          FROM w),
    nd AS (SELECT GREATEST({_BOILER_FLOOR},
                           CEIL(COUNT(*) / {_BOILER_DENOM})) AS k
           FROM documents),
    dfreq AS (SELECT g3, COUNT(DISTINCT doc_id) AS df FROM g GROUP BY g3),
    hot AS (SELECT g3 FROM dfreq, nd WHERE df >= k),
    per AS (SELECT g.doc_id, COUNT(*) AS n3,
                   SUM(CASE WHEN h.g3 IS NOT NULL THEN 1 ELSE 0 END)
                       AS hot_n3
            FROM g LEFT JOIN hot h USING (g3)
            GROUP BY g.doc_id)
    SELECT doc_id, n3, hot_n3, boilerplate_frac,
           (CASE WHEN boilerplate_frac >= {_BOILER_TAU} THEN 1 ELSE 0
            END)::BIGINT AS flagged
    FROM (
        SELECT d.doc_id,
               CAST(COALESCE(per.n3, 0) AS BIGINT) AS n3,
               CAST(COALESCE(per.hot_n3, 0) AS BIGINT) AS hot_n3,
               CASE WHEN COALESCE(per.n3, 0) > 0 THEN {frac}
                    ELSE 0.0 END AS boilerplate_frac
        FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id)
    """


@register(
    "q_text_boilerplate", oracle=_boilerplate_oracle(),
    staging=("shingle_postings",),
)
def q_text_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORPUS-LEVEL BOILERPLATE FRACTION per document — the Gopher /
    C4 filter family's cross-document member: the fraction of a doc's
    word-3-gram OCCURRENCES that are corpus-hot (df ≥ max(5,
    ⌈n_docs/500⌉)).  Within-doc repetition (q_text_repetition) catches
    a doc stuttering against itself; THIS catches navigation chrome,
    license headers, templated spam — text repeated ACROSS documents
    that per-doc statistics cannot see.  Output: (doc_id, n3, hot_n3,
    boilerplate_frac, flagged), every value hash-verified.

    Scale shape: the df aggregate is the one unavoidable shuffle (the
    same postings aggregate tf-idf runs); the HOT SET after the
    corpus-relative cut is bounded by construction — a hot shingle
    needs n_docs/500 supporting docs, so the hot set is at most
    500 × (total grams / n_docs) ≈ 500 × avg-grams-per-doc entries NO
    MATTER how large the corpus grows — and therefore rides a
    BROADCAST join back onto the occurrence stream (plan-pinned): the
    per-doc scoring pass never shuffles row-scale data.  Docs with <3
    words (must still report 0.0) ride the stream as one NULL-g3
    sentinel row (explode_outer, r16) instead of a separate doc_id
    re-attach join.  The OCCURRENCE explode is recomputed on the scoring
    pass rather than materialized (the occurrence relation is ~3×
    corpus size and duplicate-keeping, so a second map-side explode is
    cheaper than writing it) — but the df branch serves from the
    materialized shingle-postings staging table (:func:`
    _shingle_relation`, r13): its rows ARE the distinct (doc, 3-gram)
    pairs this aggregate needs, already shuffled once at build time,
    so the per-call distinct over the exploded corpus disappears."""
    docs = load_table(spark, sf_dir, "documents")
    # outer=True (r16): shingle-less docs (< 3 words / NULL text) ride
    # the occurrence stream as one NULL-g3 sentinel row, so the
    # per-doc aggregate keeps EVERY document (count(g3) skips the
    # sentinel) and the old docs-scan → Exchange → Sort → SortMergeJoin
    # doc_id re-attach disappears: 3 exchanges → 1 on the scoring path.
    g = text.shingle_occurrences(docs, outer=True)
    dfreq = (
        _shingle_relation(spark, sf_dir)
        .groupBy(F.col("shingle").alias("g3"))
        .agg(F.count(F.lit(1)).alias("df"))
    )
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    # the SHARED hot cut (operators/text.py::hot_shingles) — also the
    # streaming shingle-df journal's reader, so batch and stream agree
    # on hotness by construction
    hot = text.hot_shingles(dfreq, n_docs).withColumn(
        "__hot", F.lit(1)
    )
    joined = (
        g.join(F.broadcast(hot), "g3", "left")
        .groupBy("doc_id")
        .agg(
            # count(g3) skips the NULL sentinel of shingle-less docs,
            # so n3 = true occurrence count and 0 for empty docs —
            # identical to the old left-join + coalesce battery
            F.count("g3").alias("n3"),
            F.sum(F.coalesce("__hot", F.lit(0))).alias("hot_n3"),
        )
        .select(
            "doc_id",
            F.col("n3").cast("long").alias("n3"),
            F.col("hot_n3").cast("long").alias("hot_n3"),
            F.when(
                F.col("n3") > 0,
                round_half_up(
                    F.col("hot_n3").cast("double")
                    / F.col("n3").cast("double"),
                    6,
                ),
            ).otherwise(F.lit(0.0)).alias("boilerplate_frac"),
        )
    )
    return joined.select(
        "doc_id", "n3", "hot_n3", "boilerplate_frac",
        F.when(F.col("boilerplate_frac") >= F.lit(_BOILER_TAU), 1)
        .otherwise(0).cast("long").alias("flagged"),
    )


def _zipf_oracle() -> str:
    slope = round_half_up_sql(
        "(n * sxy - sx * sy) / (n * sxx - sx * sx)", 6)
    intercept = round_half_up_sql(
        "(sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n", 6)
    return f"""
    WITH tokens AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term
        FROM documents),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tokens GROUP BY 1, 2),
    freq AS (SELECT term, SUM(tf) AS f FROM tf GROUP BY term),
    spec AS (SELECT f, COUNT(*) AS n_terms FROM freq GROUP BY f),
    s AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
                 SUM(LN(f)) AS sx, SUM(LN(n_terms)) AS sy,
                 SUM(LN(f) * LN(n_terms)) AS sxy,
                 SUM(LN(f) * LN(f)) AS sxx
          FROM spec),
    fit AS (SELECT CASE WHEN n * sxx - sx * sx = 0 THEN 0.0
                        ELSE {slope} END AS slope,
                   CASE WHEN n * sxx - sx * sx = 0 THEN 0.0
                        ELSE {intercept} END AS intercept
            FROM s)
    SELECT CAST(f AS BIGINT) AS f, CAST(n_terms AS BIGINT) AS n_terms,
           slope, intercept
    FROM spec CROSS JOIN fit
    """


@register("q_text_zipf", oracle=_zipf_oracle(), staging=("tf_postings",))
def q_text_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZIPF FREQUENCY-SPECTRUM FIT of the corpus vocabulary — the
    corpus-statistics sanity check a curation pipeline runs after any
    big dedup/filter pass: natural text keeps a power-law frequency
    spectrum (many singletons, few hot terms; log-log slope ≈ -2 by
    Zipf's law for the spectrum), while templated/duplicated corpora
    flatten it.  Output: the full (f, n_terms) spectrum — n_terms =
    how many distinct terms occur exactly f times — with the fitted
    log-log slope/intercept broadcast onto every row, all
    hash-verified.

    The SPECTRUM form is the scale trick: the classic rank-frequency
    Zipf plot needs a GLOBAL ordering of the vocabulary (a
    single-reducer sort at corpus scale); the frequency-of-frequencies
    spectrum is the same power law re-parameterized (slope_spec =
    -(1/slope_rank) - 1) and needs only two hash aggregates —
    corpus → term totals (vocabulary-sized, the tf-idf postings
    aggregate this query serves from) → spectrum (≤ #distinct
    frequencies rows: TINY — max term frequency bounds it).  The fit
    is a closed-form least squares over the spectrum's log points,
    computed from five sums in ONE aggregate over that tiny relation —
    identical formula text on both engines, rounded half-up; LN's
    last-ulp libm differences are absorbed by the rounding.

    Serves from the session's materialized term-frequency staging
    table (_tf_relation — shared with q_text_tfidf /
    q_text_more_like_this), so the corpus is not re-tokenized."""
    tf = _tf_relation(spark, sf_dir)
    freq = tf.groupBy("term").agg(F.sum("tf").alias("f"))
    spec = (
        freq.groupBy("f")
        .agg(F.count(F.lit(1)).alias("n_terms"))
        .select(
            F.col("f").cast("long").alias("f"),
            F.col("n_terms").cast("long").alias("n_terms"),
        )
    )
    lx, ly = F.log(F.col("f")), F.log(F.col("n_terms"))
    s = spec.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(lx).alias("sx"),
        F.sum(ly).alias("sy"),
        F.sum(lx * ly).alias("sxy"),
        F.sum(lx * lx).alias("sxx"),
    )
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope_raw = (
        F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    ) / den
    fit = s.select(
        F.when(den == 0, F.lit(0.0))
        .otherwise(round_half_up(slope_raw, 6)).alias("slope"),
        F.when(den == 0, F.lit(0.0))
        .otherwise(round_half_up(
            (F.col("sy") - slope_raw * F.col("sx")) / F.col("n"), 6
        )).alias("intercept"),
    )
    return spec.crossJoin(F.broadcast(fit))


def _separation_oracle() -> str:
    d2 = ("list_dot_product("
          "list_transform(range(1, 65), i -> ve[i] - mv[i]), "
          "list_transform(range(1, 65), i -> ve[i] - mv[i]))")
    b2 = ("list_dot_product("
          "list_transform(range(1, 65), i -> mv[i] - gv[i]), "
          "list_transform(range(1, 65), i -> mv[i] - gv[i]))")
    return f"""
    WITH v AS (SELECT vec_id, label,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
          FROM embeddings
          WHERE embedding IS NOT NULL AND len(embedding) = 64
            AND len(list_filter(embedding, x -> x IS NULL)) = 0
            AND len(list_filter(embedding, x -> isnan(x) OR isinf(x))) = 0
            AND label IS NOT NULL),
    p AS (SELECT UNNEST(range(0, 64)) AS pos),
    cl AS (SELECT label, pos,
                  {round_half_up_sql('AVG(ve[pos + 1])', 6)} AS m
           FROM v CROSS JOIN p GROUP BY label, pos),
    cg AS (SELECT pos, {round_half_up_sql('AVG(ve[pos + 1])', 6)} AS m
           FROM v CROSS JOIN p GROUP BY pos),
    clv AS (SELECT label, list(m ORDER BY pos) AS mv FROM cl
            GROUP BY label),
    cgv AS (SELECT list(m ORDER BY pos) AS gv FROM cg),
    within AS (SELECT v.label, CAST(COUNT(*) AS BIGINT) AS n,
                      {round_half_up_sql('AVG(' + d2 + ')', 6)}
                          AS within_var
               FROM v JOIN clv USING (label) GROUP BY v.label),
    btw AS (SELECT label, {round_half_up_sql(b2, 6)} AS between_sq
            FROM clv CROSS JOIN cgv)
    SELECT w.label, w.n, w.within_var, b.between_sq,
           CASE WHEN w.within_var = 0 THEN 0.0
                ELSE {round_half_up_sql(
                    'b.between_sq / w.within_var', 6)} END AS separation
    FROM within w JOIN btw b USING (label)
    """


@register("q_embed_separation", oracle=_separation_oracle())
def q_embed_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLASS-SEPARABILITY AUDIT of a labeled embedding corpus — the
    Fisher-style diagnostic a curation pipeline runs before trusting
    labels as a sampling/stratification signal: per label, the
    BETWEEN-class scatter (squared distance from the label centroid
    to the global centroid) over the WITHIN-class scatter (mean
    squared distance of members to their centroid).  Separation near
    zero = the label carries no geometric signal (mislabeled cohort,
    collapsed encoder); large = tight, well-placed cluster.  Output:
    one row per label ``(label, n, within_var, between_sq,
    separation)``, every value hash-verified.

    Cross-engine determinism: both centroid tiers are FLOOR-half-up
    rounded means (the q_embed_pca discipline); between_sq is a
    sequential fold over the 64 rounded means on both sides (Python
    here, list_dot_product there — verified bit-identical); per-row
    within distances fold sequentially too, and only their AVERAGE is
    emitted, rounded, so row-order summation jitter is absorbed.

    Scale shape: ONE map-side (label × 64)-cell sum/count aggregate
    carries BOTH centroid tiers (the global means are the label sums
    re-reduced driver-side — bounded collect, kmeans-centroid
    discipline), then ONE corpus pass scoring each row against its
    label centroid via a BROADCAST join on label (the centroid lookup
    is #labels rows) and a codegen'd fold.  At 100 TB: exactly two
    scans, state O(#labels · dim)."""
    import math

    em = load_table(spark, sf_dir, "embeddings").where(
        similarity.admit_predicate(64) & F.col("label").isNotNull()
    )
    p = float(10**6)
    # ONE aggregate carries both centroid tiers: per-(label, pos) sums
    # and counts, from which the label means AND the global means
    # (total sum / total count per dimension) derive driver-side —
    # a separate global-mean scan would read the corpus a third time
    # for numbers already contained in these partials.
    lrows = (
        em.select("label", F.posexplode("embedding").alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(
            F.sum(F.col("x").cast("double")).alias("s"),
            F.count(F.lit(1)).alias("c"),
        )
        .collect()
    )
    by_label: dict[int, list[float]] = {}
    gsum, gcnt = [0.0] * 64, [0] * 64
    for r in lrows:
        by_label.setdefault(r.label, [0.0] * 64)[r.pos] = (
            math.floor(r.s / r.c * p + 0.5) / p
        )
        gsum[r.pos] = gsum[r.pos] + r.s
        gcnt[r.pos] = gcnt[r.pos] + r.c
    gv = [
        math.floor(gsum[i] / gcnt[i] * p + 0.5) / p if gcnt[i] else 0.0
        for i in range(64)
    ]

    cent_rows = []
    for lab, mv in sorted(by_label.items()):
        acc = 0.0
        for i in range(64):
            d = mv[i] - gv[i]
            acc = acc + d * d
        cent_rows.append((lab, mv, math.floor(acc * p + 0.5) / p))
    cents = em.sparkSession.createDataFrame(
        cent_rows, "label int, mv array<double>, between_sq double"
    )

    dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    d2 = F.aggregate(
        F.zip_with(dbl, F.col("mv"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    within = (
        em.join(F.broadcast(cents), "label")
        .groupBy("label", "between_sq")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            round_half_up(F.avg(d2), 6).alias("within_var"),
        )
    )
    return within.select(
        "label", "n", "within_var", "between_sq",
        F.when(F.col("within_var") == 0, F.lit(0.0))
        .otherwise(round_half_up(
            F.col("between_sq") / F.col("within_var"), 6
        )).alias("separation"),
    )


@register(
    "q_text_novelty",
    # Pure integer relational algebra (MIN per shingle, counts per
    # doc) divided once — first-occurrence attribution is exact and
    # order-free on both engines.
    oracle="""
    WITH postings AS (
        SELECT DISTINCT doc_id, concat_ws(' ', w[i], w[i+1], w[i+2]) AS shingle
        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             LATERAL (SELECT unnest(range(1, len(w) - 1)) AS i)
        WHERE len(w) >= 3),
    firsts AS (SELECT shingle, MIN(doc_id) AS first_doc
               FROM postings GROUP BY shingle)
    SELECT p.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN f.first_doc = p.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           ROUND(SUM(CASE WHEN f.first_doc = p.doc_id THEN 1 ELSE 0 END)
                 ::DOUBLE / COUNT(*), 6) AS novelty
    FROM postings p JOIN firsts f USING (shingle)
    GROUP BY p.doc_id
    """,
    staging=("shingle_postings",),
)
def q_text_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-GRAM NOVELTY per document under arrival (doc_id) order: the
    fraction of a doc's distinct 3-gram shingles whose FIRST corpus
    occurrence is this doc — the marginal-new-content curve behind
    dedup-aware curriculum ordering and crawl-value estimation (a
    snapshot re-crawl scores ~0; fresh content scores ~1; the corpus-
    wide novelty decay over doc_id is the classic diminishing-returns
    diagnostic).  The asymmetric cousin of q_text_boilerplate: that
    flags corpus-DOMINANT shingles, this credits corpus-FIRST ones.

    Scale shape: serves from the materialized shingle-postings staging
    table; first-occurrence attribution is ONE window min over the
    shingle key (the same exchange key every postings aggregate uses)
    + one doc-keyed count aggregate — two key exchanges over the
    postings relation, no joins, integer arithmetic end to end."""
    posts = _shingle_relation(spark, sf_dir)
    w = Window.partitionBy("shingle")
    flagged = posts.withColumn("first_doc", F.min("id").over(w))
    novel = F.sum(
        F.when(F.col("first_doc") == F.col("id"), 1).otherwise(0)
    )
    n = F.count(F.lit(1))
    return flagged.groupBy(F.col("id").alias("doc_id")).agg(
        n.cast("long").alias("n_shingles"),
        novel.cast("long").alias("n_novel"),
        F.round(novel.cast("double") / n, 6).alias("novelty"),
    )


# ------------------------------------------------- line-level dedup

_LINE_W = text.LINE_TOKENS  # tokens per synthesized "line" (no \n in fixture)
#: single definition beside the segmentation it keys (operators/text.py)
_LINE_KEY_SPAN = text.LINE_KEY_SPAN


@register(
    "q_dedup_lines",
    # Pure integer/selection algebra: first occurrence is the MIN of
    # an exact packed BIGINT key per line_text, kept_text is ordered
    # string reassembly — nothing floats, both engines hash-identical.
    oracle=f"""
    WITH lines AS (
        SELECT doc_id, (i - 1) // {_LINE_W} AS line_no,
               array_to_string(list_slice(w, i, i + {_LINE_W} - 1), ' ')
                   AS line_text
        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             LATERAL (SELECT unnest(range(1, len(w) + 1, {_LINE_W})) AS i)),
    flagged AS (
        SELECT doc_id, line_no, line_text,
               MIN(doc_id * {_LINE_KEY_SPAN} + line_no)
                   OVER (PARTITION BY line_text)
                 = doc_id * {_LINE_KEY_SPAN} + line_no AS kept
        FROM lines)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           COALESCE(string_agg(CASE WHEN kept THEN line_text END, ' '
                               ORDER BY line_no), '') AS kept_text
    FROM flagged GROUP BY doc_id
    """,
)
def q_dedup_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINE-LEVEL (sub-document) dedup — the C4 preprocessing step the
    document-granularity family cannot express: every duplicated LINE
    keeps only its first corpus occurrence (global (doc_id, line_no)
    order) and each document is reassembled from its surviving lines,
    order preserved.  Output per doc: line count, kept count, and the
    line-deduped text (empty string when every line was seen before —
    the downstream curation gate drops those).  The fixture corpus has
    no newlines, so a "line" is each consecutive 8-token group
    (``_LINE_W``; the q_chunk_docs segmentation with stride = width).

    Scale shape: explode to lines, then ONE window min over the
    line_text key (first-occurrence attribution, the q_text_novelty
    exchange) and ONE doc-keyed aggregate that re-assembles kept lines
    via sorted collect_list (the per-doc list is bounded by document
    length, never corpus-scale) — two row-scale key exchanges, no
    joins, exact integer keys end to end.  The packed BIGINT
    first-occurrence key keeps the window state 8 bytes/row."""
    docs = load_table(spark, sf_dir, "documents")
    from level2_to_cassandra_spark.catalog import spread_scan

    # segmentation shared verbatim with the streaming admit monitor
    # (operators/text.py::line_segments — parity cannot drift)
    lines = text.line_segments(spread_scan(docs))
    # guarded shared expression (operators/text.py::packed_line_key):
    # raises on line_no >= LINE_KEY_SPAN instead of mis-attributing
    key = text.packed_line_key()
    flagged = lines.withColumn(
        "kept",
        F.min(key).over(Window.partitionBy("line_text")) == key,
    )
    kept_line = F.when(F.col("kept"), F.struct("line_no", "line_text"))
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum(F.col("kept").cast("int")).cast("long").alias("n_kept"),
        F.coalesce(
            F.array_join(
                F.transform(
                    # collect_list drops the NULLs of non-kept lines;
                    # struct sort = line_no order (unique per doc)
                    F.array_sort(F.collect_list(kept_line)),
                    lambda s: s["line_text"],
                ),
                " ",
            ),
            F.lit(""),
        ).alias("kept_text"),
    )
