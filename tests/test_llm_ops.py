"""Property/invariant tests for operators without a SQL oracle:
SimHash, sign-LSH similarity, multimodal plumbing, plus dedup and
as-of edge cases (SURVEY.md §5.2.5).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from level2_to_cassandra_spark.catalog import load_table
from level2_to_cassandra_spark.operators import (
    minhash,
    multimodal,
    similarity,
    text,
)
from level2_to_cassandra_spark.operators.asof import asof_join

SF = "/root/testdata/sf0.001"


# ------------------------------------------------------------- simhash

def test_simhash_identical_and_near_docs(spark):
    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "alpha beta gamma delta epsilon zeta eta theta"),   # identical
            (3, "alpha beta gamma delta epsilon zeta eta iota"),    # 1 word off
            (4, "one two three four five six seven eight"),         # disjoint
        ],
        "doc_id long, text string",
    )
    fps = {
        r.doc_id: r.fp
        for r in df.select("doc_id", text.simhash64("text").alias("fp")).collect()
    }
    ham = lambda a, b: bin((fps[a] ^ fps[b]) & (2**64 - 1)).count("1")
    assert ham(1, 2) == 0                  # identical text → identical fp
    assert ham(1, 3) < ham(1, 4)           # near-dup closer than disjoint
    assert ham(1, 3) <= 16


def test_simhash_banding_is_exact_for_its_threshold(spark):
    """8×8-bit banding guarantees recall for hamming ≤ 7 (pigeonhole):
    the banded query must equal a brute-force hamming scan exactly.
    Brute force uses the same portable md5 hasher the registered
    query pins (its DuckDB oracle recomputes the same fingerprints)."""
    from level2_to_cassandra_spark.registry import all_queries

    pairs = all_queries()["q_llm_dedup_simhash"].fn(spark, SF)
    got = {(r.id_a, r.id_b, r.hamming) for r in pairs.collect()}

    fps = load_table(spark, SF, "documents").select(
        "doc_id", text.simhash64("text", hasher="md5").alias("fp")
    )
    a = fps.select(F.col("doc_id").alias("id_a"), F.col("fp").alias("fa"))
    b = fps.select(F.col("doc_id").alias("id_b"), F.col("fp").alias("fb"))
    brute = (
        a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b",
                text.hamming64(F.col("fa"), F.col("fb")).alias("hamming"))
        .where(F.col("hamming") <= 7)
    )
    want = {(r.id_a, r.id_b, r.hamming) for r in brute.collect()}
    assert got == want


def test_simhash_catches_most_jaccard_neardups(spark):
    from level2_to_cassandra_spark.registry import all_queries

    sim = {
        (r.id_a, r.id_b)
        for r in all_queries()["q_llm_dedup_simhash"].fn(spark, SF).collect()
    }
    exact = {
        (r.id_a, r.id_b)
        for r in all_queries()["q_llm_dedup_fuzzy"].fn(spark, SF).collect()
    }
    assert exact, "fixture should contain jaccard≥0.8 near-dups"
    recall = len(exact & sim) / len(exact)
    # simhash (hamming ≤ 7/64) is a different signal than 3-shingle
    # jaccard ≥ 0.8 — recall is high but not 1, and the marginal pair
    # set shifts with the token hasher (measured: 0.93 xxhash, 0.89
    # portable-md5 at sf0.01)
    assert recall >= 0.85


# ------------------------------------------------------- sign-LSH recall

def test_lsh_recall_vs_brute_force(spark):
    em = load_table(spark, SF, "embeddings")
    cand = similarity.lsh_candidate_pairs(em, n_planes=4, n_tables=8)
    got = {(r.id_a, r.id_b) for r in cand.where(F.col("cos") >= 0.3).collect()}
    a = em.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = em.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    truth = (
        a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b",
                similarity.cosine(F.col("va"), F.col("vb")).alias("cos"))
        .where(F.col("cos") >= 0.3)
    )
    want = {(r.id_a, r.id_b) for r in truth.collect()}
    assert want, "fixture should contain some cos≥0.3 pairs"
    # theory: capture p at cos 0.3 (θ≈0.4π) = 1-(1-0.6⁴)⁸ ≈ 0.67;
    # assert well above the single-table 0.016 and below-1 honestly.
    recall = len(got & want) / len(want)
    assert recall >= 0.35
    assert got <= want  # verification step: zero false positives


def test_lsh_registered_settings_recall(spark):
    """The REGISTERED q_sim_ann_lsh config (8 planes × 16 tables,
    cos ≥ 0.4) must keep useful recall: capture
    p = 1−(1−(1−θ/π)⁸)¹⁶ ≈ 0.33 at the 0.4 boundary (the fixture
    embeddings are near-random — max pairwise cos ≈ 0.51 — so the
    boundary is where all the truth pairs live; at a real corpus's
    0.8+ near-dup similarities the same plan captures ≈ 0.99).
    Tight buckets (256/table) are what keep the candidate join
    bucket-bounded at scale; this pins that the tightening did not
    hollow the query out.  Deterministic (portable Rademacher
    planes, same generator the DuckDB oracle replicates).  Truth
    rounds cos to 4 dp exactly as the registered query does, so the
    zero-false-positive assertion compares like with like."""
    from level2_to_cassandra_spark.registry import all_queries

    got_rows = all_queries()["q_sim_ann_lsh"].fn(spark, SF).collect()
    got = {(r.id_a, r.id_b) for r in got_rows}
    em = load_table(spark, SF, "embeddings")
    a = em.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = em.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    truth = (
        a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b",
                F.round(similarity.cosine(F.col("va"), F.col("vb")), 4)
                .alias("cos"))
        .where(F.col("cos") >= 0.4)
        .collect()
    )
    want = {(r.id_a, r.id_b) for r in truth}
    assert want, "fixture should contain cos≥0.4 pairs"
    assert got, "registered settings must surface some pairs"
    assert got <= want  # exact re-rank: zero false positives
    assert len(got & want) / len(want) >= 0.2


def test_ivf_topk_recall_vs_brute_force(spark):
    """IVF with nprobe=6 of 16 cells must recover most of the exact
    top-10, and with nprobe=n_cells (probe everything) it must equal
    brute force exactly — the approximation is ONLY the probe cut."""
    em = load_table(spark, SF, "embeddings")
    queries = em.where(F.col("vec_id") < 5)
    want = {
        (r.query_id, r.neighbor_id)
        for r in similarity.brute_topk(em, queries, k=10,
                                       round_cos=4).collect()
    }
    got = {
        (r.query_id, r.neighbor_id)
        for r in similarity.ivf_topk(em, queries, k=10, n_cells=16,
                                     nprobe=6, round_cos=4).collect()
    }
    assert len(got & want) / len(want) >= 0.5
    full = {
        (r.query_id, r.neighbor_id)
        for r in similarity.ivf_topk(em, queries, k=10, n_cells=16,
                                     nprobe=16, round_cos=4).collect()
    }
    assert full == want


def test_ivf_centroids_deterministic_and_bounded(spark):
    em = load_table(spark, SF, "embeddings")
    c1 = similarity.ivf_centroids(em, n_cells=8).collect()
    c2 = similarity.ivf_centroids(em, n_cells=8).collect()
    assert sorted(r.cell for r in c1) == sorted(r.cell for r in c2)
    m1 = {r.cell: tuple(r["__cv"]) for r in c1}
    m2 = {r.cell: tuple(r["__cv"]) for r in c2}
    assert m1 == m2  # bit-identical: rounded means, hash-picked seeds
    assert len(m1) <= 8
    dim = len(next(iter(m1.values())))
    assert all(len(v) == dim for v in m1.values())


def test_brute_topk_self_excluded_and_sorted(spark):
    em = load_table(spark, SF, "embeddings")
    out = similarity.brute_topk(em, em.where(F.col("vec_id") < 3), k=5).collect()
    by_q = {}
    for r in out:
        assert r.neighbor_id != r.query_id
        by_q.setdefault(r.query_id, []).append((r.rank, r.cos))
    for q, rows in by_q.items():
        rows.sort()
        assert [r for r, _ in rows] == [1, 2, 3, 4, 5]
        cs = [c for _, c in rows]
        assert cs == sorted(cs, reverse=True)


# ------------------------------------------------------------ multimodal

def test_multimodal_pipeline_dataflow(spark):
    docs = load_table(spark, SF, "documents").limit(50)
    assets = multimodal.attach_binary(docs)
    feats = multimodal.extract_features(assets).collect()
    assert len(feats) == 50
    for r in feats:
        assert len(r.features) == multimodal.FEATURE_DIM
        assert r.n_bytes > 0
        # histogram is normalized: sums to 1 over non-empty payloads
        assert abs(sum(r.features) - 1.0) < 1e-9
    # deterministic: same content → same features
    again = {r.doc_id: r.features for r in
             multimodal.extract_features(assets).collect()}
    assert all(again[r.doc_id] == r.features for r in feats)


def test_multimodal_frame_sample(spark):
    docs = load_table(spark, SF, "documents").limit(10)
    assets = multimodal.attach_binary(docs)
    out = multimodal.frame_sample(assets, n_frames=4, frame_bytes=8).collect()
    for r in out:
        assert len(r.frames) == 4
        for f in r.frames:
            assert len(f) <= 8


def test_binaryfile_source_feeds_multimodal_pipeline(spark, tmp_path):
    """Real asset ingestion path: spark.read.format('binaryFile') →
    (content, meta) schema → Arrow-batched feature extraction."""
    for i in range(5):
        (tmp_path / f"asset_{i}.bin").write_bytes(bytes([i]) * (50 + i))
    raw = spark.read.format("binaryFile").load(str(tmp_path / "*.bin"))
    assets = raw.select(
        F.monotonically_increasing_id().alias("doc_id"),
        F.col("content"),
        F.struct(
            F.lit("application/octet-stream").alias("mime"),
            F.col("length").alias("n_bytes"),
            F.md5(F.col("content")).alias("checksum"),
        ).alias("meta"),
    )
    feats = multimodal.extract_features(assets).collect()
    assert len(feats) == 5
    assert all(len(r.features) == multimodal.FEATURE_DIM for r in feats)
    assert {r.n_bytes for r in feats} == {50, 51, 52, 53, 54}


def test_resize_nearest_neighbor_known_grid(spark):
    # payload = bytes 0..15 → inferred 4×4 grid; 2×2 NN resample keeps
    # pixels at source rows/cols {0,2} → [0, 2, 8, 10]
    import hashlib

    assets = spark.createDataFrame(
        [(1, bytes(range(16)), ("raw/gray", 16, "x"))],
        "doc_id long, content binary, "
        "meta struct<mime string, n_bytes bigint, checksum string>",
    )
    [r] = multimodal.resize_image(assets, 2, 2).collect()
    assert bytes(r.content) == bytes([0, 2, 8, 10])
    assert r.meta.mime == "raw/gray"
    assert r.meta.n_bytes == 4
    assert r.meta.checksum == hashlib.md5(bytes([0, 2, 8, 10])).hexdigest()


def test_resize_upscale_and_empty(spark):
    assets = spark.createDataFrame(
        [(1, bytes(range(16)), ("raw/gray", 16, "x")),
         (2, b"", ("raw/gray", 0, "y"))],
        "doc_id long, content binary, "
        "meta struct<mime string, n_bytes bigint, checksum string>",
    )
    out = {r.doc_id: bytes(r.content)
           for r in multimodal.resize_image(assets, 8, 8).collect()}
    assert len(out[1]) == 64
    # upscale replicates source pixels: top-left 2×2 block is source (0,0)
    assert out[1][0] == out[1][1] == 0
    assert out[2] == bytes(64)  # empty payload → all-zero canvas


def test_resize_respects_explicit_src_width(spark):
    # 2×8 grid (src_width=8): row 0 = 0..7, row 1 = 8..15
    assets = spark.createDataFrame(
        [(1, bytes(range(16)), ("raw/gray", 16, "x"))],
        "doc_id long, content binary, "
        "meta struct<mime string, n_bytes bigint, checksum string>",
    )
    [r] = multimodal.resize_image(assets, 2, 2, src_width=8).collect()
    assert bytes(r.content) == bytes([0, 4, 8, 12])


# ------------------------------------------------------------- asof edges

def test_asof_join_boundaries(spark):
    left = spark.createDataFrame(
        [(1, 100), (1, 200), (2, 150)], "k long, ts long"
    )
    right = spark.createDataFrame(
        [(1, 100, "a"), (1, 150, "b"), (2, 151, "c")], "k long, ts long, v string"
    )
    out = {
        (r.k, r.ts): r.r_v
        for r in asof_join(left, right, on="ts", by=["k"],
                           right_cols=["v"]).collect()
    }
    assert out[(1, 100)] == "a"   # equal timestamps match (backward incl.)
    assert out[(1, 200)] == "b"   # latest ≤ 200
    assert out[(2, 150)] is None  # right row is AFTER the left row
    strict = {
        (r.k, r.ts): r.r_v
        for r in asof_join(left, right, on="ts", by=["k"],
                           right_cols=["v"], strict=True).collect()
    }
    assert strict[(1, 100)] is None  # strict '<' excludes the tie


# ---------------------------------------------------------- minhash unit

def test_minhash_exact_equivalence_on_small_corpus(spark):
    docs = spark.createDataFrame(
        [
            (1, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"),
            (2, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w11"),  # ~0.64 jaccard (3-shingles)
            (3, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"),  # exact dup of 1
            (4, "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10"),  # disjoint
        ],
        "doc_id long, text string",
    )
    exact = {
        (r.id_a, r.id_b): round(r.jaccard, 6)
        for r in minhash.exact_jaccard_pairs(docs, threshold=0.5).collect()
    }
    assert exact[(1, 3)] == 1.0
    assert (1, 4) not in exact
    mh = {
        (r.id_a, r.id_b): round(r.jaccard, 6)
        for r in minhash.minhash_pairs(docs, threshold=0.5).collect()
    }
    assert mh[(1, 3)] == 1.0  # exact dups always collide in every band
    assert set(mh) <= set(exact)  # verification: no false positives


def test_candidate_where_pushdown_matches_post_filter(spark):
    """candidate_where (r16) restricts the pair DOMAIN before the
    distinct and the verification join; because verification is exact
    per pair, it must be row-identical to filtering the full output —
    on both the prefix-filtered (threshold > 0) and bucketed-all-pairs
    (threshold <= 0) paths, and on the candidates_only probe."""
    docs = spark.createDataFrame(
        [
            (1, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"),
            (2, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w11"),
            (3, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"),
            (10, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"),  # new-batch dup of 1
            (20, "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10"),
        ],
        "doc_id long, text string",
    )
    cross = (F.col("id_a") % 10 == 0) != (F.col("id_b") % 10 == 0)
    for kw in ({"threshold": 0.5}, {"threshold": 0.0}):
        for probe in (False, True):
            pushed = minhash.exact_jaccard_pairs(
                docs, candidates_only=probe, candidate_where=cross, **kw
            )
            post = minhash.exact_jaccard_pairs(
                docs, candidates_only=probe, **kw
            ).where(cross)
            assert pushed.exceptAll(post).count() == 0
            assert post.exceptAll(pushed).count() == 0
    # sanity: the cross-side pair (1, 10) is present with jaccard 1.0
    got = {
        (r.id_a, r.id_b): round(r.jaccard, 6)
        for r in minhash.exact_jaccard_pairs(
            docs, threshold=0.5, candidate_where=cross
        ).collect()
    }
    assert got[(1, 10)] == 1.0
    assert all((a % 10 == 0) != (b % 10 == 0) for a, b in got)


def test_stop_shingle_cap_preserves_precision(spark):
    # "common common common" shingles are shared by every doc — a
    # stop-shingle.  The cap drops it from candidate generation only;
    # verification still computes TRUE Jaccard over full postings.
    docs = spark.createDataFrame(
        [
            (1, "common common common common a1 a2 a3 a4 a5 a6"),
            (2, "common common common common a1 a2 a3 a4 a5 a7"),
            (3, "common common common common b1 b2 b3 b4 b5 b6"),
        ],
        "doc_id long, text string",
    )
    full = {
        (r.id_a, r.id_b): round(r.jaccard, 6)
        for r in minhash.exact_jaccard_pairs(docs, threshold=0.4).collect()
    }
    # cap above every df → identical result (cap is a no-op)
    nocap = {
        (r.id_a, r.id_b): round(r.jaccard, 6)
        for r in minhash.exact_jaccard_pairs(
            docs, threshold=0.4, max_shingle_df=1000
        ).collect()
    }
    assert nocap == full
    # aggressive cap: output is a SUBSET with unchanged jaccard values
    capped = {
        (r.id_a, r.id_b): round(r.jaccard, 6)
        for r in minhash.exact_jaccard_pairs(
            docs, threshold=0.4, max_shingle_df=2
        ).collect()
    }
    assert set(capped) <= set(full)
    for pair, j in capped.items():
        assert j == full[pair]


def test_frac_cap_floor_is_inert_and_all_hot_prefix_survives(spark):
    """max_shingle_frac with the min_cap_df floor above every df must
    be bit-identical to the uncapped plan (the q_llm_dedup_fuzzy
    floor-inertness claim); with an aggressive floor, a pair whose
    docs consist ENTIRELY of stop-shingles must still be found — the
    whole-prefix fallback (min_df > cap keeps the full prefix) stops
    all-hot documents from dropping out of candidate generation."""
    docs = spark.createDataFrame(
        [
            (1, "common common common common a1 a2 a3 a4 a5 a6"),
            (2, "common common common common a1 a2 a3 a4 a5 a7"),
            (3, "common common common common b1 b2 b3 b4 b5 b6"),
        ],
        "doc_id long, text string",
    )
    full = {
        (r.id_a, r.id_b): round(r.jaccard, 6)
        for r in minhash.exact_jaccard_pairs(docs, threshold=0.4).collect()
    }
    floored = {
        (r.id_a, r.id_b): round(r.jaccard, 6)
        for r in minhash.exact_jaccard_pairs(
            docs, threshold=0.4, max_shingle_frac=0.01, min_cap_df=50
        ).collect()
    }
    assert floored == full  # floor (50) > every df → bit-identical

    # every shingle of these dup docs is shared by ALL docs (df=3 >
    # cap=1): without the whole-prefix fallback the index would be
    # empty and the exact-duplicate pair missed
    hot = spark.createDataFrame(
        [
            (1, "h1 h2 h3 h4 h5 h6"),
            (2, "h1 h2 h3 h4 h5 h6"),
            (3, "h1 h2 h3 h4 h5 h6"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r.id_a, r.id_b): round(r.jaccard, 6)
        for r in minhash.exact_jaccard_pairs(
            hot, threshold=0.5, max_shingle_frac=0.001, min_cap_df=1
        ).collect()
    }
    assert got == {(1, 2): 1.0, (1, 3): 1.0, (2, 3): 1.0}


def test_frac_cap_trades_boilerplate_carried_recall(spark):
    """The DOCUMENTED approximation of a live cap: a qualifying pair
    whose prefix overlap is carried entirely by hot (boilerplate)
    shingles is skipped, while precision stays exact (capped output is
    a subset of the exact output with identical jaccard values).  Here
    each doc owns one rare unique shingle (so min_df <= cap and the
    whole-prefix fallback correctly stays off) and shares only hot
    shingles — the capped run must drop the pair, not mis-score it."""
    docs = spark.createDataFrame(
        [
            (1, "ra h1 h2 h3 h4 h5 h6 h7 h8 h9"),
            (2, "rb h1 h2 h3 h4 h5 h6 h7 h8 h9"),
            (3, "rc h1 h2 h3 h4 h5 h6 h7 h8 h9"),
        ],
        "doc_id long, text string",
    )
    full = {
        (r.id_a, r.id_b): round(r.jaccard, 6)
        for r in minhash.exact_jaccard_pairs(docs, threshold=0.7).collect()
    }
    assert full  # the uncapped run finds the boilerplate-carried pairs
    capped = {
        (r.id_a, r.id_b): round(r.jaccard, 6)
        for r in minhash.exact_jaccard_pairs(
            docs, threshold=0.7, max_shingle_frac=0.001, min_cap_df=1
        ).collect()
    }
    assert set(capped) <= set(full)
    for pair, j in capped.items():
        assert j == full[pair]


def test_minhash_all_hot_doc_rescue_keeps_exact_dups_reachable(spark):
    """With a cap that makes EVERY shingle of a duplicate pair hot,
    keep_all_hot_docs must fall those docs back to full postings so
    they still get LSH signatures and their exact-dup pair survives."""
    docs = spark.createDataFrame(
        [
            (1, "h1 h2 h3 h4 h5 h6"),
            (2, "h1 h2 h3 h4 h5 h6"),
            (3, "h1 h2 h3 h4 h5 h6"),
            (4, "x1 x2 x3 x4 x5 x6"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r.id_a, r.id_b)
        for r in minhash.minhash_pairs(
            docs, threshold=0.9, max_shingle_df=2
        ).collect()
    }
    assert {(1, 2), (1, 3), (2, 3)} <= got


def test_minhash_cap_keeps_verification_exact(spark):
    docs = spark.createDataFrame(
        [
            (1, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"),
            (2, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w11"),
            (3, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"),
        ],
        "doc_id long, text string",
    )
    full = {
        (r.id_a, r.id_b): round(r.jaccard, 6)
        for r in minhash.minhash_pairs(docs, threshold=0.5).collect()
    }
    capped = {
        (r.id_a, r.id_b): round(r.jaccard, 6)
        for r in minhash.minhash_pairs(
            docs, threshold=0.5, max_shingle_df=1000
        ).collect()
    }
    assert capped == full  # no-op cap: bit-identical result


# ------------------------------------------------------------- skew salt

def test_salt_spreads_despite_constant_first_column(spark):
    from level2_to_cassandra_spark.operators.skew import salt_column

    rows = [("k", "const", i) for i in range(512)]
    df = spark.createDataFrame(rows, "key string, c1 string, c2 long")
    n_salts = 16
    distinct = (
        df.select(salt_column(df, ["key"], None, n_salts).alias("s"))
        .distinct()
        .count()
    )
    assert distinct >= n_salts // 2


def test_simhash_fingerprints_null_text_parity(spark):
    """NULL-text docs must get fp=0 exactly like the column twin
    (explode alone would silently drop them)."""
    from level2_to_cassandra_spark.operators import text as T

    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, None), (3, None)],
        "doc_id long, text string",
    )
    for hasher in ("xxhash", "md5"):
        table = {r.doc_id: r.fp for r in
                 T.simhash_fingerprints(docs, "doc_id", "text",
                                        hasher=hasher).collect()}
        column = {r.doc_id: r.fp for r in
                  docs.select("doc_id",
                              T.simhash64("text", hasher=hasher)
                              .alias("fp")).collect()}
        assert table == column, hasher
        assert table[2] == 0 and table[3] == 0


def test_simhash_staged_relation_matches_inline_build(spark):
    """The session-staged fingerprint table (queries/llm.py::
    _simhash_relation) must hold exactly the rows the inline md5 build
    produces — fingerprints are integers, so the parquet round-trip is
    exact and the staged serve is bit-identical by construction."""
    from level2_to_cassandra_spark.operators import text as T
    from level2_to_cassandra_spark.queries.llm import _simhash_relation

    staged = _simhash_relation(spark, SF)
    inline = T.simhash_fingerprints(
        load_table(spark, SF, "documents"), "doc_id", "text",
        hasher="md5",
    )
    assert staged.exceptAll(inline).count() == 0
    assert inline.exceptAll(staged).count() == 0


def test_pq_staged_relation_matches_inline_build(spark):
    """The session-staged PQ index (queries/llm.py::_pq_relation) must
    hold exactly the codebook and encoded rows a fresh train+encode
    produces — codes are int64s and recon_norm a rounded double, so
    the parquet round-trip is exact and the staged serve is
    bit-identical by construction."""
    from level2_to_cassandra_spark.queries.llm import _pq_relation

    em = load_table(spark, SF, "embeddings")
    cb_staged, enc_staged = _pq_relation(spark, SF)
    cb_fresh = similarity.pq_train(em)
    assert cb_staged == cb_fresh
    enc_fresh = similarity.pq_encode(em, cb_fresh)
    assert enc_staged.exceptAll(enc_fresh).count() == 0
    assert enc_fresh.exceptAll(enc_staged).count() == 0


def test_lsh_buckets_agg_matches_column_form(spark):
    """The one-pass aggregate bucketizer must reproduce the column
    form's (id, table, bucket) rows EXACTLY (the bit-identity argument
    in its docstring), including the NULL- and empty-vector fallbacks
    the explode path cannot emit."""
    em = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    extra = spark.createDataFrame(
        [(900001, None), (900002, [])],
        "vec_id long, embedding array<float>",
    )
    both = em.unionByName(extra)
    agg = {
        (r.vec_id, r.table): r.bucket
        for r in similarity.lsh_buckets_agg(both, "vec_id", "embedding",
                                            4, 8).collect()
    }
    col = {
        (r.vec_id, r.table): r.bucket
        for r in similarity.lsh_bucketize(both, 4, 8).select(
            "vec_id", "table", "bucket").collect()
    }
    assert agg == col


@pytest.mark.parametrize("scheme", ["hash", "rademacher"])
def test_lsh_buckets_np_matches_jvm_forms(spark, scheme):
    """The Arrow/numpy bucketizer must reproduce the canonical column
    form's (id, table, bucket) rows EXACTLY under BOTH plane schemes —
    the sequential-fold bit-identity argument in its docstring —
    including the NULL/empty/short-vector bucket-0 fallback (the
    column form's fold nulls out for all three; the agg form is
    documented to diverge on SHORT vectors, so the malformed-row
    comparison is against the column form).  This is the guard that
    lets the oracle-checked q_llm_dedup_embed run on the numpy path."""
    em = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    extra = spark.createDataFrame(
        [(900001, None), (900002, []), (900003, [0.5, -0.25])],
        "vec_id long, embedding array<float>",
    )
    both = em.unionByName(extra)
    np_form = {
        (r.vec_id, r.table): r.bucket
        for r in similarity.lsh_buckets_np(
            both, "vec_id", "embedding", 6, 8, scheme=scheme).collect()
    }
    col = {
        (r.vec_id, r.table): r.bucket
        for r in similarity.lsh_bucketize(
            both, 6, 8, scheme=scheme, dim=64).select(
            "vec_id", "table", "bucket").collect()
    }
    assert np_form == col
    # and the agg form agrees everywhere it is defined to (well-formed
    # vectors) — the three-way triangle np == column == agg
    agg = {
        (r.vec_id, r.table): r.bucket
        for r in similarity.lsh_buckets_agg(
            both, "vec_id", "embedding", 6, 8, scheme=scheme).collect()
        if r.vec_id < 900003
    }
    assert {k: v for k, v in np_form.items() if k[0] < 900003} == agg


def test_rademacher_planes_decorrelated():
    """The portable plane generator must not produce copied/complement
    planes (the affine-LCG failure mode that collapsed tables to two
    buckets and made the candidate join near-cartesian).  Pure-Python
    check over every plane pair of a 16×8 config."""
    import itertools

    planes = {
        (t, p): [similarity._rademacher_component(t, p, d)
                 for d in range(64)]
        for t in range(16)
        for p in range(8)
    }
    for a, b in itertools.combinations(planes, 2):
        agree = sum(
            x == y for x, y in zip(planes[a], planes[b])
        ) / 64
        assert 0.15 < agree < 0.85, (a, b, agree)
    ones = sum(v.count(1.0) for v in planes.values()) / (128 * 64)
    assert 0.4 < ones < 0.6  # balanced signs


def test_rademacher_buckets_well_spread(spark):
    """On the live fixture, every table's bucket histogram must look
    like independent planes: no table may collapse below half the
    possible buckets or put most vectors into one bucket."""
    em = load_table(spark, SF, "embeddings")
    n = em.count()
    b = similarity.lsh_buckets_np(
        em, "vec_id", "embedding", 6, 8, scheme="rademacher"
    )
    stats = (
        b.groupBy("table", "bucket").count()
        .groupBy("table")
        .agg(F.max("count").alias("mx"), F.count("*").alias("nb"))
        .collect()
    )
    assert len(stats) == 8
    for r in stats:
        assert r["nb"] >= 32, (r["table"], r["nb"])   # of 64 possible
        assert r["mx"] <= n * 0.3, (r["table"], r["mx"])


def test_ivf_assign_np_matches_fold_form(spark):
    """The numpy cell assignment must agree with the JVM greatest-fold
    (_best_cell) on every fixture vector, including its tie-break
    (largest cell id) and the NULL-vector cell = -1 fallback."""
    from pyspark.sql import functions as FF

    em = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    extra = spark.createDataFrame(
        [(900001, None)], "vec_id long, embedding array<float>",
    )
    both = em.unionByName(extra)
    cent = similarity.ivf_centroids(em, n_cells=16)
    np_form = {
        r.vec_id: r.cell
        for r in similarity.ivf_assign_np(both, cent).collect()
    }
    fold = {
        r.vec_id: r.cell
        for r in both.select(
            "vec_id",
            similarity.as_double(FF.col("embedding")).alias("__v"),
            similarity.l2_norm(
                similarity.as_double(FF.col("embedding"))
            ).alias("__vn"),
        )
        .crossJoin(FF.broadcast(similarity._cells_array(cent)))
        .select(
            "vec_id",
            similarity._best_cell(
                FF.col("__v"), FF.col("__vn")
            ).alias("cell"),
        )
        .collect()
    }
    assert np_form == fold
    assert np_form[900001] == -1


def test_semdedup_keeps_lowest_id_and_prunes_no_survivor_pairs(spark):
    """Brute-force replica of the keep rule: an id is pruned iff SOME
    lower id in the same cell is within the rounded-cosine threshold
    (the witness itself may later be pruned by an even lower id —
    that does not un-prune anyone).  The kept set must match exactly,
    and both sides must be non-degenerate on the fixture."""
    from level2_to_cassandra_spark.operators import similarity
    from level2_to_cassandra_spark.queries.llm import (
        _SEMDEDUP_THRESHOLD, q_semdedup,
    )
    from tests.conftest import SF_SMOKE

    em = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    _cent, assigned = similarity.ivf_index(
        em, n_cells=16, scheme="portable", round_assign=6
    )
    cells = {r.vec_id: r.cell for r in assigned.select("vec_id", "cell").collect()}
    vecs = {r.vec_id: r.embedding for r in em.collect()}
    import math

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return round(d / (na * nb), 4)

    expected_pruned = set()
    for b, cb in cells.items():
        for a, ca in cells.items():
            if a < b and ca == cb and cos(vecs[a], vecs[b]) >= _SEMDEDUP_THRESHOLD:
                expected_pruned.add(b)
                break
    kept = {r.vec_id for r in q_semdedup(spark, SF_SMOKE).collect()}
    assert kept == set(cells) - expected_pruned
    assert kept  # non-degenerate: something survives
    assert expected_pruned  # non-degenerate: something was pruned


def test_text_entropy_bounds_and_extremes(spark):
    """Entropy ∈ [0, log2(alphabet)]; a single-repeated-char doc hits
    exactly 0.0 (the -0.0 normalization edge) and a doc of all-distinct
    chars hits exactly log2(n)."""
    import math
    import tempfile

    from level2_to_cassandra_spark.plans import plan_of
    from level2_to_cassandra_spark.queries.llm import q_text_entropy
    from tests.conftest import SF_SMOKE

    df = q_text_entropy(spark, SF_SMOKE)
    # two map-side-combined aggs (per-(doc,char) count + per-doc sum)
    assert plan_of(df, "simple").count("Exchange hashpartitioning") == 2
    for r in df.collect():
        assert 0.0 <= r.char_entropy <= math.log2(max(r.n_chars, 2))
    rows = [(1, "aaaaaaaa"), (2, "abcdefgh")]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(rows, ["doc_id", "text"]).write.parquet(
            f"{d}/documents.parquet"
        )
        got = {r.doc_id: r.char_entropy
               for r in q_text_entropy(spark, d).collect()}
    assert got[1] == 0.0 and math.copysign(1.0, got[1]) == 1.0
    assert got[2] == 3.0


def test_pq_adc_recall_and_exactness_at_full_shortlist(spark):
    """PQ ADC with the registered shortlist must recover a usable slice
    of the exact top-10 even on incompressible near-random fixtures;
    with shortlist >= corpus the ADC ordering is irrelevant (everything
    reaches the exact re-rank) and the result must EQUAL brute force —
    the approximation is ONLY the shortlist cut."""
    em = load_table(spark, SF, "embeddings")
    queries = em.where(F.col("vec_id") < 5)
    want = {
        (r.query_id, r.neighbor_id)
        for r in similarity.brute_topk(em, queries, k=10,
                                       round_cos=4).collect()
    }
    got = {
        (r.query_id, r.neighbor_id)
        for r in similarity.pq_adc_topk(em, queries, topk=10,
                                        shortlist=30).collect()
    }
    assert len(got & want) / len(want) >= 0.25
    n = em.count()
    full = {
        (r.query_id, r.neighbor_id)
        for r in similarity.pq_adc_topk(em, queries, topk=10,
                                        shortlist=n).collect()
    }
    assert full == want


def test_pq_codebook_deterministic_and_codes_bounded(spark):
    """Training twice yields the bit-identical codebook (md5 seeds +
    rounded means); every emitted code is a surviving codebook key and
    the reconstruction norm is positive."""
    em = load_table(spark, SF, "embeddings")
    cb1 = similarity.pq_train(em)
    cb2 = similarity.pq_train(em)
    assert cb1 == cb2
    assert all(len(cw) == similarity._PQ_SUBDIM for cw in cb1.values())
    enc = similarity.pq_encode(em, cb1)
    rows = enc.collect()
    assert len(rows) == em.count()
    surviving = {s: {c for (ss, c) in cb1 if ss == s}
                 for s in range(similarity._PQ_M)}
    for r in rows:
        assert len(r.codes) == similarity._PQ_M
        for s, code in enumerate(r.codes):
            assert code in surviving[s]
        assert r.recon_norm > 0


def test_pq_encode_np_matches_fold_form(spark):
    """The Arrow encode kernel and the pure-JVM fold form must agree
    exactly on codes; recon_norm may differ only at the round-half
    boundary class (np rounds the binary double like DuckDB, F.round
    the decimal repr — no fixture value sits on a boundary)."""
    em = load_table(spark, SF, "embeddings")
    cb = similarity.pq_train(em)
    a = {r.neighbor_id: (tuple(r.codes), r.recon_norm)
         for r in similarity.pq_encode(em, cb).collect()}
    b = {r.neighbor_id: (tuple(r.codes), r.recon_norm)
         for r in similarity.pq_encode_fold(em, cb).collect()}
    assert a == b


def test_ivfpq_recall_and_exactness(spark):
    """IVF-PQ composes two approximations (cell cut × code
    compression); with every knob opened (nprobe=n_cells,
    shortlist>=corpus) both vanish and the result must EQUAL brute
    force — at the registered settings only a recall floor holds on
    the incompressible random fixture."""
    em = load_table(spark, SF, "embeddings")
    queries = em.where(F.col("vec_id") < 5)
    want = {
        (r.query_id, r.neighbor_id)
        for r in similarity.brute_topk(em, queries, k=10,
                                       round_cos=4).collect()
    }
    got = {
        (r.query_id, r.neighbor_id)
        for r in similarity.ivfpq_topk(em, queries, topk=10,
                                       shortlist=30, nprobe=6).collect()
    }
    assert len(got & want) / len(want) >= 0.2
    n = em.count()
    full = {
        (r.query_id, r.neighbor_id)
        for r in similarity.ivfpq_topk(em, queries, topk=10,
                                       shortlist=n, nprobe=16).collect()
    }
    assert full == want


def test_pq_paths_handle_empty_query_batch(spark):
    """An empty query relation must yield an empty result, not an
    Arrow-worker crash (np.stack of zero arrays)."""
    em = load_table(spark, SF, "embeddings")
    empty = em.where(F.col("vec_id") < 0)
    assert similarity.pq_adc_topk(em, empty, topk=5).count() == 0
    assert similarity.ivfpq_topk(em, empty, topk=5).count() == 0


def test_ivfpq_residual_recall_and_exactness(spark):
    """by_residual=True (FAISS's default refinement): codebooks train
    on (vector − centroid) and the scorer reconstructs cos(q, c + r̂)
    from driver-side tables (_adc_scored_residual).  Same contract as
    the non-residual mode: with every knob opened (nprobe=n_cells,
    shortlist≥corpus) the compression vanishes through the exact
    re-rank and the result must EQUAL brute force; at the registered
    knobs a recall floor holds."""
    em = load_table(spark, SF, "embeddings")
    queries = em.where(F.col("vec_id") < 5)
    want = {
        (r.query_id, r.neighbor_id)
        for r in similarity.brute_topk(em, queries, k=10,
                                       round_cos=4).collect()
    }
    got = {
        (r.query_id, r.neighbor_id)
        for r in similarity.ivfpq_topk(em, queries, topk=10,
                                       shortlist=30, nprobe=6,
                                       by_residual=True).collect()
    }
    assert len(got & want) / len(want) >= 0.2
    n = em.count()
    full = {
        (r.query_id, r.neighbor_id)
        for r in similarity.ivfpq_topk(em, queries, topk=10,
                                       shortlist=n, nprobe=16,
                                       by_residual=True).collect()
    }
    assert full == want


def test_ivfpq_prebuilt_index_matches_inline_and_unpersists(spark):
    """The build/serve split must be invisible to results: serving
    from a prebuilt IvfPqIndex (persist-backed AND parquet-backed)
    returns exactly the fused build+serve answer, and unpersist()
    releases the cached relations without breaking later plans."""
    import shutil
    import tempfile

    em = load_table(spark, SF, "embeddings")
    queries = em.where(F.col("vec_id") < 5)
    want = {
        (r.query_id, r.neighbor_id, r.cos, r.rank)
        for r in similarity.ivfpq_topk(em, queries, topk=10,
                                       shortlist=30, nprobe=6).collect()
    }
    idx = similarity.ivfpq_build(em)
    got = {
        (r.query_id, r.neighbor_id, r.cos, r.rank)
        for r in similarity.ivfpq_topk(em, queries, topk=10,
                                       shortlist=30, nprobe=6,
                                       index=idx).collect()
    }
    assert got == want
    idx.unpersist()
    assert idx._cached == ()
    # lazy recompute after release still works (lineage intact)
    assert len(similarity.ivfpq_topk(em, queries, topk=10, shortlist=30,
                                     nprobe=6, index=idx).collect()) > 0
    path = tempfile.mkdtemp(prefix="l2c_test_ivfpq_")
    try:
        pidx = similarity.ivfpq_build(em, path=path)
        got_p = {
            (r.query_id, r.neighbor_id, r.cos, r.rank)
            for r in similarity.ivfpq_topk(em, queries, topk=10,
                                           shortlist=30, nprobe=6,
                                           index=pidx).collect()
        }
        assert got_p == want
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_ivfpq_append_matches_frozen_encode(spark):
    """Incremental ingest: appending batch B to an index built on A
    must (a) leave A's rows code-for-code untouched, (b) give B
    exactly the codes a one-pass encode against A's FROZEN quantizers
    produces, and (c) serve correctly end-to-end — with open knobs the
    exact re-rank makes the merged index equal brute force over A∪B
    regardless of quantizer age."""
    em = load_table(spark, SF, "embeddings")
    em_a = em.where(F.col("vec_id") % 2 == 0)
    em_b = em.where(F.col("vec_id") % 2 == 1)
    idx_a = similarity.ivfpq_build(em_a)
    idx_ab = similarity.ivfpq_append(idx_a, em_b)

    def rows(df):
        return {
            (r.neighbor_id, tuple(r.codes), r.recon_norm, r.cell)
            for r in df.collect()
        }

    a_rows = rows(idx_a.index)
    ab_rows = rows(idx_ab.index)
    assert a_rows <= ab_rows
    cent = spark.createDataFrame(
        [(int(c), [float(x) for x in row])
         for c, row in zip(idx_a.cells, idx_a.cmat)],
        "cell int, __cv array<double>",
    )
    ref_b = rows(
        similarity.pq_assign_np(
            similarity.ivf_assign_np(em_b, cent, round_assign=6),
            idx_a.cb, mode="encode", carry_cell=True,
        )
    )
    assert ab_rows - a_rows == ref_b
    queries = em.where(F.col("vec_id") < 5)
    n = em.count()
    got = {
        (r.query_id, r.neighbor_id)
        for r in similarity.ivfpq_topk(em, queries, topk=10, shortlist=n,
                                       nprobe=16, index=idx_ab).collect()
    }
    want = {
        (r.query_id, r.neighbor_id)
        for r in similarity.brute_topk(em, queries, k=10,
                                       round_cos=4).collect()
    }
    assert got == want
    idx_ab.unpersist()


def test_adc_query_batch_guard(spark, monkeypatch):
    """The ADC paths build per-query lookup tables driver-side; an
    unbounded query relation must fail fast at the MAX_QUERY_BATCH
    ceiling (VERDICT r05 #4), not OOM the driver."""
    em = load_table(spark, SF, "embeddings")
    monkeypatch.setattr(similarity, "MAX_QUERY_BATCH", 3)
    with pytest.raises(ValueError, match="MAX_QUERY_BATCH"):
        similarity.pq_adc_topk(em, em.where(F.col("vec_id") < 10), topk=2)
    with pytest.raises(ValueError, match="MAX_QUERY_BATCH"):
        similarity.ivfpq_topk(em, em.where(F.col("vec_id") < 10), topk=2)


def test_residual_adc_matches_explicit_reconstruction(spark):
    """The residual scorer's table decomposition must equal the naive
    formulation: decode each row's residual from its codes, add the
    cell centroid, and take the cosine against the query — with the
    kernel's own rounding conventions (per-subspace partial dots
    rounded to 6 before summing; stored recon_norm for ‖r̂‖)."""
    import numpy as np

    from level2_to_cassandra_spark.operators.similarity import (
        np_round_half_away,
    )

    rng = np.random.RandomState(7)
    vecs = rng.randn(40, 64).round(3)
    em = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))],
        "vec_id long, embedding array<double>",
    )
    queries = em.where(F.col("vec_id") < 3)
    idx = similarity.ivfpq_build(em, n_cells=4, by_residual=True)
    got = {
        (r.query_id, r.neighbor_id): r.acos
        for r in similarity._adc_scored_residual(
            idx.index, idx.cb, queries.collect(), idx.cells, idx.cmat,
            idx.m, idx.sub_dim, "vec_id", "embedding",
            # probe everything: the decomposition, not the cut, is
            # under test
            {q: {int(c) for c in idx.cells} for q in range(3)},
        ).collect()
    }
    assert got, "no scored pairs"
    cent = {int(c): idx.cmat[i] for i, c in enumerate(idx.cells)}
    index_rows = idx.index.collect()
    m, sub = idx.m, idx.sub_dim
    for qid in range(3):
        q = vecs[qid]
        qn = float(np.sqrt((q * q).sum()))
        for row in index_rows:
            if row.neighbor_id == qid:
                continue
            c = cent[row.cell]
            adot = sum(
                float(np_round_half_away(
                    np.array([q[s * sub:(s + 1) * sub]
                              @ np.array(idx.cb[(s, code)])]), 6)[0])
                for s, code in enumerate(row.codes)
            )
            cdotr = sum(
                float(c[s * sub:(s + 1) * sub]
                      @ np.array(idx.cb[(s, code)]))
                for s, code in enumerate(row.codes)
            )
            numer = float(q @ c) + adot
            denom = float(np.sqrt(
                (c * c).sum() + 2.0 * cdotr + row.recon_norm ** 2
            ))
            want = numer / (qn * denom)
            have = got[(qid, row.neighbor_id)]
            assert abs(have - want) < 1e-6, (
                qid, row.neighbor_id, have, want,
            )
    idx.unpersist()


def test_asof_tolerance_nulls_stale_matches(spark):
    """asof_join(tolerance=...): a match older than the bound comes
    back all-NULL exactly like no match; numeric `on` uses the
    column's own units."""
    left = spark.createDataFrame(
        [(1, 100), (1, 200), (2, 50)], "k long, t long"
    )
    right = spark.createDataFrame(
        [(1, 95, "fresh"), (1, 90, "stale_for_200"), (2, 10, "old")],
        "k long, t long, tag string",
    )
    got = {
        (r.k, r.t): r.r_tag
        for r in asof_join(left, right, on="t", by=["k"],
                           right_cols=["tag"], tolerance=20).collect()
    }
    assert got[(1, 100)] == "fresh"      # 100-95=5 ≤ 20
    assert got[(1, 200)] is None         # 200-95=105 > 20
    assert got[(2, 50)] is None          # 50-10=40 > 20
    # without the bound all three match
    got_all = {
        (r.k, r.t): r.r_tag
        for r in asof_join(left, right, on="t", by=["k"],
                           right_cols=["tag"]).collect()
    }
    assert got_all == {(1, 100): "fresh", (1, 200): "fresh",
                       (2, 50): "old"}


def test_ivfpq_prebuilt_index_guards(spark):
    """Serve-time contract guards (ADVICE r06): (a) an explicitly
    passed quantizer knob conflicting with the prebuilt index's frozen
    value raises instead of being silently ignored; (b) matching or
    default knobs pass through; (c) ivfpq_check_coverage flags a
    corpus missing indexed ids and accepts a covering corpus."""
    em = load_table(spark, SF, "embeddings")
    queries = em.where(F.col("vec_id") < 3)
    idx = similarity.ivfpq_build(em, n_cells=4)
    try:
        # (a) conflicting knob → loud error
        with pytest.raises(ValueError, match="n_cells"):
            similarity.ivfpq_topk(em, queries, topk=5, n_cells=8,
                                  index=idx)
        with pytest.raises(ValueError, match="by_residual"):
            similarity.ivfpq_topk(em, queries, topk=5,
                                  by_residual=True, index=idx)
        # (b) explicitly matching and defaulted knobs both serve
        assert similarity.ivfpq_topk(em, queries, topk=5, n_cells=4,
                                     index=idx).count() > 0
        assert similarity.ivfpq_topk(em, queries, topk=5,
                                     index=idx).count() > 0
        # (c) coverage check: full corpus passes, a hole raises
        similarity.ivfpq_check_coverage(idx, em)
        with pytest.raises(ValueError, match="absent from the re-rank"):
            similarity.ivfpq_check_coverage(
                idx, em.where(F.col("vec_id") % 2 == 0))
    finally:
        idx.unpersist()


def test_brute_topk_query_broadcast_guard(spark, monkeypatch):
    """brute_topk must refuse a queries side beyond the broadcast-sane
    ceiling (the brute-force twin of the ADC MAX_QUERY_BATCH guard)
    instead of shipping a corpus-sized broadcast."""
    em = load_table(spark, SF, "embeddings")
    monkeypatch.setattr(similarity, "MAX_BROADCAST_QUERIES", 10)
    with pytest.raises(ValueError, match="MAX_BROADCAST_QUERIES"):
        similarity.brute_topk(em, em, k=3)
    # a bounded batch still works under the tightened ceiling
    assert similarity.brute_topk(
        em, em.where(F.col("vec_id") < 5), k=3).count() > 0


def test_asof_join_forward_boundaries(spark):
    """direction='forward': next right row at-or-after each left row;
    strict excludes the tie; tolerance bounds the LOOK-AHEAD distance
    (rt - lt); invalid direction raises."""
    left = spark.createDataFrame(
        [(1, 100), (1, 200), (2, 150)], "k long, ts long"
    )
    right = spark.createDataFrame(
        [(1, 100, "a"), (1, 150, "b"), (2, 149, "c")],
        "k long, ts long, v string"
    )
    out = {
        (r.k, r.ts): r.r_v
        for r in asof_join(left, right, on="ts", by=["k"],
                           right_cols=["v"],
                           direction="forward").collect()
    }
    assert out[(1, 100)] == "a"   # equal timestamps match (fwd incl.)
    assert out[(1, 200)] is None  # nothing at-or-after 200
    assert out[(2, 150)] is None  # right row is BEFORE the left row
    strict = {
        (r.k, r.ts): r.r_v
        for r in asof_join(left, right, on="ts", by=["k"],
                           right_cols=["v"], strict=True,
                           direction="forward").collect()
    }
    assert strict[(1, 100)] == "b"  # strict '>' skips the tie, next is b
    tol = {
        (r.k, r.ts): r.r_v
        for r in asof_join(left, right, on="ts", by=["k"],
                           right_cols=["v"], strict=True, tolerance=10,
                           direction="forward").collect()
    }
    assert tol[(1, 100)] is None  # b is 50 ahead, beyond the 10 bound
    import pytest as _pytest
    with _pytest.raises(ValueError, match="direction"):
        asof_join(left, right, on="ts", by=["k"], direction="sideways")


def test_asof_join_nearest_semantics(spark):
    """direction='nearest' (pandas merge_asof parity): closest right
    row by absolute distance, exact ties to the backward candidate;
    strict excludes exact-time matches on both sides; tolerance bounds
    each candidate's distance before the choice."""
    from level2_to_cassandra_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 100), (1, 140), (1, 300), (2, 50)], "k long, ts long"
    )
    right = spark.createDataFrame(
        [(1, 100, "a"), (1, 150, "b"), (1, 260, "c"), (2, 70, "d")],
        "k long, ts long, v string"
    )

    def run(**kw):
        return {
            (r.k, r.ts): r.r_v
            for r in asof_join(left, right, on="ts", by=["k"],
                               right_cols=["v"], direction="nearest",
                               **kw).collect()
        }

    out = run()
    assert out[(1, 100)] == "a"   # exact match wins (distance 0)
    assert out[(1, 140)] == "b"   # |140-150|=10 beats |140-100|=40
    assert out[(1, 300)] == "c"   # only a backward candidate remains
    assert out[(2, 50)] == "d"    # forward-only match
    # exact tie: 200 is 50 from both 150 and 250 → backward wins
    tie_l = spark.createDataFrame([(1, 200)], "k long, ts long")
    tie_r = spark.createDataFrame(
        [(1, 150, "lo"), (1, 250, "hi")], "k long, ts long, v string"
    )
    tied = asof_join(tie_l, tie_r, on="ts", by=["k"], right_cols=["v"],
                     direction="nearest").collect()[0]
    assert tied.r_v == "lo"
    strict = run(strict=True)
    assert strict[(1, 100)] == "b"  # the exact match is excluded, next
    tol = run(tolerance=15)
    assert tol[(1, 140)] == "b"     # distance 10 inside the bound
    assert tol[(1, 300)] is None    # 40 from 260: beyond the bound

    # the self-review r09 regression: an equal-time right must not
    # SHADOW the strictly-earlier row under strict — pandas
    # merge_asof(nearest, allow_exact_matches=False) picks 'x' (d=5),
    # never 'z' (d=100) or null
    sl = spark.createDataFrame([(1, 100)], "k long, ts long")
    sr = spark.createDataFrame(
        [(1, 95, "x"), (1, 100, "y"), (1, 200, "z")],
        "k long, ts long, v string"
    )
    [row] = asof_join(sl, sr, on="ts", by=["k"], right_cols=["v"],
                      direction="nearest", strict=True).collect()
    assert row.r_v == "x"
    # mirrored shadow on the forward side: equal-time right must not
    # hide the strictly-later row either
    sr2 = spark.createDataFrame(
        [(1, 100, "y"), (1, 103, "w")], "k long, ts long, v string"
    )
    [row2] = asof_join(sl, sr2, on="ts", by=["k"], right_cols=["v"],
                       direction="nearest", strict=True).collect()
    assert row2.r_v == "w"


def test_ivfpq_streaming_ingest_matches_batch_append(spark, tmp_path):
    """Streaming ANN ingest: micro-batches of vectors landed by
    foreach_batch_ivfpq_ingest + one ivfpq_ingest_merge must yield
    code-for-code the index ivfpq_append produces from the same rows
    in one batch — and replaying a landed batch (at-least-once
    foreachBatch) must change nothing (idempotent overwrite)."""
    import json as _json

    em = load_table(spark, SF, "embeddings")
    em_a = em.where(F.col("vec_id") % 2 == 0)
    em_b = em.where(F.col("vec_id") % 2 == 1)
    base_path = str(tmp_path / "index")
    idx = similarity.ivfpq_build(em_a, path=base_path)

    # stream em_b as 2 micro-batches (JSONL file source, 1 file each)
    d = tmp_path / "stream"
    d.mkdir()
    rows = em_b.select("vec_id", "embedding").collect()
    half = len(rows) // 2
    for i, chunk in enumerate((rows[:half], rows[half:])):
        (d / f"part-{i:03d}.jsonl").write_text(
            "\n".join(
                _json.dumps({"vec_id": r.vec_id,
                             "embedding": [float(x) for x in r.embedding]})
                for r in chunk
            )
        )
    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
    )
    ingest = str(tmp_path / "ingest")
    cb = similarity.foreach_batch_ivfpq_ingest(idx, ingest)
    q = (
        stream.writeStream.foreachBatch(cb)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)

    # at-least-once replay: re-land batch 0 by hand — must be a no-op
    b0 = spark.read.schema("vec_id long, embedding array<float>").json(
        str(d / "part-000.jsonl")
    )
    cb(b0, 0)

    merged = similarity.ivfpq_ingest_merge(idx, ingest)

    def rows_of(df):
        return {
            (r.neighbor_id, tuple(r.codes), r.recon_norm, r.cell)
            for r in df.collect()
        }

    want = rows_of(
        similarity.ivfpq_append(
            similarity.ivfpq_build(em_a, path=str(tmp_path / "index2")),
            em_b,
        ).index
    )
    assert rows_of(merged.index) == want
    similarity.ivfpq_check_coverage(merged, em)  # every id serveable


def test_ivfpq_ingest_merge_empty_staging_noop(spark, tmp_path):
    """Merging an absent or empty staging tree returns the index
    unchanged (scheduled merges must tolerate idle ingest windows)."""
    em = load_table(spark, SF, "embeddings").where(F.col("vec_id") % 2 == 0)
    idx = similarity.ivfpq_build(em, path=str(tmp_path / "idx"))
    before = idx.index.count()
    out = similarity.ivfpq_ingest_merge(idx, str(tmp_path / "missing"))
    assert out is idx
    empty = tmp_path / "empty"
    empty.mkdir()
    out2 = similarity.ivfpq_ingest_merge(idx, str(empty))
    assert out2 is idx and idx.index.count() == before


def test_ivfpq_ingest_merge_consumes_staging(spark, tmp_path):
    """A second merge cycle must not double-append: the staging tree is
    consumed on successful merge, so merge; merge is idempotent and
    merge; ingest; merge folds only the new batch."""
    em = load_table(spark, SF, "embeddings")
    em_a = em.where(F.col("vec_id") % 2 == 0)
    em_b = em.where(F.col("vec_id") % 2 == 1)
    idx = similarity.ivfpq_build(em_a, path=str(tmp_path / "idx"))
    ingest = str(tmp_path / "ingest")
    cb = similarity.foreach_batch_ivfpq_ingest(idx, ingest)
    cb(em_b.select("vec_id", "embedding"), 0)

    m1 = similarity.ivfpq_ingest_merge(idx, ingest)
    n = m1.index.count()
    assert n == em.count()
    m2 = similarity.ivfpq_ingest_merge(m1, ingest)
    assert m2.index.count() == n  # staging consumed: no double-append


def test_ivfpq_ingest_merge_concurrent_writer_survives(
        spark, tmp_path, monkeypatch):
    """The ADVICE r07/r08 medium finding: a live ingest stream landing
    a batch dir WHILE a merge runs must not lose that batch.  The
    merge snapshots the staging entry list up front and deletes only
    the snapshotted dirs, so a dir landed after the snapshot — here
    injected at the sharpest point, between the index append and the
    staging cleanup, via a shutil.rmtree wrapper — survives in
    staging and is folded in by the NEXT merge cycle."""
    import os
    import shutil

    em = load_table(spark, SF, "embeddings")
    em_a = em.where(F.col("vec_id") % 3 == 0)
    em_b = em.where(F.col("vec_id") % 3 == 1)
    em_c = em.where(F.col("vec_id") % 3 == 2)
    idx = similarity.ivfpq_build(em_a, path=str(tmp_path / "idx"))
    ingest = str(tmp_path / "ingest")
    cb = similarity.foreach_batch_ivfpq_ingest(idx, ingest)
    cb(em_b.select("vec_id", "embedding"), 0)

    real_rmtree = shutil.rmtree
    landed = {"done": False}

    def racing_rmtree(path, *a, **kw):
        if not landed["done"]:
            landed["done"] = True  # land BEFORE the first delete runs
            cb(em_c.select("vec_id", "embedding"), 1)
        return real_rmtree(path, *a, **kw)

    monkeypatch.setattr(shutil, "rmtree", racing_rmtree)
    m1 = similarity.ivfpq_ingest_merge(idx, ingest)
    monkeypatch.setattr(shutil, "rmtree", real_rmtree)

    assert landed["done"]  # the race actually happened
    # merge #1 folded only the snapshotted batch (b0)...
    assert m1.index.count() == em_a.count() + em_b.count()
    # ...and the concurrently-landed batch dir SURVIVED in staging
    assert os.path.isdir(os.path.join(ingest, "b00000001"))
    # the next scheduled merge folds it in: zero vectors lost
    m2 = similarity.ivfpq_ingest_merge(m1, ingest)
    assert m2.index.count() == em.count()
    assert (
        {r.neighbor_id for r in m2.index.select("neighbor_id").collect()}
        == {r.vec_id for r in em.select("vec_id").collect()}
    )
    similarity.ivfpq_check_coverage(m2, em)


def test_ivfpq_ingest_merge_skips_uncommitted_batch_dir(spark, tmp_path):
    """A batch dir MID-WRITE at snapshot time (part files visible, no
    _SUCCESS job-commit marker yet) must be neither read nor deleted —
    consuming it would append a partial batch while destroying the
    rest (self-review r09).  Once the marker lands, the next merge
    folds the full batch."""
    import os
    import shutil

    em = load_table(spark, SF, "embeddings")
    em_a = em.where(F.col("vec_id") % 2 == 0)
    em_b = em.where(F.col("vec_id") % 2 == 1)
    idx = similarity.ivfpq_build(em_a, path=str(tmp_path / "idx"))
    ingest = str(tmp_path / "ingest")
    cb = similarity.foreach_batch_ivfpq_ingest(idx, ingest)
    cb(em_b.select("vec_id", "embedding"), 0)

    # simulate the mid-write state: committed part files, marker gone
    b0 = os.path.join(ingest, "b00000000")
    os.remove(os.path.join(b0, "_SUCCESS"))

    import pytest as _pytest

    # the skip must be OBSERVABLE (a marker-disabled session would
    # otherwise no-op forever while staging grows)
    with _pytest.warns(UserWarning, match="_SUCCESS"):
        m1 = similarity.ivfpq_ingest_merge(idx, ingest)
    assert m1 is idx                      # nothing consumable yet
    assert os.path.isdir(b0)              # and the dir was NOT deleted
    assert any(f.endswith(".parquet") for f in os.listdir(b0))

    # the writer finishes (replay rewrites + commits the batch)
    shutil.rmtree(b0)
    cb(em_b.select("vec_id", "embedding"), 0)
    m2 = similarity.ivfpq_ingest_merge(idx, ingest)
    assert m2.index.count() == em.count()
    assert not os.path.exists(b0)         # consumed after commit


def test_ivfpq_ingest_merge_cleans_empty_committed_and_warns_stray(
        spark, tmp_path):
    """ADVICE r09 low #1: a committed-but-EMPTY batch dir (_SUCCESS,
    no part files — what an empty micro-batch commits) is a consumable
    no-op that must be DELETED, not skipped forever; a stray
    non-directory file in the staging root is left alone (never
    deleted) but reported."""
    import os

    em = load_table(spark, SF, "embeddings")
    idx = similarity.ivfpq_build(em, path=str(tmp_path / "idx"))
    ingest = tmp_path / "ingest"
    empty = ingest / "b00000042"
    empty.mkdir(parents=True)
    (empty / "_SUCCESS").touch()
    stray = ingest / "README.txt"
    stray.write_text("not a batch dir")

    before = idx.index.count()
    m = similarity.ivfpq_ingest_merge(idx, str(ingest))
    assert m.index.count() == before      # no codes were appended
    assert not empty.exists()             # the no-op dir is cleaned
    assert stray.exists()                 # the stray file is untouched


def test_kmeans_is_a_deterministic_partition(spark):
    """q_cluster_kmeans: the output is a PARTITION of the corpus
    (every vector labeled exactly once), cluster ids are seed slots
    1.._KMEANS_K, cluster_size is the true group cardinality, and the
    fixed md5 seeds + rounded Lloyd steps make the labeling
    bit-reproducible across runs (the exactness the DuckDB full-replay
    oracle then certifies cross-engine)."""
    import collections

    from level2_to_cassandra_spark.queries.llm import (
        _KMEANS_K,
        q_cluster_kmeans,
    )

    out = [tuple(r) for r in q_cluster_kmeans(spark, SF).collect()]
    n_corpus = load_table(spark, SF, "embeddings").count()
    assert len(out) == n_corpus
    assert len({v for v, _, _ in out}) == n_corpus
    sizes = collections.Counter(c for _, c, _ in out)
    assert set(sizes) <= set(range(1, _KMEANS_K + 1))
    assert len(sizes) > 1          # the corpus actually splits
    assert all(s == sizes[c] for _, c, s in out)
    rerun = [tuple(r) for r in q_cluster_kmeans(spark, SF).collect()]
    assert sorted(out) == sorted(rerun)


def test_cluster_sample_is_a_balanced_subset(spark):
    """q_sample_cluster: per-cluster draw counts equal
    min(quota, cluster size) against q_cluster_kmeans's own sizes,
    every drawn (vec_id, cluster_id) pair exists in the assignment,
    ranks are dense 1..count within each cluster, and the salted-md5
    race redraws identically."""
    import collections

    from level2_to_cassandra_spark.queries.llm import (
        _CLUSTER_SAMPLE_QUOTA,
        q_cluster_kmeans,
        q_sample_cluster,
    )

    assign = {r.vec_id: r.cluster_id
              for r in q_cluster_kmeans(spark, SF).collect()}
    sizes = collections.Counter(assign.values())
    out = [tuple(r) for r in q_sample_cluster(spark, SF).collect()]
    drawn = collections.Counter(c for _, c, _ in out)
    assert dict(drawn) == {
        c: min(_CLUSTER_SAMPLE_QUOTA, n) for c, n in sizes.items()
    }
    assert all(assign[v] == c for v, c, _ in out)
    by_cluster = collections.defaultdict(list)
    for _, c, rk in out:
        by_cluster[c].append(rk)
    assert all(sorted(rks) == list(range(1, len(rks) + 1))
               for rks in by_cluster.values())
    rerun = [tuple(r) for r in q_sample_cluster(spark, SF).collect()]
    assert sorted(out) == sorted(rerun)


def test_dedup_multimodal_gate_decides_per_modality(spark, tmp_path):
    """q_dedup_multimodal's documented rule on a fixture built so the
    two modality verdicts DISAGREE: a doc that is only a text-dup and a
    doc that is only an embedding near-dup must both be rejected (the
    gate is any-modality), canonicals and untouched docs admitted, and
    a CROSS-modal chain (5≡6 by text, 6≈7 by embedding) must collapse
    into one cluster that rejects 7 even though no single-modality gate
    links 5 and 7."""
    from level2_to_cassandra_spark.queries.llm import q_dedup_multimodal

    texts = {
        0: "alpha unique text zero",
        1: "bravo unique text one",
        2: "shared duplicate body",
        3: "shared duplicate body",       # text-dup of 2, embed-unique
        4: "charlie standalone text",
        5: "chain head shared text",
        6: "chain head shared text",      # text-dup of 5
        7: "delta unique tail text",      # embed-dup of 6 only
    }
    # one-hot embeddings: identical vector => sign-LSH candidate with
    # cos 1.0; distinct one-hots are orthogonal (cos 0 < 0.35)
    hot = {0: 0, 1: 0, 2: 2, 3: 3, 4: 4, 5: 5, 6: 7, 7: 7}
    docs = [(i, t, "en", "synth", len(t)) for i, t in texts.items()]
    vecs = [
        (i, [1.0 if d == hot[i] else 0.0 for d in range(64)], 0)
        for i in texts
    ]
    sf_dir = str(tmp_path / "sf_mm")
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, "
              "n_chars long"
    ).coalesce(1).write.parquet(f"{sf_dir}/documents.parquet")
    spark.createDataFrame(
        vecs, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.parquet(f"{sf_dir}/embeddings.parquet")

    got = {
        r.doc_id: (r.text_dup, r.embed_dup, r.canonical_id, r.keep)
        for r in q_dedup_multimodal(spark, sf_dir).collect()
    }
    assert got == {
        0: (False, True, 0, True),    # embed-dup canonical: admitted
        1: (False, True, 0, False),   # embed-only dup: rejected
        2: (True, False, 2, True),    # text-dup canonical: admitted
        3: (True, False, 2, False),   # text-only dup: rejected
        4: (False, False, 4, True),   # untouched by either gate
        5: (True, False, 5, True),    # chain canonical: admitted
        6: (True, True, 5, False),    # both gates fire: rejected
        7: (False, True, 5, False),   # rejected ONLY via the cross-
                                      # modal chain through 6
    }


def test_embed_covariance_matches_numpy(spark):
    """q_embed_covariance vs numpy's np.cov-style direct computation on
    the collected fixture — validates the distributed Gram-partial
    reduction independent of the DuckDB oracle (kernel-vs-spec
    discipline).  Rounded at 6 on both sides, upper triangle only."""
    import numpy as np

    from level2_to_cassandra_spark.queries.llm import q_embed_covariance

    X = np.array(
        [r.embedding for r in
         load_table(spark, SF, "embeddings").collect()],
        dtype=np.float64,
    )
    n = X.shape[0]
    mean = X.sum(axis=0) / n
    cov = (X.T @ X) / n - np.outer(mean, mean)
    got = {(r.i, r.j): (r.cov, r.n)
           for r in q_embed_covariance(spark, SF).collect()}
    assert len(got) == 64 * 65 // 2
    for (i, j), (c, cnt) in got.items():
        assert cnt == n and i <= j
        assert c == pytest.approx(round(cov[i, j], 6), abs=2e-6)
    # the diagonal is a variance: non-negative (allow the -0.0 that
    # rounding a tiny negative float artifact can produce)
    assert all(c >= -1e-6 for (i, j), (c, _) in got.items() if i == j)


def test_embed_covariance_negative_zero_normalized(spark, tmp_path):
    """Regression for the r11 driver hash failure: a covariance cell
    whose true value is a TINY NEGATIVE (engineered here: cov(5,9) =
    (x1-x2)(y1-y2)/4 = -1e-8 on a 2-row corpus) rounds to -0.0 under
    DuckDB's sign-preserving ROUND but +0.0 under Spark's BigDecimal
    HALF_UP round — numerically equal, so every tolerant compare
    passed, but the driver's value hash distinguishes the
    representations.  round_signless(_sql) normalizes with `+ 0.0` on
    BOTH sides; this test pins repr-level agreement (the driver's
    strictness) and that neither side ever emits '-0.0'.  Also pins
    the element-null mirror: a vector with a NULL element is dropped
    by both engines (n stays 2)."""
    import duckdb

    from level2_to_cassandra_spark.queries.llm import q_embed_covariance
    from level2_to_cassandra_spark.registry import all_queries

    base = [0.0] * 64
    a, b = list(base), list(base)
    a[5], a[9] = 2e-4, 0.0
    b[5], b[9] = 0.0, 2e-4
    null_elem = list(base)
    null_elem[3] = None
    sf_dir = str(tmp_path / "sf_negzero")
    spark.createDataFrame(
        [(0, a), (1, b), (2, null_elem)],
        "vec_id long, embedding array<float>",
    ).coalesce(1).write.parquet(f"{sf_dir}/embeddings.parquet")

    got = {(r.i, r.j): (r.cov, r.n)
           for r in q_embed_covariance(spark, sf_dir).collect()}
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS "
        # Spark writes a part-file directory; the testdata fixtures the
        # driver reads are single files — glob covers both
        f"SELECT * FROM '{sf_dir}/embeddings.parquet/*.parquet'"
    )
    oracle = all_queries()["q_embed_covariance"].oracle
    want = {(i, j): (cov, n)
            for i, j, cov, n in con.sql(oracle).fetchall()}
    con.close()

    assert got.keys() == want.keys() and len(got) == 64 * 65 // 2
    for key, (gc, gn) in got.items():
        wc, wn = want[key]
        # repr-exact: the driver's hash bar, strictly stronger than ==
        assert repr(float(gc)) == repr(float(wc)), (key, gc, wc)
        assert gn == wn == 2  # the element-null vector dropped BOTH sides
        assert repr(float(gc)) != "-0.0"
    # the engineered cell actually exercised the tiny-negative path
    assert got[(5, 9)][0] == 0.0


def test_embed_pca_matches_numpy_eigendecomposition(spark):
    """q_embed_pca vs numpy's exact eigendecomposition on the
    collected fixture — validates that the rounded fixed-K power
    iteration actually lands on the dominant eigenpair (kernel-vs-spec
    discipline, independent of the DuckDB oracle which replays the
    same iteration):

    * lambda1 ≈ the top eigenvalue of the (rounded) covariance;
    * the projection scores correlate with numpy's exact top-component
      scores up to the iteration's sign (|cosine| ≈ 1);
    * lambda1 is constant across rows and the admitted row count
      matches the covariance query's n."""
    import numpy as np

    from level2_to_cassandra_spark.queries.llm import (
        q_embed_covariance,
        q_embed_pca,
    )

    rows = q_embed_pca(spark, SF).collect()
    n_cov = {r.n for r in q_embed_covariance(spark, SF).collect()}
    assert len(rows) == n_cov.pop() and not n_cov
    lams = {r.lambda1 for r in rows}
    assert len(lams) == 1
    lam = lams.pop()

    X = np.array(
        [r.embedding for r in
         load_table(spark, SF, "embeddings").collect()],
        dtype=np.float64,
    )
    n = X.shape[0]
    mean = X.sum(axis=0) / n
    cov = np.round((X.T @ X) / n - np.outer(mean, mean), 6)
    evals, evecs = np.linalg.eigh(cov)
    top_val, top_vec = evals[-1], evecs[:, -1]
    assert lam == pytest.approx(top_val, rel=0.02)

    want = (X - mean) @ top_vec
    got = np.array([r.pc1 for r in sorted(rows, key=lambda r: r.vec_id)])
    # pc1 is the UNcentered projection (x·v, not (x-mean)·v) of the
    # max-abs-normalized iterate: correlation with the exact centered
    # component is sign/scale/shift-invariant, so compare centered,
    # normalized shapes
    got_c = got - got.mean()
    cos = abs(got_c @ want) / (
        np.linalg.norm(got_c) * np.linalg.norm(want)
    )
    assert cos > 0.999


def test_text_containment_is_asymmetric(spark, tmp_path):
    """Containment semantics on a constructed corpus: a short doc fully
    inside a much longer one scores containment 1.0 in the short→long
    direction while the long→short direction and the symmetric Jaccard
    both stay far below threshold — exactly the subset-document case
    q_llm_dedup_fuzzy is blind to."""
    from level2_to_cassandra_spark.queries.llm import (
        _CONTAINMENT_THRESHOLD,
        q_text_containment,
    )

    short = "alpha beta gamma delta epsilon zeta"
    filler = " ".join(f"w{i:03d} x{i:03d} y{i:03d}" for i in range(30))
    docs = [
        (0, short, "en", "synth", len(short)),
        (1, short + " " + filler, "en", "synth", 1),
        (2, "totally unrelated words only here", "en", "synth", 1),
    ]
    sf_dir = str(tmp_path / "sf_cont")
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, "
              "n_chars long"
    ).coalesce(1).write.parquet(f"{sf_dir}/documents.parquet")

    rows = {(r.inner_id, r.outer_id): r.containment
            for r in q_text_containment(spark, sf_dir).collect()}
    # doc 0's 4 shingles all occur in doc 1 → containment 1.0 one way
    assert rows == {(0, 1): 1.0}
    assert 1.0 >= _CONTAINMENT_THRESHOLD


def test_containment_pairs_match_brute_force(spark):
    """containment_pairs (asymmetric prefix filter + positional/size
    bounds + cap) vs a driver-side brute-force over every ordered pair
    of a seeded random corpus: identical directional pair sets and
    containment values — the filters must be lossless at the operator
    threshold."""
    import itertools
    import random

    from level2_to_cassandra_spark.operators.minhash import (
        containment_pairs,
    )

    rng = random.Random(42)
    vocab = [f"w{i}" for i in range(40)]
    rows = []
    for i in range(60):
        n = rng.randint(4, 30)
        rows.append((i, " ".join(rng.choice(vocab) for _ in range(n))))
    # plant a true subset pair and a near-subset pair
    rows.append((100, rows[3][1] + " extra tail words here"))
    rows.append((101, rows[5][1]))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def shingles(t):
        w = t.split(" ")
        return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}

    sets = {i: shingles(t) for i, t in rows}
    t = 0.6
    want = {}
    for a, b in itertools.permutations(sets, 2):
        if not sets[a]:
            continue
        c = len(sets[a] & sets[b]) / len(sets[a])
        if c >= t:
            want[(a, b)] = round(c, 9)
    got = {
        (r.inner_id, r.outer_id): round(r.containment, 9)
        for r in containment_pairs(docs, threshold=t, k=3).collect()
    }
    assert got == want and want  # non-vacuous: planted pairs found


def test_containment_cap_inert_at_driver_sf(spark):
    """q_text_containment's stop-shingle cap (max_shingle_frac=0.01,
    min_cap_df=50) must prune NOTHING the candidate join needs on the
    fixtures the driver hashes (ADVICE r11: the cap is theoretically
    lossy, and its fixture inertness was asserted in prose only).
    Candidate sets with and without the cap must be identical at
    SF_CORRECT — the driver's correctness SF — which, with the
    exact-verification stage lossless by construction, makes the
    registered query exact there.  If a fixture regeneration ever
    drops min_df below the floor for some doc, this fails before the
    driver does."""
    from level2_to_cassandra_spark.catalog import load_table
    from level2_to_cassandra_spark.operators.minhash import (
        containment_pairs,
    )
    from tests.conftest import SF_CORRECT

    docs = load_table(spark, SF_CORRECT, "documents")
    kw = dict(threshold=0.79, k=3, candidates_only=True)
    plain = {
        (r.inner_id, r.outer_id)
        for r in containment_pairs(docs, **kw).collect()
    }
    capped = {
        (r.inner_id, r.outer_id)
        for r in containment_pairs(
            docs, max_shingle_frac=0.01, min_cap_df=50, **kw
        ).collect()
    }
    assert capped == plain and plain  # non-vacuous


def test_outlier_flags_constructed_directions(spark):
    """q_embed_outlier semantics on a constructed corpus: vectors
    aligned WITH the bulk score cosine ≈ 1 and pass; a vector pointing
    AWAY from the centroid scores below the -0.15 cut and flags.  Also
    pins the admission filter: NULL / wrong-length / element-NULL
    vectors are excluded from both the centroid and the output."""
    import os
    import tempfile

    from level2_to_cassandra_spark.queries.llm import q_embed_outlier

    base = [1.0] + [0.0] * 63
    anti = [-1.0] + [0.0] * 63
    rows = [(i, base, 0) for i in range(9)] + [(9, anti, 1)]
    rows += [(10, None, 0), (11, [1.0, 2.0], 0),
             (12, [None] + [0.0] * 63, 0)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(os.path.join(d, "embeddings.parquet"))
        out = {r.vec_id: r for r in q_embed_outlier(spark, d).collect()}
    assert set(out) == set(range(10))  # 10-12 not admitted
    assert out[9].is_outlier == 1 and out[9].cos_centroid < -0.15
    for i in range(9):
        assert out[i].is_outlier == 0 and out[i].cos_centroid > 0.9


def test_boilerplate_flags_constructed_corpus(spark):
    """q_text_boilerplate semantics on a constructed corpus: a
    3-gram repeated across >= 5 docs (the floor threshold at tiny
    n_docs) counts as hot in EVERY doc containing it, occurrences
    counted with multiplicity; unique text contributes zero; docs with
    fewer than 3 words report n3 = 0 and frac = 0.0."""
    import os
    import tempfile

    from level2_to_cassandra_spark.queries.llm import q_text_boilerplate

    boiler = "all rights reserved"
    rows = [(i, f"{boiler} unique{i} words{i} here{i}", "en", "s", 0)
            for i in range(5)]
    rows.append((5, f"{boiler} {boiler}", "en", "s", 0))  # 4 grams, 2 hot
    rows.append((6, "totally fresh text body", "en", "s", 0))
    rows.append((7, "too short", "en", "s", 0))
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long"
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(os.path.join(d, "documents.parquet"))
        out = {r.doc_id: r for r in q_text_boilerplate(spark, d).collect()}
    assert len(out) == 8
    # "all rights reserved" appears in docs 0-5 → df = 6 >= 5 → hot
    for i in range(5):
        assert out[i].hot_n3 == 1 and out[i].n3 == 4
        assert out[i].flagged == (1 if out[i].boilerplate_frac >= 0.2
                                  else 0)
    # doc 5: "a r r a r r" → grams at every position; the two copies
    # of the hot gram both count (multiplicity)
    assert out[5].n3 == 4 and out[5].hot_n3 == 2
    assert out[5].boilerplate_frac == 0.5 and out[5].flagged == 1
    assert out[6].hot_n3 == 0 and out[6].flagged == 0
    assert out[7].n3 == 0 and out[7].boilerplate_frac == 0.0


def test_zipf_fits_exact_power_law_corpus(spark):
    """q_text_zipf on a corpus engineered to an EXACT power-law
    spectrum — one term at frequency 4, two at 2, four at 1 gives
    spectrum points (1,4), (2,2), (4,1), colinear in log-log with
    slope exactly -1 and intercept ln 4 — so the least-squares fit
    must recover them to rounding precision, and the spectrum rows
    must be the exact frequency-of-frequencies counts."""
    import math
    import os
    import tempfile

    from level2_to_cassandra_spark.queries.llm import q_text_zipf

    df = spark.createDataFrame(
        [(1, "a a a a b b c c d e f g", "en", "s", 23)],
        "doc_id long, text string, lang string, source string, "
        "n_chars long",
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(os.path.join(d, "documents.parquet"))
        rows = {r.f: r for r in q_text_zipf(spark, d).collect()}
    assert {f: rows[f].n_terms for f in rows} == {1: 4, 2: 2, 4: 1}
    for r in rows.values():
        assert abs(r.slope - (-1.0)) <= 1e-5
        assert abs(r.intercept - math.log(4.0)) <= 1e-5


def test_separation_scores_constructed_cohorts(spark):
    """q_embed_separation on two tight, well-separated cohorts: both
    labels must score large separation (between ≈ 1, within ≈ 0.01),
    and NULL-label / malformed vectors are excluded from every
    statistic."""
    import os
    import tempfile

    from level2_to_cassandra_spark.queries.llm import q_embed_separation

    def vec(x0, x1):
        return [x0, x1] + [0.0] * 62

    rows = [
        (0, vec(1.0, 0.1), 0), (1, vec(1.0, -0.1), 0),
        (2, vec(-1.0, 0.1), 1), (3, vec(-1.0, -0.1), 1),
        (4, vec(9.9, 9.9), None),     # NULL label: excluded
        (5, [1.0, 2.0], 0),           # wrong length: excluded
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(os.path.join(d, "embeddings.parquet"))
        out = {r.label: r for r in q_embed_separation(spark, d).collect()}
    assert set(out) == {0, 1}
    for lab in (0, 1):
        r = out[lab]
        assert r.n == 2
        assert abs(r.within_var - 0.01) <= 1e-6   # ±0.1 on one axis
        assert abs(r.between_sq - 1.0) <= 1e-6    # centroids at ±e1
        assert r.separation > 50


def test_moment_queries_exclude_nonfinite_symmetrically(spark):
    """r12 review finding: a stored NaN/Inf element (legal in a
    parquet float column) must be excluded IDENTICALLY on both engine
    sides of every moment query — Spark's numpy kernels would mask the
    row while DuckDB's SUM propagates the poison, a silent hash
    divergence on clean-looking fixtures.  Constructed corpus with an
    Inf-element row, a NaN-element row, and clean rows: the full
    driver-strict harness compare must pass for q_embed_covariance,
    q_embed_outlier and q_embed_separation, and the non-finite rows
    must be absent from the outputs."""
    import math
    import os
    import tempfile

    import duckdb

    from level2_to_cassandra_spark.registry import all_queries
    from tests.oracle_harness import compare

    base = [1.0] + [0.0] * 63
    bad_inf = [float("inf")] + [0.0] * 63
    bad_nan = [float("nan")] + [0.0] * 63
    rows = [(i, [v + 0.01 * i for v in base], i % 2) for i in range(6)]
    rows += [(6, bad_inf, 0), (7, bad_nan, 1)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(os.path.join(d, "embeddings.parquet"))
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW embeddings AS SELECT * FROM "
            f"'{d}/embeddings.parquet/*.parquet'"
        )
        for name in ("q_embed_covariance", "q_embed_outlier",
                     "q_embed_separation"):
            q = all_queries()[name]
            out = q.fn(spark, d)
            compare(out, con, q.oracle)
            for r in out.collect():
                for v in r.asDict().values():
                    assert not (isinstance(v, float)
                                and not math.isfinite(v)), (name, r)
        ids = {r.vec_id for r in
               all_queries()["q_embed_outlier"].fn(spark, d).collect()}
        assert ids == set(range(6))  # 6 (Inf) and 7 (NaN) excluded


def test_staged_ranked_index_consistent_with_staged_postings(spark):
    """ADVICE r14: _adopt_ranked's shape guard cannot detect a ranked
    index built from DIFFERENT postings (or a different k) than the
    co-supplied postings relation — which would silently corrupt every
    jaccard/containment value served from the staging pair.  This test
    carries the semantic check the runtime guard cannot afford: the
    staged ranked index must project to EXACTLY the staged postings'
    (id, shingle) set, its per-doc n must equal the true per-doc
    shingle count, and pos must be a 1..n permutation per doc."""
    from level2_to_cassandra_spark.queries.llm import (
        _shingle_index_relation,
        _shingle_relation,
    )

    sf = "/root/testdata/sf0.001"
    posts = {(r.id, r.shingle)
             for r in _shingle_relation(spark, sf).collect()}
    ranked = _shingle_index_relation(spark, sf).collect()
    assert {(r.id, r.shingle) for r in ranked} == posts
    by_doc: dict[int, list] = {}
    for r in ranked:
        by_doc.setdefault(r.id, []).append(r)
    true_n = {}
    for i, s in posts:
        true_n[i] = true_n.get(i, 0) + 1
    for doc, rows in by_doc.items():
        assert all(r.n == true_n[doc] for r in rows)
        assert sorted(r.pos for r in rows) == list(range(1, true_n[doc] + 1))


def test_staged_sets_consistent_with_staged_postings(spark):
    """_adopt_sets' shape guard cannot detect a set table built from
    DIFFERENT postings than the co-supplied postings relation, which
    would silently corrupt every verified jaccard/containment value.
    The staged set table must flatten to EXACTLY the staged postings'
    (id, shingle) set, hold no repeated shingle, and its size(sh) must
    equal each doc's posting count."""
    from level2_to_cassandra_spark.queries.llm import (
        _shingle_relation,
        _shingle_set_relation,
    )

    posts = [(r.id, r.shingle)
             for r in _shingle_relation(spark, SF).collect()]
    sets = _shingle_set_relation(spark, SF).collect()
    assert sorted(sets[0].__fields__) == ["id", "sh"]
    assert len({r.id for r in sets}) == len(sets)  # one row per doc
    flat = [(r.id, s) for r in sets for s in r.sh]
    assert sorted(flat) == sorted(posts)  # multiset: no repeats either
    true_n: dict[int, int] = {}
    for i, _ in posts:
        true_n[i] = true_n.get(i, 0) + 1
    assert {r.id: len(r.sh) for r in sets} == true_n
