"""The Bloom seen-store side-filter (operators/bloom.py): the
no-false-negative guarantee (correctness-load-bearing — a false
negative would re-admit a stored key), the probe-cost bound (the
point of the filter: the exact anti-join input shrinks to
~|batch ∩ store| + ε·|batch|), OR-fold idempotence under replay-
duplicated partials, and the all-zero batch-0 state."""

from __future__ import annotations

from pyspark.sql import functions as F

from level2_to_cassandra_spark.operators import bloom


def _keys(spark, lo: int, hi: int, tag: str):
    return spark.range(lo, hi).select(
        F.concat(F.lit(tag), F.col("id").cast("string")).alias("k")
    )


def test_bloom_no_false_negatives_and_bounded_false_positives(spark):
    """Every inserted key must probe maybe-seen (no false negatives,
    ever); disjoint keys must probe maybe-seen only at a tiny rate
    (the ε that bounds the exact-join input)."""
    stored = _keys(spark, 0, 2000, "seen-")
    journal = bloom.bloom_partial(stored, "k").withColumn(
        "batch_id", F.lit(0).cast("long")
    )
    one = bloom.bloom_relation(spark, journal)

    hits = bloom.bloom_maybe_seen(stored, "k", one)
    assert hits.where(~F.col("__maybe_seen")).count() == 0

    fresh = _keys(spark, 0, 2000, "new-")
    fp = bloom.bloom_maybe_seen(fresh, "k", one).where(
        F.col("__maybe_seen")
    ).count()
    # m = 2^20 bits, k = 4, n = 2000 → fpp ≈ (k·n/m)^k ≈ 3e-9; allow
    # generous slack — the bound that matters is "≪ batch size"
    assert fp <= 5


def test_bloom_probe_cost_bound_mixed_batch(spark):
    """The wrapper routes ONLY maybe-seen keys into the exact
    anti-join; on a mixed batch that input must be |batch ∩ store|
    plus at most a few false positives — the gap #5 probe-cost
    claim, measured."""
    stored = _keys(spark, 0, 3000, "k-")
    journal = bloom.bloom_partial(stored, "k").withColumn(
        "batch_id", F.lit(0).cast("long")
    )
    one = bloom.bloom_relation(spark, journal)
    # batch: 500 true dups (k-0..k-499) + 4500 fresh keys
    batch = _keys(spark, 0, 500, "k-").unionAll(
        _keys(spark, 0, 4500, "fresh-")
    )
    maybe = bloom.bloom_maybe_seen(batch, "k", one).where(
        F.col("__maybe_seen")
    )
    n_maybe = maybe.count()
    assert 500 <= n_maybe <= 505           # dups + ≤5 false positives
    # and every true dup is in the maybe set (no false negatives)
    true_dups = maybe.where(F.col("k").startswith("k-")).count()
    assert true_dups == 500


def test_bloom_reserved_column_collision_raises(spark):
    """A batch payload carrying a reserved probe column name — in ANY
    case — must fail at build time with the named ValueError, not at
    runtime with AMBIGUOUS_REFERENCE (the gopher_stats discipline)."""
    import pytest

    one = bloom.bloom_relation(
        spark,
        spark.createDataFrame([], bloom.BLOOM_SCHEMA),
    )
    for col in ("Bloom", "__maybe_seen", "__P0"):
        batch = spark.createDataFrame(
            [("k1", 1)], ["k", col]
        )
        with pytest.raises(ValueError, match="collide"):
            bloom.bloom_maybe_seen(batch, "k", one)


def test_pre_bloom_store_migration_no_readmission(spark, tmp_path):
    """Review r16: a seen store that PREDATES the Bloom side-file (or
    whose /bloom dir was deleted whole) holds keys with no Bloom bits.
    The wrapper must (a) fall back to the exact full-batch probe on
    the empty-journal batch — no stored key re-admitted — and (b)
    BACKFILL the whole store's keys into the Bloom, so batch N+1's
    non-empty-journal probe still flags the old keys maybe-seen."""
    from level2_to_cassandra_spark.streaming.monitor import (
        gate_chain,
        url_dedup_path,
        url_dedup_step,
    )

    base = str(tmp_path / "sink")
    # simulate an r15-era store: seen canonicals, NO /bloom dir
    spark.createDataFrame(
        [("src.example.com/doc/6", 0)], "canonical_url string, batch_id long"
    ).write.mode("append").parquet(f"{url_dedup_path(base)}/seen")

    admitted: list = []
    cb = gate_chain(
        lambda df, bid: admitted.extend(
            r.doc_id for r in df.select("doc_id").collect()
        ),
        url_dedup_step(base),
    )
    # doc_id 46 canonicalizes to src.example.com/doc/6 (46 % 40 == 6,
    # 46 % 4 == 2 → no query string at all) — a stored dup
    batch1 = spark.createDataFrame(
        [(46, "text a", "en", "src", 6)],
        "doc_id long, text string, lang string, source string, "
        "n_chars long",
    )
    cb(batch1, 1)
    assert admitted == []          # (a) fallback: stored dup rejected
    # batch 2 probes with a NON-empty journal — the backfill must have
    # covered the old store key (doc 86 → the same canonical)
    batch2 = spark.createDataFrame(
        [(86, "text b", "en", "src", 6)],
        "doc_id long, text string, lang string, source string, "
        "n_chars long",
    )
    cb(batch2, 2)
    assert admitted == []          # (b) backfilled: still rejected
    # sanity: the (geometry-versioned) journal is non-empty by batch 2
    n_bloom = spark.read.parquet(
        f"{url_dedup_path(base)}/bloom/{bloom.journal_subdir()}"
    ).count()
    assert n_bloom > 0


def test_bloom_geometry_resize_no_readmission(spark, tmp_path,
                                              monkeypatch):
    """Review r16, 2nd pass: a resized filter must NOT mis-probe old
    journal words.  The geometry-versioned subdir makes a resize land
    in a FRESH empty journal, so the next stream's first batch
    exact-probes and re-backfills under the new geometry — a stored
    dup stays rejected across the resize."""
    from level2_to_cassandra_spark.streaming.monitor import (
        gate_chain,
        url_dedup_path,
        url_dedup_step,
    )

    base = str(tmp_path / "sink")
    admitted: list = []

    def sink(df, bid):
        admitted.extend(r.doc_id for r in df.select("doc_id").collect())

    doc = lambda i: spark.createDataFrame(  # noqa: E731
        [(i, "t", "en", "src", 1)],
        "doc_id long, text string, lang string, source string, "
        "n_chars long",
    )
    # stream 1, default geometry: doc 6 admitted and stored
    gate_chain(sink, url_dedup_step(base))(doc(6), 0)
    assert admitted == [6]
    # operator resizes the filter; stream 2 = new wrapper instance
    monkeypatch.setattr(bloom, "N_BITS", 1 << 17)
    cb2 = gate_chain(sink, url_dedup_step(base))
    cb2(doc(46), 1)                 # same canonical as doc 6
    assert admitted == [6]          # dup rejected across the resize
    cb2(doc(86), 2)                 # and after the re-backfill too
    assert admitted == [6]


def test_line_dedup_overspan_doc_journaled_not_poisonous(
    spark, tmp_path, monkeypatch
):
    """Review r16, 2nd pass: a doc with >= LINE_KEY_SPAN lines must
    NOT wedge the stream on packed_line_key's raise — it is rejected
    wholesale (no audit row, no store rows), journaled to /overspan,
    and the rest of the batch dedups normally."""
    from level2_to_cassandra_spark.operators import text as text_ops
    from level2_to_cassandra_spark.streaming.monitor import (
        gate_chain,
        line_dedup_step,
        read_line_dedup,
        read_line_overspan,
    )

    monkeypatch.setattr(text_ops, "LINE_KEY_SPAN", 2)
    base = str(tmp_path / "sink")
    cb = gate_chain(lambda df, bid: None, line_dedup_step(base))
    la = "a b c d e f g h"
    lb = "i j k l m n o p"
    lc = "q r s t u v w x"
    batch = spark.createDataFrame(
        [(1, f"{la} {lb} {lc}", "en", "s", 1),   # 3 lines >= span 2
         (2, la, "en", "s", 1)],                 # 1 line — fine
        "doc_id long, text string, lang string, source string, "
        "n_chars long",
    )
    cb(batch, 0)                                 # must not raise
    over = read_line_overspan(spark, base).collect()
    assert [(r.batch_id, r.doc_id) for r in over] == [(0, 1)]
    audit = {r.doc_id: r for r in read_line_dedup(spark, base).collect()}
    assert set(audit) == {2}                     # no audit row for doc 1
    assert audit[2].n_kept == 1 and audit[2].kept_text == la


def test_classifier_gate_rejects_admit_payload_column(spark, tmp_path):
    """Review r16, 2nd pass: a payload column named __admit (any case)
    would be silently overwritten by the gate's split column —
    must raise the named ValueError instead."""
    import pytest

    from level2_to_cassandra_spark.streaming.monitor import (
        classifier_gate_step,
        gate_chain,
    )

    cb = gate_chain(
        lambda df, bid: None, classifier_gate_step(str(tmp_path / "sink"))
    )
    batch = spark.createDataFrame(
        [(1, "alpha beta", 1)], ["doc_id", "text", "__Admit"]
    )
    with pytest.raises(ValueError, match="collide"):
        cb(batch, 0)


def test_bloom_or_fold_idempotent_and_empty_state(spark):
    """Replay-duplicated partial rows must fold to the identical
    array (bitwise OR is idempotent); an empty journal folds to the
    all-zero array where EVERYTHING is definitely fresh (batch 0)."""
    keys = _keys(spark, 0, 100, "x-")
    part = bloom.bloom_partial(keys, "k").withColumn(
        "batch_id", F.lit(1).cast("long")
    )
    once = bloom.bloom_relation(spark, part).first().bloom
    twice = bloom.bloom_relation(
        spark, part.unionAll(part)
    ).first().bloom
    assert once == twice

    empty = part.where(F.lit(False))
    zero = bloom.bloom_relation(spark, empty)
    assert all(w == 0 for w in zero.first().bloom)
    n_fresh = bloom.bloom_maybe_seen(keys, "k", zero).where(
        ~F.col("__maybe_seen")
    ).count()
    assert n_fresh == 100
