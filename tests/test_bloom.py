"""Seen stores written by earlier builds, which kept a Bloom side-filter
journal under ``<gate>/bloom/g<bits>x<hashes>`` next to the store (and,
before that, no journal at all).  The URL-dedup gate now probes the
store itself with an exact anti-join, so neither a missing journal nor
a stale one of any geometry may re-admit a stored key, and the gate
leaves such a directory as it found it."""

from __future__ import annotations

import os

from level2_to_cassandra_spark.streaming.monitor import (
    gate_chain,
    url_dedup_path,
    url_dedup_step,
)

_DOC_SCHEMA = ("doc_id long, text string, lang string, source string, "
               "n_chars long")


def _doc(spark, i: int):
    return spark.createDataFrame([(i, "t", "en", "src", 6)], _DOC_SCHEMA)


def _collecting_gate(base: str, admitted: list):
    return gate_chain(
        lambda df, bid: admitted.extend(
            r.doc_id for r in df.select("doc_id").collect()
        ),
        url_dedup_step(base),
    )


def test_pre_bloom_store_migration_no_readmission(spark, tmp_path):
    """A seen store written before the side-filter existed holds keys
    and no /bloom dir.  A new stream over it rejects the stored key on
    its first trigger and on its second, and writes no /bloom dir."""
    base = str(tmp_path / "sink")
    spark.createDataFrame(
        [("src.example.com/doc/6", 0)], "canonical_url string, batch_id long"
    ).write.mode("append").parquet(f"{url_dedup_path(base)}/seen")

    admitted: list = []
    cb = _collecting_gate(base, admitted)
    # doc_id 46 canonicalizes to src.example.com/doc/6 (46 % 40 == 6,
    # 46 % 4 == 2 → no query string at all) — a stored dup; so does 86
    cb(_doc(spark, 46), 1)
    assert admitted == []
    cb(_doc(spark, 86), 2)
    assert admitted == []
    assert not os.path.exists(f"{url_dedup_path(base)}/bloom")


def test_bloom_geometry_resize_no_readmission(spark, tmp_path):
    """A store whose /bloom dir still holds journals of two geometries,
    the all-zero words of which would have probed every key as fresh,
    keeps rejecting its stored key across a stream restart; the stale
    journals are neither read nor appended to."""
    base = str(tmp_path / "sink")
    admitted: list = []
    # stream 1: doc 6 admitted and stored
    _collecting_gate(base, admitted)(_doc(spark, 6), 0)
    assert admitted == [6]

    bloom_dir = f"{url_dedup_path(base)}/bloom"
    for geometry in ("g1048576x4", "g131072x4"):
        spark.createDataFrame(
            [(0, 0, 0)], "word_idx long, word long, batch_id long"
        ).write.mode("append").parquet(f"{bloom_dir}/{geometry}")
    before = sorted(os.listdir(bloom_dir))
    n_before = spark.read.parquet(f"{bloom_dir}/g1048576x4").count()

    # stream 2: a new gate instance over the same store
    cb2 = _collecting_gate(base, admitted)
    cb2(_doc(spark, 46), 1)         # same canonical as doc 6
    assert admitted == [6]
    cb2(_doc(spark, 86), 2)
    assert admitted == [6]
    assert sorted(os.listdir(bloom_dir)) == before
    assert spark.read.parquet(f"{bloom_dir}/g1048576x4").count() == n_before
