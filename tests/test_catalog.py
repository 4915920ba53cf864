"""Catalog loader contract against the LIVE fixtures.

Round-3 regression guard: the driver regenerated ``events.parquet``
with ``ts`` as parquet ``timestamp[us]`` after rounds 1-2 shipped it as
``timestamp[ns]``; ``load_table`` must adapt to whichever unit the
footer declares (SURVEY.md §1.4 quirk 1 — the reference's own
seconds-vs-ms discipline, main.rs:109/163).
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from level2_to_cassandra_spark.catalog import (
    TABLES,
    load_table,
    register_temp_views,
    table_path,
)

from conftest import SF_SMOKE


def test_events_ts_loads_as_timestamp(spark):
    """Against the real fixture, whatever unit it currently ships."""
    ev = load_table(spark, SF_SMOKE, "events")
    assert isinstance(ev.schema["ts"].dataType, T.TimestampType)
    # and it actually computes: a datetime function resolves + runs
    n = ev.selectExpr("date_trunc('hour', ts) AS h").limit(5).count()
    assert n > 0


def test_events_ts_value_matches_pyarrow(spark):
    """The loaded instants equal the file's own values (µs precision),
    i.e. no unit mis-scaling (ns read as µs would shift dates by ~50x)."""
    path = table_path(SF_SMOKE, "events")
    tbl = pq.read_table(path, columns=["event_id", "ts"])
    want = {
        r["event_id"]: r["ts"]
        for r in tbl.slice(0, 20).to_pylist()
    }
    got = {
        r["event_id"]: r["ts"]
        for r in load_table(spark, SF_SMOKE, "events")
        .select("event_id", "ts")
        .filter("event_id IN ({})".format(",".join(map(str, want))))
        .collect()
    }
    assert got == want


def test_events_nanos_era_fixture(spark, tmp_path):
    """Synthetic TIMESTAMP(NANOS) file → same load path still works
    (the pre-round-3 fixture format)."""
    sf = tmp_path / "sf"
    sf.mkdir()
    ts_us = [1_700_000_000_000_000, 1_700_000_000_123_456]
    tbl = pa.table(
        {
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array(
                [v * 1000 for v in ts_us], pa.timestamp("ns")
            ),
            "user_id": pa.array([10, 11], pa.int64()),
            "event_type": pa.array(["a", "b"], pa.string()),
            "value": pa.array([1.0, 2.0], pa.float64()),
            "props": pa.array(["{}", "{}"], pa.string()),
        }
    )
    pq.write_table(tbl, sf / "events.parquet", store_schema=False)
    ev = load_table(spark, str(sf), "events")
    assert isinstance(ev.schema["ts"].dataType, T.TimestampType)
    got = sorted(
        (r["event_id"], r["ts"]) for r in ev.select("event_id", "ts").collect()
    )
    import datetime as dt

    def from_us(us):
        return dt.datetime.fromtimestamp(us / 1e6, dt.timezone.utc).replace(
            tzinfo=None
        )

    assert [g[1].replace(tzinfo=None) for g in got] == [
        from_us(v) for v in ts_us
    ]


@pytest.mark.parametrize(
    "unit,to_us", [("ns", 1e-3), ("us", 1.0), ("ms", 1e3), ("s", 1e6)]
)
def test_events_int64_unit_autodetect(spark, tmp_path, unit, to_us):
    """If the fixture ever ships ts as raw int64 in ANY epoch unit, the
    loader infers the unit from magnitude instead of assuming nanos."""
    base_us = 1_700_000_000_000_000  # 2023-11-14T22:13:20Z in µs
    raw = {
        "ns": base_us * 1000, "us": base_us,
        "ms": base_us // 1000, "s": base_us // 1_000_000,
    }[unit]
    sf = tmp_path / "sf"
    sf.mkdir()
    tbl = pa.table(
        {
            "event_id": pa.array([1], pa.int64()),
            "ts": pa.array([raw], pa.int64()),
            "user_id": pa.array([10], pa.int64()),
            "event_type": pa.array(["a"], pa.string()),
            "value": pa.array([1.0], pa.float64()),
            "props": pa.array(["{}"], pa.string()),
        }
    )
    pq.write_table(tbl, sf / "events.parquet", store_schema=False)
    import datetime as dt

    [r] = load_table(spark, str(sf), "events").select("ts").collect()
    want = dt.datetime.fromtimestamp(
        raw * to_us / 1e6, dt.timezone.utc
    ).replace(tzinfo=None)
    assert r["ts"].replace(tzinfo=None) == want


def test_all_tables_load(spark):
    for name in TABLES:
        df = load_table(spark, SF_SMOKE, name)
        assert len(df.columns) > 0


def test_register_temp_views_only_subset(spark):
    """`only=` registers just the named tables — fault isolation: SQL
    that never touches a broken table must not load it."""
    register_temp_views(spark, SF_SMOKE, only=("region",))
    assert spark.sql("SELECT COUNT(*) AS n FROM region").collect()[0]["n"] == 5


def test_unknown_table_rejected(spark):
    with pytest.raises(KeyError):
        load_table(spark, SF_SMOKE, "nope")


def test_embeddings_dim_matches_oracle_assumption(spark):
    """q_llm_dedup_embed's DuckDB oracle hardcodes range(0, 64) for
    the portable-plane projection (SQL cannot infer dim from data);
    the Spark side pins dim=64 to match.  If the driver regenerates
    embeddings at another width, THIS failure explains the mismatch."""
    em = load_table(spark, SF_SMOKE, "embeddings")
    from pyspark.sql import functions as F

    dims = em.select(F.size("embedding").alias("d")).distinct().collect()
    assert [r["d"] for r in dims] == [64]


def test_documents_text_is_ascii(spark):
    """q_multimodal_features' DuckDB oracle recomputes the fake
    decoder's BYTE histogram at CHAR level (SQL has no per-byte blob
    unnest) — exact only while the fixture text is pure ASCII (byte
    count == char count).  If the driver regenerates documents with
    multi-byte text, THIS failure explains the mismatch."""
    from pyspark.sql import functions as F

    docs = load_table(spark, SF_SMOKE, "documents")
    bad = docs.where(
        F.length(F.col("text")) != F.octet_length(F.col("text"))
    ).count()
    assert bad == 0


def test_events_values_are_finite(spark):
    """q_json_scan round-trips events.value through to_json; a
    NaN/Infinity double serializes as non-standard JSON that corrupts
    the whole line Spark-side while DuckDB still parses the row — a
    latent hash mismatch.  Pin fixture finiteness so drift fails HERE
    with an explanation (ADVICE r04 #2)."""
    from pyspark.sql import functions as F

    ev = load_table(spark, SF_SMOKE, "events")
    bad = ev.where(
        F.isnan(F.col("value")) | F.col("value").isin(
            float("inf"), float("-inf"))
    ).count()
    assert bad == 0


def test_documents_text_never_empty(spark):
    """Spark and DuckDB disagree on splitting the empty string
    (split('', ' ') = [] vs string_split('', ' ') = ['']) — the
    divergence q_text_entropy pins engine-side.  Every other
    oracle-backed text query (classifier, tokenize_ids, vocab
    coverage, bigram LM, length buckets, simhash fingerprints,
    q_sample_weighted's token-count weights — where a NULL text would
    also hit Spark's size(split(NULL)) = -1 vs DuckDB NULL) would
    silently diverge if the driver ever regenerated the fixture with
    an empty or NULL text, so pin non-emptiness HERE with an
    explanation.  Also rejects whitespace-only text (its split is
    ['', ''] vs ['', ''] — equal, but a zero-token doc by any
    stopword-stripping reading; no fixture era has shipped one)."""
    from pyspark.sql import functions as F

    docs = load_table(spark, SF_SMOKE, "documents")
    bad = docs.where(
        F.col("text").isNull() | (F.trim(F.col("text")) == "")
    ).count()
    assert bad == 0


@pytest.mark.parametrize("raw", ["0", "-3", "four", "2.5"])
def test_staging_buckets_rejects_bad_override(spark, monkeypatch, raw):
    """$SPARK_GRAFT_STAGING_BUCKETS below 1 or not an integer warns and
    falls back to defaultParallelism instead of reaching the writer."""
    from level2_to_cassandra_spark.catalog import staging_buckets

    monkeypatch.setenv("SPARK_GRAFT_STAGING_BUCKETS", raw)
    with pytest.warns(UserWarning, match="SPARK_GRAFT_STAGING_BUCKETS"):
        n = staging_buckets(spark)
    assert n == spark.sparkContext.defaultParallelism


def test_staging_buckets_honours_valid_override(spark, monkeypatch):
    from level2_to_cassandra_spark.catalog import staging_buckets

    monkeypatch.setenv("SPARK_GRAFT_STAGING_BUCKETS", "7")
    assert staging_buckets(spark) == 7
