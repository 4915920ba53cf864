"""Pipeline wiring: the reference's three binaries as three configs.

``start.sh:3-14`` dispatches APP_MODE ∈ {book, tick, full} to three
Rust binaries; here they are three configurations of one engine
(SURVEY.md A13).  ``build_batch_pipeline`` runs the identical
transformations on a bounded DataFrame (used by tests as the parity
oracle); ``build_streaming_pipeline`` starts the Structured Streaming
queries.

Env-var config surface mirrors the reference's (README.md:8-16 /
docker-compose.yaml:6-15) where it makes sense: APP_MODE, TOPIC,
KEYSPACE→output path; ZMQ/CURVE connection vars map to Kafka options
(CURVE auth ≈ Kafka SSL/SASL — connection security is source config,
not engine semantics).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from level2_to_cassandra_spark.functions import positive_or_none
from level2_to_cassandra_spark.streaming import ingest, state
from level2_to_cassandra_spark.streaming.sink import (
    foreach_batch_upsert,
    upsert_dedup,
)

MODES = ("book", "tick", "full")


@dataclass
class PipelineConfig:
    mode: str = "full"                 # APP_MODE (start.sh:3-14)
    topic_filter: str | None = None    # TOPIC subscribe prefix (A1)
    out_path: str = "/tmp/l2c_sink"    # parquet sink root / keyspace name
    checkpoint: str = "/tmp/l2c_ckpt"
    watermark: str = "1 hour"          # late-data bound (fixes §1.4 q2/3)
    kafka: dict[str, str] = field(default_factory=dict)
    cassandra: dict[str, str] = field(default_factory=dict)
    sink: str = "parquet"              # "parquet" (CI) | "cassandra" (prod)
    metrics: bool = False              # APP_METRICS: per-batch audit rows
    dlq: bool = False                  # APP_DLQ: quarantine malformed payloads
    #: micro-batch sizing — THE memory bound of the whole pipeline
    #: (sink writes and state updates are both per-batch): file
    #: sources cap files/trigger, Kafka caps offsets/trigger.
    #: None = Spark defaults (drain everything
    #: available), the right call for bounded CI drains; a live
    #: deployment sets both.
    max_files_per_trigger: int | None = None   # TRIGGER_MAX_FILES
    max_offsets_per_trigger: int | None = None  # TRIGGER_MAX_OFFSETS

    def __post_init__(self) -> None:
        if self.mode not in MODES:
            raise ValueError(f"APP_MODE must be one of {MODES}, got {self.mode}")

    @classmethod
    def from_env(cls, env: dict[str, str] | None = None) -> "PipelineConfig":
        """Build from the reference's exact env-var surface
        (README.md:8-16, main.rs:177-184, docker-compose.yaml:6-15) so
        a reference ``.env`` is drop-in:

        * ``APP_MODE`` / ``TOPIC`` keep their names (start.sh:3-14);
        * ``KEYSPACE`` (main.rs:184) is the sink namespace —
          ``CASSANDRA_KEYSPACE`` accepted as a fallback alias;
        * ``CASSANDRA_HOST/USERNAME/PASSWORD`` (main.rs:177-179) become
          spark-cassandra-connector options;
        * ``API_ADDRESS`` (main.rs:180) is the broker address and the
          CURVE triple ``SECRET_KEY``/``PUBLIC_KEY``/``SERVER_KEY``
          (main.rs:181-183) maps onto Kafka PEM-SSL options — client
          keypair → keystore, server public key → truststore (CURVE
          auth ≈ TLS: connection security, not engine semantics).

        The CURVE mapping is NAME-compatible, not value-compatible: the
        reference's keys are Z85-encoded ZeroMQ CURVE keys, which no
        Kafka client can consume — feeding them into PEM options
        verbatim would fail at client startup (and force SSL against
        plaintext brokers).  SSL is therefore enabled only when the key
        material actually looks like PEM; Z85/other values are reported
        via a warning and the connection stays plaintext so a literal
        reference ``.env`` still starts.
        """
        import os as _os

        e = dict(_os.environ if env is None else env)
        kafka = {}
        if e.get("API_ADDRESS"):
            kafka["kafka.bootstrap.servers"] = e["API_ADDRESS"]
        if e.get("TOPIC"):
            kafka["subscribePattern"] = f"{e['TOPIC']}.*"
        curve = {k: e.get(k)
                 for k in ("SECRET_KEY", "PUBLIC_KEY", "SERVER_KEY")}

        def _pem(v: str | None) -> bool:
            return bool(v) and "-----BEGIN" in v

        if any(curve.values()):
            # EVERY provided key must be PEM: a mixed set (e.g. a PEM
            # truststore next to the reference's Z85 client keypair)
            # would enable SSL and feed unparseable material to the
            # Kafka client — exactly the startup failure this guard
            # exists to prevent.
            if all(_pem(v) for v in curve.values() if v):
                kafka["kafka.security.protocol"] = "SSL"
                if curve["SECRET_KEY"]:
                    kafka["kafka.ssl.keystore.type"] = "PEM"
                    kafka["kafka.ssl.keystore.key"] = curve["SECRET_KEY"]
                if curve["PUBLIC_KEY"]:
                    kafka["kafka.ssl.keystore.certificate.chain"] = (
                        curve["PUBLIC_KEY"]
                    )
                if curve["SERVER_KEY"]:
                    kafka["kafka.ssl.truststore.type"] = "PEM"
                    kafka["kafka.ssl.truststore.certificates"] = (
                        curve["SERVER_KEY"]
                    )
            else:
                import warnings

                non_pem = sorted(
                    k for k, v in curve.items() if v and not _pem(v)
                )
                warnings.warn(
                    f"{'/'.join(non_pem)} are set but are not PEM (the "
                    "reference uses Z85 ZeroMQ CURVE keys, which Kafka "
                    "cannot consume) — ignoring the key material and "
                    "connecting without SSL; provide PEM for ALL keys "
                    "to enable SSL",
                    stacklevel=2,
                )
        cassandra = {}
        if e.get("CASSANDRA_HOST"):
            cassandra["spark.cassandra.connection.host"] = e["CASSANDRA_HOST"]
        if e.get("CASSANDRA_USERNAME"):
            cassandra["spark.cassandra.auth.username"] = e["CASSANDRA_USERNAME"]
        if e.get("CASSANDRA_PASSWORD"):
            cassandra["spark.cassandra.auth.password"] = e["CASSANDRA_PASSWORD"]
        return cls(
            mode=e.get("APP_MODE", "full"),
            topic_filter=e.get("TOPIC") or None,
            out_path=e.get("KEYSPACE")
            or e.get("CASSANDRA_KEYSPACE", "/tmp/l2c_sink"),
            checkpoint=e.get("CHECKPOINT_DIR", "/tmp/l2c_ckpt"),
            watermark=e.get("WATERMARK", "1 hour"),
            kafka=kafka,
            cassandra=cassandra,
            sink="cassandra" if cassandra else "parquet",
            metrics=e.get("APP_METRICS", "").lower() in ("1", "true", "yes"),
            dlq=e.get("APP_DLQ", "").lower() in ("1", "true", "yes"),
            max_files_per_trigger=positive_or_none(
                e.get("TRIGGER_MAX_FILES"), "TRIGGER_MAX_FILES"
            ),
            max_offsets_per_trigger=positive_or_none(
                e.get("TRIGGER_MAX_OFFSETS"), "TRIGGER_MAX_OFFSETS"
            ),
        )


def _apply_topic_filter(env: DataFrame, cfg: PipelineConfig) -> DataFrame:
    # ZMQ prefix subscription (set_subscribe, main.rs:204-206).
    if cfg.topic_filter:
        env = env.where(F.col("topic").startswith(cfg.topic_filter))
    return env


def book_rows(envelope: DataFrame, cfg: PipelineConfig) -> DataFrame:
    env = _apply_topic_filter(envelope, cfg)
    book_raw, _, _ = ingest.demux(env)
    return ingest.parse_book(book_raw)


def tick_rows_batch(envelope: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Batch form: parse + deterministic window cumsum.  A ``seq``
    column on the envelope (test fixtures / Kafka offset) rides along
    as the in-day tiebreaker and the sink's LWW order."""
    env = _apply_topic_filter(envelope, cfg)
    _, tick_raw, _ = ingest.demux(env)
    extra = ("seq",) if "seq" in envelope.columns else ()
    ticks = ingest.parse_tick(tick_raw, extra_cols=extra)
    return state.cumulative_batch(ticks, order_cols=("time",) + extra)


def tick_rows_streaming(envelope: DataFrame, cfg: PipelineConfig,
                        state_ttl_hours: int | None = 36) -> DataFrame:
    """Streaming form: parse + stateful per-(symbol,day) cumsum.  The
    watermark bounds late data BEFORE the stateful op (late ticks past
    it are dropped rather than corrupting day state — the deterministic
    replacement for the reference's order-dependent reset).
    ``state_ttl_hours`` — see :func:`state.cumulative_streaming`."""
    env = _apply_topic_filter(envelope, cfg)
    _, tick_raw, _ = ingest.demux(env)
    extra = ("seq",) if "seq" in envelope.columns else ()
    ticks = ingest.parse_tick(tick_raw, extra_cols=extra)
    return state.cumulative_streaming(
        ticks.withWatermark("time", cfg.watermark),
        state_ttl_hours=state_ttl_hours,
    )


def build_batch_pipeline(envelope: DataFrame,
                         cfg: PipelineConfig) -> dict[str, DataFrame]:
    """Bounded-input pipeline — the parity oracle for streaming runs.
    Returns {table_suffix: DataFrame} with upsert (LWW) applied."""
    out: dict[str, DataFrame] = {}
    if cfg.mode in ("book", "full"):
        out["book"] = upsert_dedup(book_rows(envelope, cfg))
    if cfg.mode in ("tick", "full"):
        out["tick"] = upsert_dedup(tick_rows_batch(envelope, cfg))
    return out


def build_streaming_pipeline(envelope: DataFrame, cfg: PipelineConfig,
                             trigger_available_now: bool = True) -> list:
    """Start writeStream queries per mode; returns StreamingQuery list.

    ``availableNow`` drains bounded test sources; a live deployment
    passes False for continuous micro-batching.  Each query checkpoints
    independently — at-least-once into an idempotent keyed sink.

    State TTL follows the trigger: continuous runs arm the 36 h idle
    (symbol, day) key expiry; an ``availableNow`` drain runs without
    timeouts, because its state dies with the query and a pending
    processing-time timeout would hold the drain open in empty
    state-cleanup micro-batches until the timeout fired.
    """
    queries = []

    def _start(df: DataFrame, suffix: str):
        if cfg.sink == "cassandra":
            from level2_to_cassandra_spark.streaming.sink import (
                foreach_batch_cassandra,
            )

            callback = foreach_batch_cassandra(cfg.out_path, suffix,
                                               cfg.cassandra)
        else:
            callback = foreach_batch_upsert(cfg.out_path, suffix)
        if cfg.metrics:
            from level2_to_cassandra_spark.streaming.monitor import (
                foreach_batch_with_metrics,
            )

            # the audit counters ride the sink write's own job as
            # observed metrics; the only added job per micro-batch is
            # the one-row journal append (monitor.py)
            callback = foreach_batch_with_metrics(
                callback, cfg.out_path, suffix
            )
        writer = (
            df.writeStream.outputMode("update")
            .option("checkpointLocation", f"{cfg.checkpoint}/{suffix}")
            .foreachBatch(callback)
        )
        if trigger_available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    if cfg.mode in ("book", "full"):
        queries.append(_start(book_rows(envelope, cfg), "book"))
    if cfg.mode in ("tick", "full"):
        ttl = None if trigger_available_now else 36
        queries.append(
            _start(
                tick_rows_streaming(envelope, cfg, state_ttl_hours=ttl),
                "tick",
            )
        )
    if cfg.dlq:
        # dead-letter quarantine (APP_DLQ): the reference only logs
        # malformed payloads and moves on (main.rs:224-229); this lands
        # them in an underscore-prefixed side table so they can be
        # inspected, fixed upstream, and replayed.  One extra query
        # over the SAME envelope stream, its own checkpoint.
        fenv = _apply_topic_filter(envelope, cfg)
        parts = []
        if cfg.mode in ("book", "full"):
            parts.append(ingest.dead_letters(
                fenv.where(F.col("msg_type") == ingest.BOOK), ingest.BOOK))
        if cfg.mode in ("tick", "full"):
            parts.append(ingest.dead_letters(
                fenv.where(F.col("msg_type") == ingest.TICK), ingest.TICK))
        dlq = parts[0]
        for p in parts[1:]:
            dlq = dlq.unionByName(p)
        writer = (
            dlq.writeStream.format("parquet")
            .option("path", f"{cfg.out_path}/_dead_letters")
            .option("checkpointLocation", f"{cfg.checkpoint}/dlq")
            .outputMode("append")
        )
        if trigger_available_now:
            writer = writer.trigger(availableNow=True)
        queries.append(writer.start())
    return queries


def kafka_envelope(spark: SparkSession, cfg: PipelineConfig) -> DataFrame:
    """Production source: Kafka framing maps 1:1 onto the reference's
    ZMQ multipart (topic / tag / payload, main.rs:220-222).  The tag
    rides in the Kafka key (or a header), payload in the value.  Not
    exercisable in CI (no broker) — covered by the file/memory sources
    in tests, which produce the identical envelope schema."""
    reader = (
        spark.readStream.format("kafka")
        .option("startingOffsets", "latest")
    )
    if cfg.max_offsets_per_trigger is not None:
        reader = reader.option("maxOffsetsPerTrigger",
                               str(cfg.max_offsets_per_trigger))
    for k, v in cfg.kafka.items():
        reader = reader.option(k, v)
    raw = reader.load()
    return raw.select(
        F.col("topic").cast("string").alias("topic"),
        F.col("key").cast("string").alias("msg_type"),
        F.col("value").cast("string").alias("payload"),
    )
