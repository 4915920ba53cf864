"""The ``query_dedup`` workload: a closed loop of one client over the
six shingle-staging consumers, each pass in a seed-permuted order,
after a cold build of the staging artifacts they consume.

Queries come from ``registry.all_queries()``; the staging set comes
from the consumer map in ``bench._staging_builders()``; per-query task
time comes from ``bench._parse_event_log``.
"""

from __future__ import annotations

import random
import time
from pathlib import Path

import gen
import measure

QUERIES = (
    "q_sketch_error", "q_text_containment", "q_llm_dedup_fuzzy",
    "q_dedup_incremental_fuzzy", "q_dedup_cross_source",
    "q_llm_dedup_minhash",
)
#: documents in the generated table (the driver fixture's sf0.01 size)
DOCS = 500


def staging_builders() -> dict:
    """label → builder for every staging artifact a benched query reads."""
    import bench

    return {label: builder
            for label, (builder, consumers) in bench._staging_builders().items()
            if consumers & set(QUERIES)}


def run_query(spark, qs, name: str, sf_dir: str) -> float:
    """One timed execution forced through a ``noop`` write, tagged
    ``bench:<name>`` for the event log."""
    spark.sparkContext.setJobDescription(f"{measure.TAG_PREFIX}{name}")
    t0 = time.perf_counter()
    try:
        qs[name].fn(spark, sf_dir).write.format("noop").mode(
            "overwrite").save()
        return time.perf_counter() - t0
    finally:
        spark.sparkContext.setJobDescription(None)
        spark.catalog.clearCache()


class Collected:
    """A query's rows collected once, shaped for
    ``oracle_harness.compare`` (which reads ``schema`` and
    ``toPandas()``), so the check does not run the query again."""

    def __init__(self, df) -> None:
        self.schema = df.schema
        self._rows = df.toPandas()

    def toPandas(self):
        return self._rows


def dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


def query_dedup(ctx) -> dict:
    import duckdb
    import oracle_harness

    from level2_to_cassandra_spark.registry import all_queries

    spark, work, seed = ctx.spark, ctx.work, ctx.seed
    qs = all_queries()
    sf_dir = work / "data"
    with ctx.untimed():
        gen.write_documents(str(sf_dir / "documents.parquet"), DOCS, seed)
    failed = attempted = 0
    errors: dict[str, str] = {}

    def fail(key: str, e: Exception) -> None:
        nonlocal failed
        failed += 1
        errors.setdefault(key, f"{type(e).__name__}: {e}"[:300])

    # cold build of the staging artifacts, per builder
    staging: dict[str, float] = {}
    staged_bytes: dict[str, int] = {}
    tmp = Path(ctx.tmp)
    for label, builder in staging_builders().items():
        before = dir_bytes(tmp)
        t0 = time.perf_counter()
        attempted += 1
        try:
            builder(spark, str(sf_dir))
            staging[label] = time.perf_counter() - t0
        except Exception as e:  # noqa: BLE001 — counted, the run goes on
            fail(label, e)
        finally:
            spark.catalog.clearCache()
        staged_bytes[label] = dir_bytes(tmp) - before

    # warm-up pass: each query once, its rows kept for the oracle
    # check after the measured window
    collected: dict[str, Collected] = {}
    for name in QUERIES:
        attempted += 1
        try:
            collected[name] = Collected(qs[name].fn(spark, str(sf_dir)))
        except Exception as e:  # noqa: BLE001 — counted, the run goes on
            fail(name, e)
        finally:
            spark.catalog.clearCache()
    ctx.ready()

    rng = random.Random(seed)
    order = list(collected)
    passes: list[float] = []
    serve: dict[str, list[float]] = {q: [] for q in QUERIES}
    deadline = time.perf_counter() + ctx.seconds
    while len(passes) < 2 or time.perf_counter() < deadline:
        rng.shuffle(order)
        t0 = time.perf_counter()
        for name in order:
            attempted += 1
            try:
                serve[name].append(run_query(spark, qs, name, str(sf_dir)))
            except Exception as e:  # noqa: BLE001 — counted, run goes on
                fail(name, e)
        passes.append(time.perf_counter() - t0)
    ctx.measured()

    # each warm-up result against its DuckDB oracle
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"'{sf_dir / 'documents.parquet'}'")
    for name, got in collected.items():
        try:
            oracle_harness.compare(got, con, qs[name].oracle)
        except Exception as e:  # noqa: BLE001 — counted, the run goes on
            fail(name, e)
    con.close()

    n_queries = sum(len(v) for v in serve.values())
    # a pass at every query's median: each query's outliers drop out
    at_median = sum(measure.median(v) for v in serve.values() if v)
    out = {
        "metrics": {
            "latency_ms": at_median * 1000.0,
            "throughput_per_s": n_queries / sum(passes),
        },
        "attempted": attempted,
        "failed": failed,
        "detail": {
            "pass_s": {"value": measure.median(passes), "unit": "s",
                       "n": len(passes)},
            "pass_at_median_s": {"value": at_median, "unit": "s",
                                 "n": n_queries},
            "staging_build_s": {"value": sum(staging.values()),
                                "unit": "s", "n": len(staging)},
            "staging_s": staging,
            "serve_s": {q: measure.summarize(v, "s")
                        for q, v in serve.items()},
            "errors": errors,
        },
    }
    layers = {}
    for label in ("shingle_postings", "shingle_index", "minhash_signatures"):
        layers[f"catalog.staging.{label}_s"] = staging.get(label, 0.0)
        layers[f"catalog.staging.{label}_bytes"] = float(
            staged_bytes.get(label, 0))
    for q in QUERIES:
        layers[f"queries.{q}.serve_s"] = (
            measure.median(serve[q]) if serve[q] else 0.0)
    out["layers"] = layers
    out["n_passes"] = len(passes)
    return out


def event_log_layers(log_dir: str, n_passes: int) -> tuple[dict, dict]:
    """Per-query layer figures from the traced run's event log,
    per pass: (layers, detail)."""
    import bench

    base = bench._parse_event_log(log_dir)
    extra = measure.event_log_extras(log_dir)
    layers, detail = {}, {}
    for q in QUERIES:
        b, e = base.get(q, {}), extra.get(q, {})
        layers[f"queries.{q}.task_s"] = b.get("task_time_sec", 0.0) / n_passes
        layers[f"queries.{q}.shuffle_bytes"] = (
            e.get("shuffle_bytes", 0) / n_passes)
        layers[f"queries.{q}.broadcast_bytes"] = (
            sum(e.get("broadcast_bytes", ())) / n_passes)
        detail[q] = {**b, **e}
    return layers, detail
