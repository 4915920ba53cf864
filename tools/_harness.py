"""Session set-up shared by the measurement tools (time_queries,
profile_query, ab): bench.py's session configuration, warm-ups and
staging prewarm, applied to the queries named on the command line.

Environment: $SPARK_GRAFT_SF_DIR (timed fixture, default sf0.1),
$SPARK_GRAFT_WARM_SF_DIR (tiny-SF plan warm-up, default sf0.001) and
$SPARK_GRAFT_CPUS (local[N], default all cores) — as for bench.py.
"""
from __future__ import annotations

import os
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

from __spark_entry__ import SMOKE_SF_DIR  # noqa: E402
from level2_to_cassandra_spark.catalog import DEFAULT_SF_DIR  # noqa: E402

SF_DIR = DEFAULT_SF_DIR
WARM_DIR = os.environ.get("SPARK_GRAFT_WARM_SF_DIR", SMOKE_SF_DIR)


def parse_reps(args: list[str], default: int) -> tuple[int, list[str]]:
    """``[-r REPS] query ...`` → (reps, query names)."""
    if args[:1] == ["-r"]:
        return int(args[1]), args[2:]
    return default, args


def open_session(app_name: str, extra_conf: dict | None = None):
    """A session configured like bench.py's, with its JVM and
    Python-worker warm-ups run."""
    from level2_to_cassandra_spark.session import get_spark

    spark = get_spark(
        app_name=app_name,
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]",
        shuffle_partitions=32,
        extra_conf={"spark.ui.enabled": "false",
                    "spark.ui.showConsoleProgress": "false",
                    "spark.driver.memory": "16g",
                    **(extra_conf or {})},
    )
    spark.sparkContext.setLogLevel("ERROR")
    run(spark, "q_sort_limit", SF_DIR)
    spark.catalog.clearCache()
    spark.range(10_000, numPartitions=int(
        spark.sparkContext.defaultParallelism)
    ).mapInPandas(lambda it: it, schema="id long").write.format(
        "noop").mode("overwrite").save()
    return spark


def run(spark, name: str, sf_dir: str) -> None:
    """Execute one query through the ``noop`` sink."""
    from level2_to_cassandra_spark.registry import all_queries

    all_queries()[name].fn(spark, sf_dir).write.format("noop").mode(
        "overwrite").save()


def warm_plans(spark, names: list[str]) -> None:
    """One tiny-SF pass per query: compiles the plans' generated classes
    outside the timed region (see bench.py)."""
    if not os.path.isdir(WARM_DIR):
        return
    for name in names:
        try:
            run(spark, name, WARM_DIR)
        except Exception as e:  # noqa: BLE001 — warm-ups never kill the run
            print(f"warmup {name} failed: {e}", file=sys.stderr)
        spark.catalog.clearCache()


def prewarm(spark, names: list[str]) -> None:
    """Build the staging artifacts ``names`` read, reporting each."""
    from level2_to_cassandra_spark.registry import prewarm_staging

    seconds, failed = prewarm_staging(spark, SF_DIR, names)
    for label, sec in seconds.items():
        print(f"staging {label}: {sec:.3f}s", file=sys.stderr)
    for label, err in failed.items():
        print(f"staging {label} FAILED: {err}", file=sys.stderr)
