"""SparkSession factory with scale-oriented defaults.

The engine is designed for a multi-hundred-executor cluster over ~100 TB;
these defaults encode the knobs that matter there (AQE with skew-join
handling, Arrow for any pandas exchange, partition sizing) while staying
correct on ``local[*]`` for tests.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

_PACKAGE_SHIPPED: set[int] = set()


def ensure_package_on_workers(spark: SparkSession) -> None:
    """Ship this package to Python workers via ``addPyFile``.

    Pandas-UDF / applyInPandas closures reference functions in this
    package; cloudpickle serializes those BY REFERENCE, so the worker
    process must be able to import ``level2_to_cassandra_spark`` — which
    it cannot when the driving application (e.g. the grading harness)
    runs from an arbitrary CWD.  A zip of the package on the Spark
    files path fixes that for any session, local or cluster.
    """
    sc = spark.sparkContext
    key = id(sc)
    if key in _PACKAGE_SHIPPED:
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zip_path = os.path.join(
        tempfile.gettempdir(), "level2_to_cassandra_spark_pkg.zip"
    )
    with zipfile.ZipFile(zip_path, "w") as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            for fn in files:
                if not fn.endswith(".py"):
                    continue
                full = os.path.join(root, fn)
                rel = os.path.join(
                    "level2_to_cassandra_spark",
                    os.path.relpath(full, pkg_dir),
                )
                zf.write(full, rel)
    sc.addPyFile(zip_path)
    _PACKAGE_SHIPPED.add(key)

# Defaults chosen for the local test harness.  ``get_spark`` sets every
# one through ``builder.config``, so each overrides the same key in a
# site-level spark-defaults.conf; pass ``extra_conf`` to override one.
_DEFAULTS: dict[str, str] = {
    # Adaptive execution: runtime coalescing of shuffle partitions,
    # broadcast conversion after runtime stats, skew-join splitting.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow transfer for every pandas UDF / applyInPandas boundary.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # r17: let joins accept co-partitioning on a SUBSET of the join
    # keys — a postings table bucketed by doc id then satisfies the
    # (id, shingle)-keyed verification join with no exchange and no
    # sort on the postings side (the doc-bucketed staging layout;
    # default true would re-shuffle both sides on the full key pair).
    "spark.sql.requireAllClusterKeysForCoPartition": "false",
    # 128 MB input splits — good balance for wide parquet scans.
    "spark.sql.files.maxPartitionBytes": "134217728",
    # Session timezone pinned to UTC: the reference's day-rollover logic
    # (main.rs:109-120) is epoch//86400, i.e. UTC days; every date_trunc /
    # to_date in the engine must agree with the DuckDB oracle (UTC too).
    "spark.sql.session.timeZone": "UTC",
    # No Python call-site capture.  PySpark's ``_with_origin`` wrapper
    # (pyspark/errors/utils.py) adds four or more py4j round trips to
    # every Column and DataFrame function call: an active-session
    # lookup, a conf read, an origin set and an origin clear.  Lost:
    # errors no longer carry the Python file and line in their
    # DataFrame query context; the exception class and message stay
    # the same.  PySpark reads this flag once per process, at the first
    # wrapped call made while a session is active, so it must be set
    # when the session is built; ``get_spark(extra_conf={KEY: "true"})``
    # turns capture back on for debugging.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}


def get_spark(app_name: str = "level2-to-cassandra-spark",
              master: str | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS or *]`` when no
    cluster master is configured; on a real deployment the submitted
    master wins and this argument is left None.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_GRAFT_CPUS" in os.environ:
        master = f"local[{os.environ['SPARK_GRAFT_CPUS']}]"
    if master:
        builder = builder.master(master)
    conf = dict(_DEFAULTS)
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
