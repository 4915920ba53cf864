"""The registry's plan memo: a registered query's analyzed plan is
built once per (applicationId, session, sf_dir) and every later call is
served a NEW Dataset over it — unless the session conf changed, an
input was rewritten, or the construction itself ran a Spark job.
"""

from __future__ import annotations

import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from level2_to_cassandra_spark import registry
from level2_to_cassandra_spark.catalog import load_table, read_parquet
from level2_to_cassandra_spark.registry import all_queries, clear_plans

from conftest import SF_SMOKE

#: the shingle-staging consumers of the ``query_dedup`` benchmark
DEDUP_CONSUMERS = (
    "q_sketch_error", "q_text_containment", "q_llm_dedup_fuzzy",
    "q_dedup_incremental_fuzzy", "q_dedup_cross_source",
    "q_llm_dedup_minhash",
)


@pytest.fixture
def builds(monkeypatch):
    """The number of plan constructions (memo misses) so far."""
    count = [0]
    real = registry._build

    def counting(*args):
        count[0] += 1
        return real(*args)

    monkeypatch.setattr(registry, "_build", counting)
    return count


def _jobs_and_stages(spark, action) -> tuple[int, int]:
    """(jobs, stages that ran tasks) of one ``action()``."""
    sc = spark.sparkContext
    group = f"l2c_test_memo_{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = {s for j in jobs for s in tracker.getJobInfo(j).stageIds}
    ran = [s for s in stages
           if (info := tracker.getStageInfo(s)) and info.numCompletedTasks]
    return len(jobs), len(ran)


def _served_twice(spark, fn, sf_dir=SF_SMOKE):
    """Call ``fn`` until its plan is memoized (the first call may infer
    a schema, which runs a job), then return one served frame."""
    fn(spark, sf_dir)
    fn(spark, sf_dir)
    return fn(spark, sf_dir)


def test_served_frame_runs_its_own_query_execution(spark, builds):
    """Two served frames of one query each plan and run the whole
    query: equal job and stage counts.  A second collect of the SAME
    frame re-uses its shuffle output and runs fewer stages — the
    result re-use a served frame must never give."""
    fn = all_queries()["q_sketch_error"].fn
    first = _served_twice(spark, fn)
    n_builds = builds[0]
    second = fn(spark, SF_SMOKE)
    assert builds[0] == n_builds  # served, not rebuilt
    assert second._jdf is not first._jdf
    assert second.schema == first.schema
    a = _jobs_and_stages(spark, first.collect)
    b = _jobs_and_stages(spark, second.collect)
    again = _jobs_and_stages(spark, first.collect)
    spark.catalog.clearCache()
    assert a == b
    assert again[1] < a[1]


def test_conf_change_reaches_the_served_plan(spark, builds):
    """A broadcast-threshold change removes the BroadcastExchange;
    flipping the ANSI mode or the session time zone — settings the
    analysis fixes in the plan — rebuilds it."""

    def join(spark, sf_dir):
        docs = load_table(spark, sf_dir, "documents")
        emb = load_table(spark, sf_dir, "embeddings")
        return docs.join(emb, docs.doc_id == emb.vec_id).select(
            "doc_id", "vec_id")

    def casts(spark, sf_dir):
        return spark.range(1).select(
            F.expr("try_cast('2024-01-01 12:00:00' AS timestamp)"
                   ).cast("long").alias("epoch"),
            F.expr("cast('x' AS int)").alias("bad"))

    served_join = registry._served("t_memo_join", join)
    served_casts = registry._served("t_memo_casts", casts)

    def plan(df) -> str:
        return df._jdf.queryExecution().executedPlan().toString()

    conf = spark.conf
    before = {k: conf.get(k) for k in (
        "spark.sql.autoBroadcastJoinThreshold", "spark.sql.ansi.enabled",
        "spark.sql.session.timeZone")}
    try:
        assert "BroadcastExchange" in plan(_served_twice(spark, served_join))
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        assert "BroadcastExchange" not in plan(
            served_join(spark, SF_SMOKE))

        conf.set("spark.sql.ansi.enabled", "true")
        conf.set("spark.sql.session.timeZone", "UTC")
        ansi = _served_twice(spark, served_casts)
        with pytest.raises(Exception, match="CAST_INVALID_INPUT"):
            ansi.collect()
        n = builds[0]
        conf.set("spark.sql.ansi.enabled", "false")
        row = served_casts(spark, SF_SMOKE).collect()[0]
        assert builds[0] == n + 1
        assert (row.epoch, row.bad) == (1704110400, None)
        conf.set("spark.sql.session.timeZone", "America/New_York")
        row = served_casts(spark, SF_SMOKE).collect()[0]
        assert builds[0] == n + 2
        assert row.epoch == 1704110400 + 5 * 3600
    finally:
        for k, v in before.items():
            conf.set(k, v)


def test_rewritten_input_rebuilds_the_plan(spark, tmp_path, builds):
    """A served plan whose input was rewritten (new mtime) is rebuilt,
    so the new rows are read."""
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    served = registry._served(
        "t_memo_rewrite", lambda spark, d: read_parquet(spark, path))
    assert _served_twice(spark, served, str(tmp_path)).count() == 2
    n = builds[0]
    assert served(spark, str(tmp_path)).count() == 2
    assert builds[0] == n
    pq.write_table(pa.table({"a": [1, 2, 3]}), path)
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    assert served(spark, str(tmp_path)).count() == 3
    assert builds[0] == n + 1


def test_plain_read_is_never_memoized(spark, tmp_path, builds):
    """A plan that scans a path not read through ``read_parquet`` or a
    staged serve has no recorded mtime to check, so it is rebuilt on
    every call."""
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    schema = spark.read.parquet(path).schema
    served = registry._served(
        "t_memo_plain",
        lambda spark, d: spark.read.schema(schema).parquet(path))
    for _ in range(3):
        served(spark, str(tmp_path))
    assert builds[0] == 3


def test_snapshot_query_writes_on_every_call(spark):
    """q_json_scan's construction writes its JSON snapshot (a Spark
    job), so it is never memoized: every call runs the write."""
    fn = all_queries()["q_json_scan"].fn
    sc = spark.sparkContext
    for i in range(3):
        group = f"l2c_test_memo_json_{i}_{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            fn(spark, SF_SMOKE)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert len(sc.statusTracker().getJobIdsForGroup(group)) >= 1
    assert not any(k[0] == "q_json_scan" for k in registry._PLANS)


def test_other_applications_plans_are_dropped(spark):
    stale = ("q_sort_limit", "foreign-app", "foreign-session", SF_SMOKE)
    registry._PLANS[stale] = registry._Plan(None, 0, ())
    all_queries()["q_sort_limit"].fn(spark, SF_SMOKE)
    assert stale not in registry._PLANS
    app = spark.sparkContext.applicationId
    assert all(k[1] == app for k in registry._PLANS)


@pytest.mark.parametrize("name", DEDUP_CONSUMERS)
def test_served_rows_equal_a_cold_build(spark, builds, name):
    """Each shingle-staging consumer's served frame has the cold
    build's columns and rows (exceptAll both ways)."""
    fn = all_queries()[name].fn
    served_df = _served_twice(spark, fn)
    n = builds[0]
    served_df = fn(spark, SF_SMOKE)
    assert builds[0] == n
    clear_plans()
    cold = fn(spark, SF_SMOKE)
    assert builds[0] == n + 1
    assert served_df.columns == cold.columns
    assert served_df.schema == cold.schema
    assert served_df.exceptAll(cold).isEmpty()
    assert cold.exceptAll(served_df).isEmpty()
    spark.catalog.clearCache()
