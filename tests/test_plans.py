"""Physical-plan assertions (SURVEY.md §4.2, M6): the optimizations the
engine RELIES on at 100 TB must actually appear in the plans —
predicate pushdown, column pruning, broadcast joins, TakeOrdered top-k
— and nothing may regress into row-at-a-time Python.
"""

from __future__ import annotations

import pytest

from level2_to_cassandra_spark.plans import plan_of
from level2_to_cassandra_spark.registry import all_queries

SF = "/root/testdata/sf0.001"


def test_filter_and_projection_pushdown(spark):
    df = all_queries()["q_scan_project_filter"].fn(spark, SF)
    plan = plan_of(df)
    assert "PushedFilters:" in plan
    # both predicates reach the parquet scan
    assert "l_shipdate" in plan.split("PushedFilters:")[1].splitlines()[0] or \
           "l_quantity" in plan.split("PushedFilters:")[1].splitlines()[0]
    # column pruning: untouched wide columns never leave the scan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    for unused in ("l_returnflag", "l_linestatus", "l_suppkey"):
        assert unused not in read_schema


def test_broadcast_joins_chosen_for_dims(spark):
    for name in ("q_join_broadcast", "q_join_multiway", "q_join_range"):
        plan = plan_of(all_queries()[name].fn(spark, SF), "simple")
        assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, name


def test_global_topn_uses_take_ordered(spark):
    plan = plan_of(all_queries()["q_sort_limit"].fn(spark, SF), "simple")
    assert "TakeOrderedAndProject" in plan


def test_whole_stage_codegen_on_agg_path(spark):
    # "formatted" hides codegen behind unfinalized AQE; "codegen" mode
    # reports the compiled subtrees directly.
    plan = plan_of(all_queries()["q_agg_basic"].fn(spark, SF), "codegen")
    assert "WholeStageCodegen subtrees" in plan
    assert "Found 0" not in plan.splitlines()[1]


def test_tfidf_df_relation_not_force_broadcast(spark):
    """The per-term document-frequency relation is UNBOUNDED (one row
    per distinct term): a forced broadcast hint on it OOMs executors at
    corpus scale, so the tf⋈df equi-join must carry no hint — AQE may
    still pick a broadcast at small SF from measured sizes.  Only the
    1-row N aggregate (the cross join) is allowed a broadcast hint."""
    df = all_queries()["q_text_tfidf"].fn(spark, SF)
    logical = df._jdf.queryExecution().optimizedPlan().toString()
    for line in logical.splitlines():
        if "Join Inner" in line:
            assert "broadcast" not in line.lower(), line


#: The only queries allowed to cross the JVM→Python boundary, and only
#: via Arrow-batched operators (their reason to exist is that surface).
_PYTHON_ALLOWED = {
    "q_multimodal_features",   # mapInPandas feature extraction
    "q_udf_pandas_cosine",     # scalar pandas UDF (ArrowEvalPython)
    "q_udtf_tokenize",         # Python UDTF
    # sign-LSH bucketize / IVF cell assignment = dense matrix products:
    # Arrow-batched numpy (operators/similarity.py::lsh_buckets_np,
    # ::ivf_assign_np) beats the JVM accumulator/fold forms ~20x;
    # bit-identity/parity with the JVM forms is tested.
    # (q_sim_ann_lsh / q_llm_dedup_embed /
    # q_dedup_incremental_multimodal BUILD with the LSH Arrow kernel,
    # but since r16 serve off the session-staged parquet bucket tables
    # — no Python nodes at serve time)
    "q_embed_covariance",      # map-side Gram partials (gram_partials)
    "q_embed_pca",             # covariance build rides gram_partials;
                               # the projection itself is a JVM fold
    # (q_dedup_multimodal BUILDS with the LSH Arrow kernel, but its
    # registered plan serves off the materialized decision table — no
    # Python nodes at serve time, pinned by
    # test_multimodal_gate_no_cartesian_id_only_assembly)
    # (q_sim_ann_ivf / q_semdedup BUILD with ivf_assign_np's Arrow
    # matmul, but since r16 both serve off the session-staged parquet
    # inverted file — no Python nodes at serve time, pinned by
    # test_ivf_serves_from_staged_index /
    # test_semdedup_serves_from_staged_index)
    # (q_ann_recall / q_ann_ndcg BUILD their two ranking legs with
    # the registered q_sim_ann_ivf / q_sim_topk plans — Arrow kernels
    # included — but their registered plans serve off the two
    # materialized eval tables: no Python nodes at serve time, pinned
    # by test_ann_eval_queries_serve_from_staged_rankings)
    # PQ codebook assignment + ADC lookup-table scoring are dense
    # numpy table ops (similarity.py::pq_assign_np, the adc kernel in
    # pq_adc_topk); the JVM fold form (pq_encode_fold) is the
    # parity-tested spec, ~20x slower interpreted-HOF evaluation
    "q_sim_ann_pq",
    "q_sim_ann_ivfpq",     # cell-restricted ADC over the same kernels
    # (q_llm_dedup_simhash BUILDS with the Arrow vote kernel — the
    # 64-bit popcount over per-doc hash lists — but since r16 serves
    # off the session-staged parquet fingerprint table: no Python
    # nodes at serve time, pinned by
    # test_simhash_serves_from_staged_fingerprints)
    # (q_cluster_kmeans / q_sample_cluster BUILD with ivf_assign_np's
    # Arrow matmul, but their registered plans serve off the
    # materialized assignment table — no Python nodes at serve time,
    # pinned by test_cluster_queries_serve_from_assignment_table)
}


@pytest.mark.parametrize("name", sorted(all_queries()))
def test_no_row_python_in_any_plan(spark, name):
    """Row-at-a-time Python (BatchEvalPython) is banned engine-wide;
    Arrow-vectorized exchanges may appear only in the queries whose
    purpose IS the Python surface."""
    df = all_queries()[name].fn(spark, SF)
    plan = plan_of(df, "simple")
    # BatchEvalPythonUDTF is the (allowed) UDTF node, not the row-UDF one
    row_udf_plan = plan.replace("BatchEvalPythonUDTF", "")
    assert "BatchEvalPython" not in row_udf_plan, f"{name} uses row-Python UDF"
    python_nodes = ("MapInPandas", "ArrowEvalPython", "PythonUDTF")
    if any(n in plan for n in python_nodes):
        assert name in _PYTHON_ALLOWED, f"{name} unexpectedly leaves the JVM"


def test_map_side_corpus_queries_have_no_exchange(spark):
    """q_sample_stratified and q_text_repetition claim to be
    embarrassingly parallel (every row decides/scores itself inside the
    scan stage): their plans must contain NO shuffle at all, and the
    stratified sample's hash-cut predicate must reach the scan as a
    data filter."""
    for name in ("q_sample_stratified", "q_text_repetition"):
        plan = plan_of(all_queries()[name].fn(spark, SF), "simple")
        assert "Exchange" not in plan, name
    plan = plan_of(all_queries()["q_sample_stratified"].fn(spark, SF), "simple")
    assert "Filter" in plan


def test_incremental_dedup_plan_shape(spark):
    """q_dedup_incremental: the seen corpus joins via LEFT ANTI on the
    content hash (fixed-width key), never a cartesian; the batch-side
    doc_id % 10 predicate must reach the scan as a data filter."""
    plan = plan_of(all_queries()["q_dedup_incremental"].fn(spark, SF),
                   "simple")
    assert "LeftAnti" in plan
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan
    assert "Filter" in plan


def test_redact_is_map_side_only(spark):
    """q_text_redact claims embarrassingly parallel scrubbing: its plan
    must contain NO shuffle — regex passes fused into the scan stage."""
    plan = plan_of(all_queries()["q_text_redact"].fn(spark, SF), "simple")
    assert "Exchange" not in plan


def test_curation_funnel_single_shuffle(spark):
    """q_curate_corpus claims one shuffle total (the canonicality
    window's content-hash exchange); every other gate must stay fused
    into the scan stage."""
    plan = plan_of(all_queries()["q_curate_corpus"].fn(spark, SF), "simple")
    assert plan.count("Exchange hashpartitioning") == 1


def test_resample_exchange_budget(spark):
    """Both resample forms: exactly the three key-aligned exchanges
    their docstrings claim (dedup agg, bounds agg, fill window) and no
    join in the fill path."""
    for name in ("q_resample_locf", "q_resample_interp"):
        plan = plan_of(all_queries()[name].fn(spark, SF), "simple")
        assert plan.count("Exchange hashpartitioning") == 3, name
        assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan, name


def test_range_frame_single_shuffle(spark):
    """q_window_range_frame: exactly one hash exchange (on user_id)
    feeds the RANGE-framed window — no extra sort/exchange pairs."""
    plan = plan_of(all_queries()["q_window_range_frame"].fn(spark, SF),
                   "simple")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Window" in plan


def test_ivf_serves_from_staged_index(spark):
    """VERDICT r04 #4, completed by the r16 staging: the corpus must
    cross the Arrow boundary ONCE PER SESSION, not per call.  The
    inverted file is the parquet-staged last-Lloyd assignment
    (queries/llm.py::_ivf_relation), so the SERVE plan has NO Python
    node at all — probe + re-rank over two parquet staging scans (the
    q_sim_ann_ivfpq / ann-eval serve discipline)."""
    df = all_queries()["q_sim_ann_ivf"].fn(spark, SF)
    plan = plan_of(df, "simple")
    assert "MapInPandas" not in plan
    assert "BatchEvalPython" not in plan
    # both index relations are parquet staging scans, not live builds
    assert plan.count("Scan parquet") >= 2


def test_semdedup_serves_from_staged_index(spark):
    """q_semdedup shares the SAME staged inverted file: its serve plan
    carries no Python node (the seeds/assignment build ran in the
    session staging builder) and no per-call persist
    (InMemoryRelation)."""
    df = all_queries()["q_semdedup"].fn(spark, SF)
    plan = plan_of(df, "simple")
    assert "MapInPandas" not in plan
    assert "BatchEvalPython" not in plan
    assert "InMemoryRelation" not in plan


def test_simhash_serves_from_staged_fingerprints(spark):
    """q_llm_dedup_simhash serves off the session-staged fingerprint
    table (queries/llm.py::_simhash_relation): the explode + Arrow
    vote pass runs once per session in the staging builder, so the
    serve plan carries no Python node, no per-call persist
    (InMemoryRelation), and reads the staged parquet on both sides of
    the banded self-join."""
    df = all_queries()["q_llm_dedup_simhash"].fn(spark, SF)
    plan = plan_of(df, "simple")
    assert "MapInPandas" not in plan
    assert "BatchEvalPython" not in plan
    assert "InMemoryRelation" not in plan
    assert plan.count("Scan parquet") >= 2


def test_vocab_queries_broadcast_and_exchange_budget(spark):
    """q_vocab_coverage / q_tokenize_ids: exactly two hash exchanges
    (token-count agg + per-doc agg); the induced vocab must attach via
    BROADCAST join (never a sort-merge shuffle of the token stream
    against a 20-row relation)."""
    for name in ("q_vocab_coverage", "q_tokenize_ids"):
        plan = plan_of(all_queries()[name].fn(spark, SF), "simple")
        assert plan.count("Exchange hashpartitioning") == 2, name
        assert "BroadcastHashJoin" in plan, name
        assert "SortMergeJoin" not in plan, name


def test_corpus_pipeline_caches_admitted_once(spark):
    """q_corpus_pipeline's vocab and id branches must BOTH read the
    persisted admitted staging table (InMemoryTableScan) instead of
    re-running the curation gate per branch; the vocab attaches via
    broadcast."""
    plan = plan_of(all_queries()["q_corpus_pipeline"].fn(spark, SF),
                   "simple")
    assert plan.count("InMemoryTableScan") >= 2
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_funnel_single_shuffle_three_windows(spark):
    """q_funnel: the three chained stage thresholds must ride ONE
    user_id exchange as successive window passes — never the oracle's
    3-join formulation (which would be three shuffles of raw events)."""
    plan = plan_of(all_queries()["q_funnel"].fn(spark, SF), "simple")
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Window") == 3
    assert "SortMergeJoin" not in plan


def test_retention_has_no_join(spark):
    """q_retention: cohort week and active weeks come from ONE user_id
    aggregate (collect_set) — the plan must contain no join of any
    kind and exactly two hash exchanges (per-user agg + final
    rollup)."""
    plan = plan_of(all_queries()["q_retention"].fn(spark, SF), "simple")
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 2


def test_shuffle_epoch_no_global_sort(spark):
    """q_shuffle_epoch's whole claim is that epoch shuffling never
    funnels the corpus through one partition: the rank window must run
    per shard (one hash exchange on shard_id), with no SinglePartition
    exchange and no global Sort outside it."""
    plan = plan_of(all_queries()["q_shuffle_epoch"].fn(spark, SF), "simple")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Exchange SinglePartition" not in plan
    assert "rangepartitioning" not in plan


def test_length_buckets_single_rollup_shuffle(spark):
    """q_length_buckets: bucket caps and token counts are scan-stage
    expressions; the only exchange is the tiny rollup's."""
    plan = plan_of(all_queries()["q_length_buckets"].fn(spark, SF), "simple")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "HashAggregate" in plan


def test_pq_rerank_joins_are_broadcast(spark):
    """q_sim_ann_pq: with the PQ index staged (r16), the ADC
    lookup-table scan over the encoded parquet is the ONLY Python pass
    in the serve plan (train and encode are build-time); the shortlist
    re-rank must join back to full vectors via broadcast (shortlist
    and query relations are driver-bounded), never a shuffled or
    nested-loop join over the corpus."""
    plan = plan_of(all_queries()["q_sim_ann_pq"].fn(spark, SF), "simple")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("MapInPandas") == 1
    assert "InMemoryRelation" not in plan


def test_ivfpq_probe_restricted_and_broadcast_rerank(spark):
    """q_sim_ann_ivfpq: the inverted file (cell+codes staging) feeds
    the ADC kernel; the re-rank joins are broadcast; no corpus-wide
    shuffled join or cartesian anywhere."""
    plan = plan_of(all_queries()["q_sim_ann_ivfpq"].fn(spark, SF), "simple")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_ivfpq_serves_from_persisted_index(spark):
    """Build/serve split (VERDICT r05 #3): the registered query's
    serve plan must read the session's materialized parquet code
    relation — exactly ONE MapInPandas (the ADC scan; the
    Lloyd-assign and encode kernels belong to the build, which ran
    once in _ivfpq_session_index) and a scan of the index path, not a
    rebuild from the embeddings table."""
    from level2_to_cassandra_spark.queries.llm import _ivfpq_session_index

    idx = _ivfpq_session_index(spark, SF)
    assert idx.path is not None
    plan = plan_of(all_queries()["q_sim_ann_ivfpq"].fn(spark, SF), "simple")
    assert plan.count("MapInPandas") == 1
    assert idx.path.rstrip("/").split("/")[-1] in plan


def test_asof_tolerance_plan_matches_asof(spark):
    """The staleness bound must not change the join strategy: the
    tolerance variant keeps q_join_asof's union-merge shape (no
    SortMergeJoin/BroadcastHashJoin — it is a union + window fill)
    with the identical exchange count; the bound is a per-row
    comparison, not an operator."""
    base = plan_of(all_queries()["q_join_asof"].fn(spark, SF), "simple")
    tol = plan_of(
        all_queries()["q_join_asof_tolerance"].fn(spark, SF), "simple"
    )
    for p in (base, tol):
        assert "SortMergeJoin" not in p
        assert "BroadcastHashJoin" not in p
        assert "CartesianProduct" not in p
    assert (tol.count("Exchange hashpartitioning")
            == base.count("Exchange hashpartitioning"))


def test_asof_nearest_single_window_pass(spark):
    """direction='nearest' must cost the SAME plan as backward: both
    candidate fills (preceding-frame `last`, following-frame `first`)
    share ONE WindowExec over one sort — never two directional joins
    or two window passes reconciled afterwards.  Exchange count
    matches q_join_asof exactly."""
    import re

    base = plan_of(all_queries()["q_join_asof"].fn(spark, SF), "simple")
    near = plan_of(
        all_queries()["q_join_asof_nearest"].fn(spark, SF), "simple"
    )
    for p in (base, near):
        assert "SortMergeJoin" not in p
        assert "CartesianProduct" not in p
    assert (near.count("Exchange hashpartitioning")
            == base.count("Exchange hashpartitioning"))
    fills = [n for n in re.findall(r"Window \[[^\n]*", near)
             if "last(" in n or "first(" in n]
    assert len(fills) == 1 and "last(" in fills[0] and "first(" in fills[0]


def test_window_sliding_one_expand_one_exchange(spark):
    """q_window_sliding: Spark's window() expands each row to its
    width/slide = 2 covering windows (constant fan-out) and the hash
    aggregate rides ONE exchange — no join, no sort, no per-window
    re-scan."""
    plan = plan_of(all_queries()["q_window_sliding"].fn(spark, SF),
                   "simple")
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Expand") == 1
    assert "Join" not in plan


def test_agg_string_no_window_no_sort(spark):
    """q_agg_string: the ordered string agg is collect_list partials +
    a per-group array_sort — one grouping exchange plus the broadcast
    dim join; NO WindowExec and NO global Sort (the ordering is bounded
    by group size, never a shuffle-wide sort)."""
    plan = plan_of(all_queries()["q_agg_string"].fn(spark, SF), "simple")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan
    assert "Sort " not in plan


def test_join_salted_spreads_key(spark):
    """q_join_salted: the small side is replicated by one constant
    explode (Generate) and the join condition carries the salt next to
    the key — the physical spread the operator exists for.  No
    CartesianProduct ever."""
    plan = plan_of(all_queries()["q_join_salted"].fn(spark, SF), "simple")
    assert "Generate explode" in plan
    join_lines = [l for l in plan.splitlines() if "Join" in l]
    assert join_lines and all("__salt" in l for l in join_lines), join_lines
    assert "CartesianProduct" not in plan


def test_khop_anti_join_no_cartesian(spark):
    """q_graph_khop: exactly-distance-2 is the 2-step walk MINUS the
    direct neighborhood — a LeftAnti equi-join, never a row-multiplying
    filter join — with the adjacency persisted across its three plan
    branches and no CartesianProduct anywhere."""
    plan = plan_of(all_queries()["q_graph_khop"].fn(spark, SF), "simple")
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert "InMemoryTableScan" in plan or "TableCacheQueryStage" in plan


def test_merge_upsert_is_one_full_outer_join(spark):
    """q_merge_upsert: the whole MERGE (update+delete+insert apply)
    lowers to exactly ONE FullOuter join on the merge key — never a
    per-op join cascade or a per-row lookup — and no Cartesian."""
    plan = plan_of(all_queries()["q_merge_upsert"].fn(spark, SF),
                   "simple")
    assert plan.count("FullOuter") == 1
    assert "CartesianProduct" not in plan


def test_more_like_this_serves_from_staged_ranking(spark):
    """q_text_more_like_this serves off the materialized MLT ranking
    staging table (ADVICE r13 #3): once the session table exists the
    plan is a parquet scan + rank filter — no joins, no tf-idf build,
    no persist (the build itself keeps the broadcast-probe shape,
    covered by the oracle + q_rank_fusion's pin)."""
    from level2_to_cassandra_spark.catalog import _STAGED
    from level2_to_cassandra_spark.queries.llm import _mlt_ranking

    _mlt_ranking(spark, SF)  # session build, outside the serve plan
    app = spark.sparkContext.applicationId
    assert ("mlt_ranking", app, SF) in _STAGED
    plan = plan_of(all_queries()["q_text_more_like_this"].fn(spark, SF),
                   "simple")
    assert "Join" not in plan
    assert "Scan parquet" in plan
    assert "InMemoryTableScan" not in plan


def test_triangles_semi_join_no_cartesian(spark):
    """q_graph_triangles: the closing-edge check must be a LeftSemi
    equi-join (existence only — no row multiplication, no payload) and
    nothing in the pipeline may degrade to CartesianProduct; the
    oriented edge relation is persisted (InMemoryRelation) so the
    three-sided wedge join reads it, not the edge+degree build."""
    plan = plan_of(all_queries()["q_graph_triangles"].fn(spark, SF),
                   "simple")
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    assert "InMemoryTableScan" in plan or "TableCacheQueryStage" in plan


def test_graph_serves_from_persisted_edges(spark):
    """Build/serve split (VERDICT r09 task #2): once the session's
    edge table exists, the graph queries' plans read the materialized
    parquet relation — no trace of the co-occurrence build (the
    order-keyed collect_set aggregate) may appear in a serve plan."""
    from level2_to_cassandra_spark.catalog import _STAGED
    from level2_to_cassandra_spark.queries.graph import (
        _sparsified_supplier_edges,
    )

    _sparsified_supplier_edges(spark, SF)
    app = spark.sparkContext.applicationId
    assert ("graph_edges", app, SF) in _STAGED
    for q in ("q_graph_khop", "q_graph_triangles"):
        plan = plan_of(all_queries()[q].fn(spark, SF), "simple")
        assert "collect_set" not in plan, q
        assert "Scan parquet" in plan, q
    # the component query serves off the materialized label table:
    # label scan + ONE window — no joins, no trace of the CC loop
    plan = plan_of(all_queries()["q_graph_components"].fn(spark, SF),
                   "simple")
    assert "Join" not in plan
    assert "Scan parquet" in plan and "Window" in plan


def test_twap_single_shuffle_no_join(spark):
    """q_twap: the lead window and the grouped aggregation ride ONE
    (user_id, day) exchange; no join anywhere (the day-end boundary
    is arithmetic, not a calendar relation)."""
    plan = plan_of(all_queries()["q_twap"].fn(spark, SF), "simple")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_zorder_map_side_only(spark):
    """q_zorder: one 1-row bounds aggregate broadcast onto the scan;
    the per-row quantize+interleave is pure map-side integer math —
    no hash-partitioned exchange anywhere."""
    plan = plan_of(all_queries()["q_zorder"].fn(spark, SF), "simple")
    assert "Exchange hashpartitioning" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_sample_weighted_single_shuffle(spark):
    """q_sample_weighted: the race key is map-side arithmetic on the
    scan; the ONLY shuffle is the per-source top-K ranking window —
    no join, no extra exchange."""
    plan = plan_of(all_queries()["q_sample_weighted"].fn(spark, SF),
                   "simple")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_event_transitions_no_join_three_exchanges(spark):
    """q_event_transitions: one user_id shuffle (lag window), the tiny
    transition rollup, and the per-source probability window — three
    key-aligned exchanges, never a join (the matrix normalization is a
    window over the 25-cell aggregate, not a self-join)."""
    plan = plan_of(all_queries()["q_event_transitions"].fn(spark, SF),
                   "simple")
    assert plan.count("Exchange hashpartitioning") == 3
    assert "Join" not in plan


def test_unpivot_is_expand_not_union(spark):
    """q_unpivot: native unpivot must compile to one scan + Expand —
    never the UNION-ALL form that re-scans the table once per melted
    measure (4× the IO at lake scale)."""
    plan = plan_of(all_queries()["q_unpivot"].fn(spark, SF), "simple")
    assert "Expand" in plan
    assert "Union" not in plan
    assert "Exchange" not in plan


def test_argmax_is_single_agg_no_window(spark):
    """q_agg_argmax: the whole point is argmax WITHOUT the window —
    one hash exchange (the grouped struct-max/min aggregate), no
    Window, no Join (the oracle's ROW_NUMBER form would show both)."""
    plan = plan_of(all_queries()["q_agg_argmax"].fn(spark, SF), "simple")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Window" not in plan
    assert "Join" not in plan


def test_hist_bounds_broadcast_single_agg(spark):
    """q_hist_equiwidth: the global bounds ride a 1-row broadcast onto
    the scan (never a driver round trip / second-pass collect); the
    only hash exchange is the ≤20-group bin aggregate."""
    plan = plan_of(all_queries()["q_hist_equiwidth"].fn(spark, SF),
                   "simple")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_bm25_no_cartesian_no_sort_join(spark):
    """q_bm25: corpus stats and df are broadcast (tiny relations), the
    filtered postings aggregate carries the only wide work — no
    CartesianProduct, no sort-merge join, no window."""
    plan = plan_of(all_queries()["q_bm25"].fn(spark, SF), "simple")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan


def test_pmi_persists_count_relations(spark):
    """q_cooccurrence_pmi: the pair/unigram COUNT relations are
    persisted (InMemoryRelation in-plan) so u1/u2/totals re-read the
    cached Zipf-small tables instead of re-tokenizing the corpus per
    branch; no cartesian product anywhere."""
    df = all_queries()["q_cooccurrence_pmi"].fn(spark, SF)
    plan = plan_of(df, "simple")
    assert "InMemoryTableScan" in plan
    assert "CartesianProduct" not in plan
    spark.catalog.clearCache()


def test_anomaly_zscore_stats_broadcast(spark):
    """q_anomaly_zscore: the 5-row med/MAD stats relations join back
    over the scan as broadcasts — never a sort-merge join — and there
    is no window (exact percentiles are hash aggregates)."""
    plan = plan_of(all_queries()["q_anomaly_zscore"].fn(spark, SF),
                   "simple")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan


def test_mode_is_two_aggs_no_window(spark):
    """q_agg_mode: count agg + argmax agg — two hash exchanges, never
    a window over the raw table and never a join."""
    plan = plan_of(all_queries()["q_agg_mode"].fn(spark, SF), "simple")
    assert plan.count("Exchange hashpartitioning") == 2
    assert "Window" not in plan
    assert "Join" not in plan


def test_ntile_single_exchange(spark):
    """q_window_ntile: one event_type exchange feeding the in-partition
    sort + NTILE window; no join, no global sort."""
    plan = plan_of(all_queries()["q_window_ntile"].fn(spark, SF),
                   "simple")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan
    assert "Exchange rangepartitioning" not in plan


def test_gap_islands_window_reuses_distinct_clustering(spark):
    """q_gap_islands: the (user_id, day) DISTINCT, the user_id window,
    and the two follow-up aggregates are all key-aligned — no join,
    no global sort, and at most three hash exchanges (distinct key →
    user_id window → island rollups reuse the window clustering)."""
    plan = plan_of(all_queries()["q_gap_islands"].fn(spark, SF), "simple")
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") <= 3
    assert "Exchange rangepartitioning" not in plan


def test_scd2_single_window_single_exchange(spark):
    """q_scd2: LEAD + ROW_NUMBER share one partition/order, so the
    whole interval build is ONE Window node over ONE o_custkey
    exchange — never a self-join against 'the next row'."""
    plan = plan_of(all_queries()["q_scd2"].fn(spark, SF), "simple")
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Window") == 1
    assert "Join" not in plan


def test_snapshot_diff_is_one_outer_join(spark):
    """q_snapshot_diff: exactly one full-outer join on the snapshot
    key (the canonical CDC diff plan); classification is map-side and
    the 4-group rollup is map-side-combined — no second join, no
    cartesian, no sort beyond the merge join's own."""
    plan = plan_of(all_queries()["q_snapshot_diff"].fn(spark, SF),
                   "simple")
    assert plan.count("SortMergeJoin") == 1
    assert "FullOuter" in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Join") == 1


def test_running_distinct_two_windows_no_join(spark):
    """q_window_running_distinct: two Window nodes (first-seen flag,
    running sum) over two key-aligned exchanges — never a join and
    never per-frame distinct-set state."""
    plan = plan_of(
        all_queries()["q_window_running_distinct"].fn(spark, SF),
        "simple",
    )
    assert plan.count("Window") == 2
    assert plan.count("Exchange hashpartitioning") == 2
    assert "Join" not in plan


def test_pagerank_broadcasts_ranks_no_cartesian(spark):
    """q_pagerank: every iteration joins the rank vector BROADCAST
    against the edge relation (plus the 1-row node-count broadcast);
    no shuffle join of edges against ranks, no CartesianProduct, and
    the events scan feeds exactly one lag-window exchange."""
    plan = plan_of(all_queries()["q_pagerank"].fn(spark, SF), "simple")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_winsorize_bounds_broadcast_no_window(spark):
    """q_winsorize: the per-group p05/p95 bounds come from one grouped
    percentile aggregate joined back via BROADCAST; the clip + mean is
    map-side + one grouped agg — no window, no sort-merge join."""
    plan = plan_of(all_queries()["q_winsorize"].fn(spark, SF), "simple")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan


def test_rollup_cascade_two_level_aggs_no_join(spark):
    """q_rollup_cascade: exactly two hash exchanges — the minutely
    partial agg (the stored rollup, map-side combined) and the hourly
    re-aggregation over 60x-fewer partial rows; never a join, never a
    window, never a second raw-table scan."""
    plan = plan_of(all_queries()["q_rollup_cascade"].fn(spark, SF), "simple")
    assert plan.count("Exchange hashpartitioning") == 2
    assert "Join" not in plan
    assert "Window" not in plan
    assert plan.count("Scan ") == 1


def test_skew_profile_count_aggs_no_join_no_window(spark):
    """q_skew_profile: each profiled key is one map-side-combined count
    agg + a single-row stats fold — no join, no window, no global
    sort; the only hash exchanges carry the #keys-sized count
    relations."""
    plan = plan_of(all_queries()["q_skew_profile"].fn(spark, SF), "simple")
    assert "Join" not in plan
    assert "Window" not in plan
    assert plan.count("Exchange hashpartitioning") == 2  # one per key


def test_orc_scan_pushes_filter_and_prunes_columns(spark):
    """q_orc_scan: the value>100 predicate must reach the ORC reader as
    a PushedFilter and the scan must read only the three projected
    columns (stripe-statistics skipping + column pruning are what make
    a mixed-format lake scan affordable)."""
    df = all_queries()["q_orc_scan"].fn(spark, SF)
    plan = plan_of(df, "formatted")
    assert "Scan orc" in plan
    assert "GreaterThan(value,100.0)" in plan
    # ReadSchema carries exactly the projected columns
    import re
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {"event_id", "event_type", "value"}


def test_quality_checks_one_events_scan_one_fk_join(spark):
    """q_quality_checks: every single-table constraint rides ONE events
    scan (adding a constraint adds a counter column, not a scan); the
    FK probe is the only join.  No window, no cartesian."""
    plan = plan_of(all_queries()["q_quality_checks"].fn(spark, SF), "simple")
    assert plan.count("Scan parquet") == 3  # events + lineitem + orders
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_drift_psi_broadcast_bounds_no_smj(spark):
    """q_drift_psi: the per-group reference bounds come back over the
    scan via BROADCAST; the only window runs over the #groups x 10
    cell relation.  No sort-merge join, no cartesian."""
    plan = plan_of(all_queries()["q_drift_psi"].fn(spark, SF), "simple")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_max_concurrency_no_global_boundary_sort(spark):
    """q_max_concurrency: ONE scan (boundaries explode from the session
    relation — never a union that recomputes the sessionize subtree per
    branch), sweep windows partition by day (parallel), and the only
    single-partition exchange feeds the #days-sized prefix window above
    the day rollup — never the boundary-scale relation.  Join-free."""
    plan = plan_of(all_queries()["q_max_concurrency"].fn(spark, SF), "simple")
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
    assert plan.count("Exchange SinglePartition") == 1


def test_reconcile_diff_single_full_outer_join(spark):
    """reconcile_diff: exactly ONE join (the full-outer key join — the
    q_snapshot_diff shape) and map-side classification; never a second
    join or a cartesian for the payload compare."""
    from level2_to_cassandra_spark.streaming.reconcile import reconcile_diff

    import datetime as dt

    rows = [("A", dt.datetime(2024, 1, 1), 1.0, 5, "B")]
    schema = ("symbol string, time timestamp, price double, "
              "volume long, trade_type string")
    e = spark.createDataFrame(rows, schema)
    a = spark.createDataFrame(rows, schema)
    plan = plan_of(reconcile_diff(e, a), "simple")
    assert plan.count("FullOuter") == 1
    assert plan.lower().count("join") == 1  # the full outer, nothing else
    assert "CartesianProduct" not in plan


def test_cluster_queries_serve_from_assignment_table(spark):
    """Build/serve split for the kmeans label table (self-review r10):
    once the session's assignment exists, q_cluster_kmeans AND
    q_sample_cluster serve off the materialized parquet — no
    MapInPandas (the Lloyd Arrow kernel belongs to the build) and no
    embeddings-table rebuild in either serve plan."""
    from level2_to_cassandra_spark.catalog import _STAGED
    from level2_to_cassandra_spark.queries.llm import _kmeans_assignment

    _kmeans_assignment(spark, SF)
    app = spark.sparkContext.applicationId
    assert ("kmeans_assignment", app, SF) in _STAGED
    for q in ("q_cluster_kmeans", "q_sample_cluster"):
        plan = plan_of(all_queries()[q].fn(spark, SF), "simple")
        assert "MapInPandas" not in plan, q
        assert "Scan parquet" in plan, q


def test_interval_join_is_binned_equi_join(spark):
    """q_join_interval: the overlap search must ride the bin-id
    EQUI-join — never a cartesian/nested-loop theta join — and the
    session-interval staging relation is persisted (it feeds both join
    sides plus the zero-count left join)."""
    plan = plan_of(all_queries()["q_join_interval"].fn(spark, SF),
                   "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "InMemoryTableScan" in plan or "TableCacheQueryStage" in plan


def test_covariance_one_scan_one_shuffle(spark):
    """q_embed_covariance claims the map-side moment reduction: ONE
    embeddings scan feeding the Arrow Gram kernel, ONE hash exchange
    (the (i, j) partial-sum aggregate), and no join anywhere — the
    double-posexplode row-amplification plan must never reappear."""
    plan = plan_of(all_queries()["q_embed_covariance"].fn(spark, SF),
                   "simple")
    assert plan.count("Scan parquet") == 1
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan and "Generate" not in plan
    assert "MapInPandas" in plan


def test_pca_projection_scan_only_no_python(spark):
    """q_embed_pca's RETURNED plan is the projection pass only: one
    embeddings scan feeding a codegen'd fold against the 64 literal
    loadings — no join, no shuffle, no Python node (the covariance
    build is a separate bounded-collect job; the serve plan must carry
    none of its residue)."""
    plan = plan_of(all_queries()["q_embed_pca"].fn(spark, SF), "simple")
    assert plan.count("Scan parquet") == 1
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan


def test_containment_no_cartesian_no_union(spark):
    """q_text_containment: every join is a shingle/id EQUI-join (never
    cartesian, never a union re-running the candidate subtree per
    direction — the asymmetric prefix join emits directional rows
    natively); since r14 the prefix index is the materialized ranked
    staging table, so the serve plan carries NO window stack and NO
    persist — each candidate-join branch is a parquet scan."""
    from level2_to_cassandra_spark.queries.llm import (
        _shingle_index_relation,
    )

    _shingle_index_relation(spark, SF)  # session build, outside serve
    plan = plan_of(all_queries()["q_text_containment"].fn(spark, SF),
                   "simple")
    assert "CartesianProduct" not in plan
    assert "Union" not in plan
    assert "Window" not in plan  # ranked index served, never rebuilt
    assert "InMemoryTableScan" not in plan
    assert "Scan parquet" in plan


def test_fuzzy_family_serves_from_staged_ranked_index(spark):
    """q_llm_dedup_fuzzy / q_dedup_incremental_fuzzy (r14): candidate
    generation reads the materialized ranked prefix index — no df/pos/n
    window stack and no persist in the serve plans."""
    from level2_to_cassandra_spark.catalog import _STAGED
    from level2_to_cassandra_spark.queries.llm import _shingle_index_relation

    _shingle_index_relation(spark, SF)
    app = spark.sparkContext.applicationId
    assert ("shingle_index", app, SF) in _STAGED  # r17: bucketed table
    for name in ("q_llm_dedup_fuzzy", "q_dedup_incremental_fuzzy"):
        plan = plan_of(all_queries()[name].fn(spark, SF), "simple")
        assert "Window" not in plan, name
        assert "InMemoryTableScan" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_multimodal_gate_no_cartesian_id_only_assembly(spark):
    """q_dedup_multimodal build/serve split: the BUILD frame has no
    cartesian anywhere (text edges ride the sha2 window, embedding
    edges the (table, bucket) equi-join) and its assembly joins carry
    ids/flags only — document text must not survive past the scan
    stage into any join (content never re-shuffles).  The SERVE plan
    (the registered query) reads the materialized decision table: a
    parquet scan, no joins, no Python nodes."""
    from level2_to_cassandra_spark.queries.llm import (
        _multimodal_gate_frame,
    )

    frame, persisted = _multimodal_gate_frame(spark, SF)
    plan = plan_of(frame, "simple")
    for p in persisted:
        p.unpersist()
    assert "CartesianProduct" not in plan
    for join_line in (ln for ln in plan.splitlines()
                      if "Join" in ln and "text" in ln):
        raise AssertionError(f"text column reached a join: {join_line}")
    plan = plan_of(all_queries()["q_dedup_multimodal"].fn(spark, SF),
                   "simple")
    assert "Scan parquet" in plan
    assert "Join" not in plan and "MapInPandas" not in plan


def test_outlier_serve_scan_only_no_python(spark):
    """q_embed_outlier's RETURNED plan is the scoring pass only: one
    embeddings scan feeding a codegen'd cosine fold against 64 literal
    centroid doubles — no join, no shuffle, no Python node (the
    64-cell centroid build is a separate bounded-collect job; the
    serve plan must carry none of its residue)."""
    plan = plan_of(all_queries()["q_embed_outlier"].fn(spark, SF),
                   "simple")
    assert plan.count("Scan parquet") == 1
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan


def test_boilerplate_hot_set_broadcasts(spark):
    """q_text_boilerplate's scale claim: the hot-shingle set (bounded
    by construction under the corpus-relative df cut) joins the
    occurrence stream as a BROADCAST — the per-doc scoring pass must
    never shuffle the exploded corpus for the hot probe, and nothing
    in the plan may be a cartesian (the 1-row threshold relation rides
    a broadcast nested loop, which is the broadcast of a single row,
    not a row-scale cartesian)."""
    plan = plan_of(all_queries()["q_text_boilerplate"].fn(spark, SF),
                   "simple")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    hot_probe_shuffles = [
        ln for ln in plan.splitlines()
        if "SortMergeJoin" in ln and "g3" in ln
    ]
    assert not hot_probe_shuffles, hot_probe_shuffles


def test_zipf_serves_postings_no_global_sort(spark):
    """q_text_zipf's scale claim: the spectrum form needs NO global
    rank ordering — the plan must contain no Sort-for-window and no
    single-partition Exchange beyond the final 1-row fit broadcast,
    and it must serve from the materialized tf postings table (a
    parquet scan, not a re-tokenization Generate over documents)."""
    from level2_to_cassandra_spark.queries.llm import _tf_relation

    _tf_relation(spark, SF)  # session build, outside the serve plan
    plan = plan_of(all_queries()["q_text_zipf"].fn(spark, SF), "simple")
    assert "Generate" not in plan  # no explode: postings are staged
    assert "Window" not in plan    # no rank-frequency global window
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row fit attach
    assert "CartesianProduct" not in plan


def test_separation_centroid_lookup_broadcasts(spark):
    """q_embed_separation's scoring pass: the per-label centroid
    lookup (#labels rows) must ride a BROADCAST hash join, the
    within-distance fold must stay JVM-side (no Python node), and the
    corpus must be scanned — not exploded — in the returned plan."""
    plan = plan_of(all_queries()["q_embed_separation"].fn(spark, SF),
                   "simple")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan
    assert "Generate" not in plan  # posexplode belongs to the build


def test_hist_equiheight_single_exchange(spark):
    """q_hist_equiheight's scale claim: ONE hash exchange total — the
    (event_type, tile) aggregation reuses the window's event_type
    partitioning (hash on a prefix of the grouping keys co-locates
    every group), so exact quantile binning costs exactly one shuffle
    of the filtered scan."""
    plan = plan_of(all_queries()["q_hist_equiheight"].fn(spark, SF),
                   "simple")
    assert plan.count("Exchange") == 1, plan
    assert "ntile" in plan
    # the NULL/NaN guard reaches the scan as a data filter
    assert "PushedFilters" in plan or "DataFilters" in plan


def test_tokenizer_fertility_map_side_counts(spark):
    """q_tokenizer_fertility: token counts are array-size math inside
    the scan stage (no Generate/explode), one exchange of #langs
    partial aggregates, and the scan reads only the three columns the
    query touches."""
    plan = plan_of(all_queries()["q_tokenizer_fertility"].fn(spark, SF),
                   "simple")
    assert plan.count("Exchange") == 1, plan
    assert "Generate" not in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "doc_id" not in read_schema and "source" not in read_schema


def test_rank_fusion_bounded_legs_no_cartesian(spark):
    """q_rank_fusion: both retrieval legs are bounded (the lexical leg
    serves off the materialized MLT ranking staging table — a parquet
    scan since r14; the dense leg's 5-query side is filter-pushed),
    the fusion join runs over two <=100-row lists — the plan must
    never contain a row-scale cartesian and stays JVM-side."""
    plan = plan_of(all_queries()["q_rank_fusion"].fn(spark, SF), "simple")
    assert "CartesianProduct" not in plan
    assert "Scan parquet" in plan  # staged lexical leg
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan


def test_mix_temperature_one_corpus_exchange(spark):
    """q_mix_temperature: one narrow-column corpus exchange (the
    per-source count), then windows over the #sources-row aggregate —
    the single-partition exchange operates on rows that number the
    sources, never the corpus."""
    plan = plan_of(all_queries()["q_mix_temperature"].fn(spark, SF),
                   "simple")
    assert plan.count("Exchange hashpartitioning") == 1, plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "text" not in read_schema  # only the source column is read


def test_ann_eval_queries_serve_from_staged_rankings(spark):
    """q_ann_recall / q_ann_ndcg build their two ranking legs ONCE per
    (session, fixture) from the registered retrieval plans and then
    serve pure scan+join+aggregate plans: no Python node, no Cartesian,
    and two parquet scans (the staged IVF and exact rankings) in each
    served plan."""
    from level2_to_cassandra_spark.queries.llm import _ann_eval_tables

    _ann_eval_tables(spark, SF)  # session build, outside the serve plan
    # recall reads the exact table through TWO branches (hit counts +
    # per-query totals) — parquet replays per branch, the staging-table
    # discipline; ndcg reads each table once
    # mrr reads the exact table through two branches too (query spine
    # + intersection) — same staging-table replay discipline
    for name, scans in (("q_ann_recall", 3), ("q_ann_ndcg", 2),
                        ("q_ann_mrr", 3)):
        plan = plan_of(all_queries()[name].fn(spark, SF), "simple")
        assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name
        assert plan.count("FileScan parquet") == scans, name


def test_window_ewma_single_exchange_no_join(spark):
    """q_window_ewma: the 8 lags ride ONE WindowExec over one key
    exchange — no join, no extra shuffle, arithmetic fused into
    projection."""
    plan = plan_of(all_queries()["q_window_ewma"].fn(spark, SF), "simple")
    assert plan.count("Exchange") == 1, plan
    assert plan.count("Window") == 1, plan
    assert "Join" not in plan


def test_graph_lpa_serves_from_staged_edges_no_cartesian(spark):
    """q_graph_lpa: three unrolled supersteps over the materialized
    edge staging table — every join is an equi-join (no Cartesian, no
    broadcast-nested-loop), no Python node, and the adjacency is
    parquet scans of the staged relation, never a rebuild (no
    posexplode Generate in the served plan)."""
    from level2_to_cassandra_spark.queries.graph import (
        _sparsified_supplier_edges,
    )

    _sparsified_supplier_edges(spark, SF)  # session build
    plan = plan_of(all_queries()["q_graph_lpa"].fn(spark, SF), "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Generate" not in plan
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan


def test_drift_ks_two_exchanges_on_value_grid(spark):
    """q_drift_ks: ONE corpus-scale exchange (the (key, value) grid
    aggregate) + one grid-sized re-exchange on the key for the CDF
    window — never a per-row global sort, never a join."""
    plan = plan_of(all_queries()["q_drift_ks"].fn(spark, SF), "simple")
    assert plan.count("Exchange") <= 2, plan
    assert "Join" not in plan


def test_quality_gopher_map_side_only(spark):
    """q_quality_gopher claims scan → project (every Gopher rule is
    per-row expression work): the plan must contain NO shuffle, and
    only the two consumed columns may leave the scan."""
    plan = plan_of(all_queries()["q_quality_gopher"].fn(spark, SF),
                   "simple")
    # r17: the single allowed exchange is the round-robin scan spread
    # (catalog.spread_scan — a one-split fixture scan otherwise runs
    # the whole rule battery in ONE task); still no keyed shuffle.
    assert plan.count("Exchange") <= 1
    assert "Exchange hashpartitioning" not in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "lang" not in read_schema and "source" not in read_schema


def test_data_profile_narrow_scan_per_column(spark):
    """q_data_profile: two single-column scans per profiled column
    (the r16 stats/NDV split: non-distinct stats collapse to map-side
    partials feeding a 1-row exchange; the exact-NDV branch shuffles
    the bare value grid with no aggregate buffers; the pair re-joins
    by a broadcast nested loop), union'd — never the multi-distinct
    Expand form (which multiplies the corpus k× through the dedup
    pre-aggregation; measured ~4x slower at sf0.1) and never a corpus
    unpivot.  Each scan's ReadSchema must carry exactly its own
    column."""
    from level2_to_cassandra_spark.queries.relational import (
        _PROFILE_COLS,
    )

    plan = plan_of(all_queries()["q_data_profile"].fn(spark, SF),
                   "simple")
    assert plan.count("Scan parquet") == 2 * len(_PROFILE_COLS)
    assert "Expand" not in plan
    assert "Generate" not in plan
    schemas = [seg.splitlines()[0] for seg in
               plan.split("ReadSchema:")[1:]]
    assert len(schemas) == 2 * len(_PROFILE_COLS)
    for c, seg in zip(sorted(_PROFILE_COLS * 2), sorted(schemas)):
        assert c in seg
        assert seg.count(":") == 1  # exactly one column leaves the scan


def test_outlier_iqr_and_robust_scale_broadcast_stats(spark):
    """q_outlier_iqr / q_robust_scale: the per-group stats relations
    (#event-types rows) attach via BROADCAST join back over the scan —
    never a sort-merge shuffle of the corpus against a 5-row relation,
    never a window over the corpus, never a cartesian."""
    for name in ("q_outlier_iqr", "q_robust_scale"):
        plan = plan_of(all_queries()[name].fn(spark, SF), "simple")
        assert "BroadcastHashJoin" in plan, name
        assert "SortMergeJoin" not in plan, name
        assert "CartesianProduct" not in plan, name
        assert "Window" not in plan, name


def test_agg_decayed_single_grouped_exchange(spark):
    """q_agg_decayed: the 1-row anchor broadcasts (BroadcastNestedLoop
    over one row is free), the weight is map-side projection work, and
    exactly ONE hash exchange (the event_type aggregate) appears."""
    plan = plan_of(all_queries()["q_agg_decayed"].fn(spark, SF), "simple")
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan


def test_graph_modularity_serves_from_staged_labels(spark):
    """q_graph_modularity composes the MATERIALIZED LPA label table
    against the materialized edge relation: once both session tables
    exist, the serve plan reads parquet (no trace of the 3-superstep
    LPA build: its per-node argmax windows must be absent), and the
    only non-equi join is the broadcast of the 1-row edge count.
    q_graph_lpa itself serves label-scan + ONE size window."""
    from level2_to_cassandra_spark.catalog import _STAGED
    from level2_to_cassandra_spark.queries.graph import _lpa_labels

    _lpa_labels(spark, SF)  # session build, outside the serve plans
    app = spark.sparkContext.applicationId
    assert ("graph_lpa_labels", app, SF) in _STAGED
    plan = plan_of(all_queries()["q_graph_modularity"].fn(spark, SF),
                   "simple")
    assert "CartesianProduct" not in plan
    assert "Window" not in plan  # no LPA argmax window in the serve plan
    assert "Scan parquet" in plan
    lpa_plan = plan_of(all_queries()["q_graph_lpa"].fn(spark, SF), "simple")
    assert "Join" not in lpa_plan
    assert lpa_plan.count("Window") == 1
    assert "Scan parquet" in lpa_plan


def test_sample_reservoir_window_group_limit(spark):
    """q_sample_reservoir: the rank<=K filter must lower to
    WindowGroupLimit so each map task keeps only its local top-K per
    stratum BEFORE the exchange — the distributed-reservoir merge; the
    shuffle then carries O(partitions x K) rows, never the corpus."""
    plan = plan_of(all_queries()["q_sample_reservoir"].fn(spark, SF),
                   "simple")
    assert "WindowGroupLimit" in plan
    assert "Join" not in plan


def test_text_novelty_two_exchanges_off_staging(spark):
    """q_text_novelty: serves from the materialized shingle postings —
    one shingle-key window exchange + one doc-key aggregate exchange,
    no joins, no shingling rebuild (no Generate in the serve plan)."""
    from level2_to_cassandra_spark.queries.llm import _shingle_relation

    _shingle_relation(spark, SF)  # session build, outside the serve plan
    plan = plan_of(all_queries()["q_text_novelty"].fn(spark, SF),
                   "simple")
    assert "Join" not in plan
    assert "Generate" not in plan  # no re-shingling at serve time
    assert "Scan parquet" in plan
    assert plan.count("Exchange hashpartitioning") == 2, plan


def test_dedup_lines_two_exchanges_no_join(spark):
    """q_dedup_lines: explode to lines, ONE window exchange on the
    line_text key (first-occurrence attribution), ONE doc-key
    reassembly aggregate — two row-scale hash exchanges total, no
    joins; the line explode is a single Generate on the scan side."""
    plan = plan_of(all_queries()["q_dedup_lines"].fn(spark, SF), "simple")
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert plan.count("Generate") == 1
    assert plan.count("FileScan") == 1


def test_rollup_quantile_grid_shape(spark):
    """q_rollup_quantile: the partial path is agg-only (minute grid →
    hour grid → rank-walk windows → bounds fold); the only join is the
    BROADCAST of the #hours×#types exact-quantile verification leg —
    never a sort-merge join, and no window runs over raw rows (both
    windows key the grid-sized hist relation)."""
    plan = plan_of(all_queries()["q_rollup_quantile"].fn(spark, SF),
                   "simple")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("FileScan") == 2  # partial leg + verification leg
    assert plan.count("Exchange hashpartitioning") == 4, plan


def test_classifier_calibration_map_only_scoring(spark):
    """q_classifier_calibration: scoring/labeling/binning stay inside
    the scan stage (no token explode — the higher-order fold of
    q_classifier_score), ONE bin-keyed row-scale aggregate, and the
    ECE window runs over the ≤10-row bin relation (the single
    SinglePartition exchange carries bins, never documents)."""
    plan = plan_of(
        all_queries()["q_classifier_calibration"].fn(spark, SF), "simple"
    )
    assert "Join" not in plan
    assert "Generate" not in plan  # no explode: fold-in-scan scoring
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("Exchange SinglePartition") == 1, plan


def test_classifier_threshold_sweep_is_spine_sized(spark):
    """q_classifier_threshold: map-only scoring in the scan, ONE
    bin-keyed row-scale hash exchange; the sweep itself is a 10-row
    literal spine >=-joined (BroadcastNestedLoop over 10x10 rows) and
    one 10-row SinglePartition window — never a sort-merge join, never
    a token explode, one scan."""
    plan = plan_of(
        all_queries()["q_classifier_threshold"].fn(spark, SF), "simple"
    )
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("Exchange SinglePartition") == 1, plan
    assert plan.count("BroadcastNestedLoopJoin") == 1  # 10-row spine join
    assert "SortMergeJoin" not in plan
    assert "Generate" not in plan
    assert plan.count("FileScan") == 1


def test_ppl_bucket_single_ntile_window(spark):
    """q_quality_ppl_bucket: exactly ONE window (the per-language
    NTILE tercile) on top of the composed q_text_bigram_lm plan — the
    bucketing adds one exchange on the language key, nothing else."""
    plan = plan_of(
        all_queries()["q_quality_ppl_bucket"].fn(spark, SF), "simple"
    )
    assert plan.count("Window") == 1, plan
    assert "ntile(3)" in plan


def test_langid_confusion_one_pruned_scan_no_join(spark):
    """q_langid_confusion: prediction is scan-fused (no join, ONE
    FileScan reading only text+lang), the corpus collapses to
    |langs|**2 cells in one map-side-combined aggregate, and both
    precision/recall windows run over the tiny cell relation."""
    plan = plan_of(
        all_queries()["q_langid_confusion"].fn(spark, SF), "simple"
    )
    assert "Join" not in plan
    assert plan.count("FileScan") == 1
    assert plan.count("Window") == 2
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "doc_id" not in read_schema and "source" not in read_schema


def test_sketch_error_serves_from_staging(spark):
    """q_sketch_error: with the shingle AND signature staging tables
    built, the serve plan re-shingles nothing (no Generate), runs no
    window (the ranked prefix index replaces the window stack), never
    sorts globally, and computes NO signature hashing (r16: the
    16-min md5 aggregate moved to the _sig_relation staging build —
    no md5 anywhere on the serve) — every join is an equi-join."""
    from level2_to_cassandra_spark.queries.llm import (
        _shingle_index_relation,
        _shingle_relation,
        _sig_relation,
    )

    _shingle_relation(spark, SF)
    _shingle_index_relation(spark, SF)
    _sig_relation(spark, SF)
    plan = plan_of(all_queries()["q_sketch_error"].fn(spark, SF), "simple")
    assert "Window" not in plan
    assert "Generate" not in plan
    assert "Exchange rangepartitioning" not in plan
    assert "CartesianProduct" not in plan
    assert "md5" not in plan


def test_dedup_minhash_serves_from_staged_signatures(spark):
    """q_llm_dedup_minhash (r16): with the postings and signature
    staging tables built, the serve plan computes NO shingling (no
    Generate beyond the band-array explode) and NO signature hashing
    (no md5; the only aggregates left are the banded-candidate
    distinct and the verification co-occurrence count) — banding
    reads the staged signature parquet on both join sides."""
    from level2_to_cassandra_spark.queries.llm import (
        _shingle_relation,
        _sig_relation,
    )

    _shingle_relation(spark, SF)
    _sig_relation(spark, SF)
    plan = plan_of(
        all_queries()["q_llm_dedup_minhash"].fn(spark, SF), "simple"
    )
    assert "md5" not in plan
    # staging tables, not persists (InMemoryFileIndex in a FileScan
    # location is fine — InMemoryTableScan would be a cache)
    assert "InMemoryTableScan" not in plan
    # shingling happens only at staging build: the lone Generate is
    # the 8-entry band-struct explode over the signature rows
    assert plan.count("Generate") == 2     # once per self-join branch
    assert "split" not in plan and "sliding" not in plan


def test_pack_efficiency_one_scan_one_window_one_exchange(spark):
    """q_pack_efficiency (r16): composes the registered pack plan —
    ONE pruned FileScan (doc_id+text only), ONE bucket window, and
    ONE hash exchange total: both the bin aggregate and the bucket
    aggregate reuse the window's bucket partitioning (grouping keys
    (bucket, bin_id) ⊇ bucket and bucket itself are co-located), so
    the eval adds zero exchanges on top of the pack."""
    plan = plan_of(all_queries()["q_pack_efficiency"].fn(spark, SF), "simple")
    assert "Join" not in plan
    assert plan.count("FileScan") == 1
    assert plan.count("Window") == 1
    assert plan.count("Exchange hashpartitioning") == 1, plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "lang" not in read_schema and "source" not in read_schema


def test_quality_vote_pure_scan_project(spark):
    """q_quality_vote (r16): the three chained shared transforms fuse
    into ONE pruned scan→project — no join, no window, no exchange of
    any kind, no explode.  The cheapest possible ensemble shape."""
    plan = plan_of(all_queries()["q_quality_vote"].fn(spark, SF), "simple")
    assert "Join" not in plan
    assert plan.count("FileScan") == 1
    assert "Window" not in plan
    # r17: exactly the round-robin scan spread (catalog.spread_scan;
    # the one-split fixture scan ran the whole 3-gate fold chain in
    # ONE task — measured 1.24 -> 0.67 s); never a keyed shuffle.
    assert plan.count("Exchange") <= 1, plan
    assert "Exchange hashpartitioning" not in plan
    assert "Generate" not in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "lang" not in read_schema and "source" not in read_schema


def test_select_budget_one_scan_single_global_window(spark):
    """q_select_budget (r16): scoring + token counting fuse into ONE
    pruned scan; the cumulative cut is the documented single global
    window (one SinglePartition exchange — the skewed-window caveat
    with the range-bucketing production swap in the docstring); no
    joins, no hash exchanges."""
    plan = plan_of(all_queries()["q_select_budget"].fn(spark, SF), "simple")
    assert "Join" not in plan
    assert plan.count("FileScan") == 1
    assert plan.count("Exchange SinglePartition") == 1, plan
    assert plan.count("Exchange hashpartitioning") == 0
    assert "Generate" not in plan


def test_frontier_interleave_no_global_sort_of_frontier(spark):
    """q_frontier_interleave (r16): the interleave position is
    computed arithmetically — the only windows are per-host / per-rank
    partitioned and the offsets window runs over the tiny rank-size
    aggregate; the frontier itself is NEVER globally sorted (no
    rangepartitioning exchange), the offsets join back by BROADCAST,
    and the dual-consumer ranked relation is persisted (one scan)."""
    plan = plan_of(
        all_queries()["q_frontier_interleave"].fn(spark, SF), "simple"
    )
    assert "Exchange rangepartitioning" not in plan, plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "text" not in read_schema and "lang" not in read_schema


def test_mix_interleave_one_scan_no_join(spark):
    """q_mix_interleave (r16): ONE pruned scan (doc_id+source only),
    the per-source count rides the rank window's partitionBy(source)
    exchange as an unbounded-frame COUNT window (NO join of any kind,
    no aggregate exchange), and exactly TWO exchanges total: the
    source hash partitioning and the documented single-partition
    global-order pos window."""
    plan = plan_of(all_queries()["q_mix_interleave"].fn(spark, SF),
                   "simple")
    assert plan.count("FileScan") == 1
    assert "Join" not in plan
    assert plan.count("Exchange") == 2
    assert plan.count("hashpartitioning") == 1
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "text" not in read_schema and "lang" not in read_schema


def test_label_agreement_one_scan_one_cell_row(spark):
    """q_label_agreement (r16): the three gate transforms fuse into
    ONE text-only scan that collapses map-side to a single 12-cell
    aggregate row (exactly one exchange, the SinglePartition of the
    cell row); the 3-pair stack is a Generate over that one row — no
    join, no window, nothing row-scale past the partial aggregate."""
    plan = plan_of(all_queries()["q_label_agreement"].fn(spark, SF),
                   "simple")
    assert plan.count("FileScan") == 1
    assert "Join" not in plan
    assert "Window" not in plan
    # r17: + the round-robin scan spread below the partial aggregate
    # (see test_quality_vote_pure_scan_project) — still nothing
    # row-scale past the partials and no keyed shuffle.
    assert plan.count("Exchange") <= 2
    assert "Exchange hashpartitioning" not in plan
    assert "SinglePartition" in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert read_schema.strip().startswith("struct<text:string>")


def test_eval_auc_grid_only_no_global_sort(spark):
    """q_eval_auc (r16): scoring fuses into ONE pruned scan; the only
    shuffles are the (lang, score) grid aggregate and the per-lang
    grid window — no join, no SinglePartition global window, no
    rangepartitioning sort of row-scale data (the whole point of the
    grid lowering vs a per-row rank)."""
    plan = plan_of(all_queries()["q_eval_auc"].fn(spark, SF), "simple")
    assert plan.count("FileScan") == 1
    assert "Join" not in plan
    assert "SinglePartition" not in plan
    assert "rangepartitioning" not in plan
    assert plan.count("Window") == 1
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "source" not in read_schema


def test_dedup_cross_source_broadcast_only_lookups(spark):
    """q_dedup_cross_source (r16): both source lookups BROADCAST the
    pair-sized relation against pruned 2-column scans — no
    SortMergeJoin anywhere in the serve plan, and no text column read
    outside the staged pair machinery (the staging parquet scans are
    id+shingle only)."""
    plan = plan_of(
        all_queries()["q_dedup_cross_source"].fn(spark, SF), "simple"
    )
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    for read_schema in plan.split("ReadSchema:")[1:]:
        assert "text" not in read_schema.splitlines()[0]


def test_shard_balance_composes_interleave_plus_one_agg(spark):
    """q_shard_balance (r16): exactly q_mix_interleave's plan (one
    pruned scan, no join, two exchanges) plus ONE map-side-combined
    cell aggregate — the audit adds no exchange beyond the order it
    audits (the modulus key is a pure projection of pos, so the
    aggregate combines inside the window's single partition)."""
    plan = plan_of(all_queries()["q_shard_balance"].fn(spark, SF),
                   "simple")
    assert plan.count("FileScan") == 1
    assert "Join" not in plan
    assert plan.count("Exchange") == 2
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "text" not in read_schema and "lang" not in read_schema


def test_dedup_url_one_window_one_pruned_scan(spark):
    """q_dedup_url: canonicalization is scan-fused (ONE FileScan
    reading only doc_id+source, no joins, no explode); the only
    exchange is the single hash window on the canonical key."""
    plan = plan_of(all_queries()["q_dedup_url"].fn(spark, SF), "simple")
    assert "Join" not in plan
    assert plan.count("FileScan") == 1
    assert plan.count("Window") == 1
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Generate" not in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "text" not in read_schema and "n_chars" not in read_schema


def test_lsh_rerank_spread_to_cluster_width(spark):
    """r17: the LSH candidate re-rank (q_llm_dedup_embed shape) must
    carry the explicit cluster-width repartition between the pair
    distinct and the vector re-attach joins.  The distinct's exchange
    is a few MB, so AQE's byte-based coalescing ran the ENTIRE re-rank
    (both broadcast joins + the 64-element cosine fold per pair) as
    ONE task — measured 1.6-1.9 s of the query's 2.4 s; the spread is
    keyed xxhash64(id_a, id_b) because a same-keyed repartition is
    provably redundant with the distinct's own exchange and the
    planner deletes it (measured, r17)."""
    plan = plan_of(all_queries()["q_llm_dedup_embed"].fn(spark, SF))
    assert "REPARTITION_BY_NUM" in plan, plan
    assert "xxhash64(id_a" in plan, plan


def test_bucketed_staging_candidate_join_no_exchange(spark):
    """r17 doc-bucketed staging layout: the PPJoin candidate
    generation is a self-join of the shingle-bucketed ranked index,
    hinted SHUFFLE_HASH — both branches must read co-partitioned
    buckets with NO exchange between scan and join (the pre-r17 plan
    paid 2 Exchange + 2 Sort on shingle strings, or a broadcast whose
    hash relation every probe task re-deserialized)."""
    from level2_to_cassandra_spark.operators import minhash
    from level2_to_cassandra_spark.queries.llm import (
        _shingle_index_relation,
        _shingle_relation,
    )

    cand = minhash.exact_jaccard_pairs(
        None, threshold=0.79, candidates_only=True,
        postings=_shingle_relation(spark, SF),
        ranked=_shingle_index_relation(spark, SF),
    )
    plan = plan_of(cand)
    assert "ShuffledHashJoin" in plan
    assert "l2c_shingle_index_" in plan  # reads the bucketed index table
    # the only exchanges allowed anywhere in the candidate plan are
    # the corpus-cap n_docs count (SinglePartition + its partial) and
    # the final distinct — never a shingle-keyed join-input exchange
    assert "hashpartitioning(shingle" not in plan, (
        "candidate join input carries a shingle exchange:\n" + plan)


def test_bucketed_set_table_verify_copartitioned_at_scale(spark):
    """Once the corpus outgrows the broadcast threshold, the verify
    joins (cand ⋈ sets on id_a ⋈ sets on id_b) must be co-partitioned
    with the doc-bucketed shingle-set table — NO Exchange on the set
    side of either verify join (the candidate side keeps its one
    required exchange).  Simulated by disabling auto-broadcast for the
    plan build."""
    from level2_to_cassandra_spark.queries.llm import _shingle_set_relation

    _shingle_set_relation(spark, SF)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plans = {
            name: plan_of(all_queries()[name].fn(spark, SF))
            for name in ("q_llm_dedup_fuzzy", "q_text_containment")
        }
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    for name, plan in plans.items():
        # walk the plan tree upward from every doc-bucketed set-table
        # scan to its nearest ancestor Join: no Exchange may sit between
        # them (a local Sort is allowed — Spark only trusts written
        # bucket sort order in narrow conditions; the shuffle is what
        # co-partitioning removes)
        tree = plan.split("== Physical Plan ==")[1].split("\n\n")[0]
        lines = tree.splitlines()
        found = 0
        for i, line in enumerate(lines):
            if "l2c_shingle_sets_" not in line:
                continue
            found += 1
            depth = len(line) - len(line.lstrip(" :+-"))
            for j in range(i - 1, -1, -1):
                up = lines[j]
                updepth = len(up) - len(up.lstrip(" :+-"))
                if updepth >= depth:
                    continue
                if "Join" in up:
                    break
                assert "Exchange" not in up, (
                    f"{name}: set-side Exchange above the bucketed "
                    "scan:\n" + tree)
                depth = updepth
        assert found >= 2, name  # both verify joins read the set table


def test_frac_cap_consumers_serve_without_doc_count(spark):
    """The four stop-shingle-capped consumers take the cap as a literal
    from the staged doc count: no count(distinct) and no broadcast
    nested-loop attach of its one-row result in the serve plan.  And
    verification reads the shingle-set table: no broadcast hash
    relation keyed on (id bigint, shingle string) — the postings
    expansion probe."""
    import re

    keyed_id_shingle = re.compile(
        r"HashedRelationBroadcastMode\(List\(input\[\d+, bigint, \w+\], "
        r"input\[\d+, string")
    for name in ("q_llm_dedup_fuzzy", "q_dedup_incremental_fuzzy",
                 "q_text_containment", "q_dedup_cross_source"):
        plan = plan_of(all_queries()[name].fn(spark, SF))
        assert "count(distinct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert not keyed_id_shingle.search(plan), name


def test_sink_write_single_shuffle(spark):
    """write_upsert_parquet writes ``sink.upsert_layout``: ONE hash
    exchange on symbol feeds both the last-write-wins window (clustered
    on the (symbol, time, price) key) and the (topic, time DESC) file
    sort; the writer itself adds no exchange."""
    from pyspark.sql import functions as F

    from level2_to_cassandra_spark.streaming.sink import (
        BATCH_COL,
        upsert_layout,
    )

    batch = spark.range(100).selectExpr(
        "IF(id % 2 = 0, 'btcusd', 'ethusd') AS topic",
        "CAST(id % 7 AS string) AS symbol",
        "timestamp_seconds(id % 13) AS time",
        "CAST(id % 3 AS double) AS price", "id AS seq",
    ).withColumn(BATCH_COL, F.lit(1))
    plan = plan_of(upsert_layout(batch), "simple")
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "hashpartitioning(symbol#" in plan, plan


def test_tick_batch_write_single_shuffle(spark, tmp_path):
    """The tick query's write (running-sum step, then the sink) runs on
    ONE ``Exchange hashpartitioning(symbol``: the broadcast carry join
    and the (symbol, day) window keep the step's partitioning, so the
    sink's ``repartition("symbol")`` is already satisfied.  The carry is
    broadcast only when it holds keys, and no Python runs in the plan:
    no state operator, no Arrow UDF, and no Python-RDD scan (an empty
    pandas carry would be one, forking a second worker pool)."""
    from pyspark.sql import functions as F

    from level2_to_cassandra_spark.streaming.sink import (
        BATCH_COL,
        foreach_batch_upsert,
        upsert_layout,
    )
    from level2_to_cassandra_spark.streaming.state import (
        foreach_batch_running_sums,
    )

    batch = spark.range(100).selectExpr(
        "IF(id % 2 = 0, 'btcusd', 'ethusd') AS topic", "id AS seq",
        "CAST(id % 7 AS string) AS symbol", "1.0 AS bid",
        "CAST(id % 3 AS double) AS price", "1.1 AS ask",
        "timestamp_seconds(1704067200 + id * 3000) AS time",
        "CAST(id AS int) AS volume", "IF(id % 3 = 0, 'S', 'B') AS trade_type",
    ).withColumn("day", F.to_date("time"))
    write = foreach_batch_upsert(str(tmp_path / "sink"), "tick")
    plans = []

    def inner(df, batch_id):
        plans.append(plan_of(
            upsert_layout(df.withColumn(BATCH_COL, F.lit(batch_id))),
            "extended"))
        write(df, batch_id)

    step = foreach_batch_running_sums(inner, str(tmp_path / "carry"))
    step(batch, 0)      # no carry yet
    step(batch, 1)      # carries batch 0's totals
    for plan, carried in zip(plans, (False, True)):
        assert plan.count("Exchange hashpartitioning") == 1, plan
        assert "Exchange hashpartitioning(symbol#" in plan, plan
        assert ("BroadcastExchange" in plan) == carried, plan
        for op in ("FlatMapGroupsInPandasWithState", "ArrowEvalPython",
                   "MapInPandas", "ExistingRDD", "LogicalRDD"):
            assert op not in plan, (op, plan)


def test_quality_gate_legs_read_cached_batch_no_shuffle(
    spark, tmp_path, monkeypatch
):
    """quality_gate_step's "zero shuffles" claim: the
    admitted leg handed to the sink and the reject-journal write both
    scan the persisted batch (``InMemoryTableScan``) with map-side
    expressions only — no ``Exchange`` and no Python — so the gate
    persists before it splits and its journal append adds no
    shuffle."""
    from pyspark.sql.readwriter import DataFrameWriter

    from level2_to_cassandra_spark.catalog import load_table
    from level2_to_cassandra_spark.streaming.monitor import (
        gate_chain,
        quality_gate_step,
    )

    plans = {}
    write_parquet = DataFrameWriter.parquet

    def parquet(self, path, *args, **kwargs):
        plans[path] = plan_of(self._df, "simple")
        return write_parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    docs = load_table(spark, SF, "documents")
    cb = gate_chain(
        lambda df, bid: plans.setdefault("admitted", plan_of(df, "simple")),
        quality_gate_step(str(tmp_path / "sink")),
    )
    cb(docs, 0)
    assert set(plans) == {
        "admitted", str(tmp_path / "sink" / "_quality_gate" / "rejects")
    }
    for leg, plan in plans.items():
        assert "InMemoryTableScan" in plan, (leg, plan)
        for op in ("Exchange", "ArrowEvalPython", "BatchEvalPython"):
            assert op not in plan, (leg, op, plan)
