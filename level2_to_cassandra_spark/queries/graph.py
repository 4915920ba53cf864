"""Graph analytics over event-derived edges (SURVEY.md §2 B12 —
iterative distributed algorithms).

The reference's event stream induces a behavioral graph: event types
are nodes, adjacent-transition counts are weighted edges (the same
lag-window relation q_event_transitions materializes).  PageRank over
that graph is the canonical ITERATIVE fan-out/fan-in workload — each
iteration is one join of the rank vector against the edge relation
plus one destination-keyed aggregate — and exercises the engine shape
that matters at 100 TB: the EDGE relation is the big side (scan-scale,
hash-partitioned by src once, reused every iteration), the RANK vector
is |V|-sized and broadcast.  Connected components (operators/dedup.py)
covers the pointer-jumping family; this covers damped fixed-point
iteration.

Cross-engine determinism: ranks are stabilized with round_half_up at
scale 12 AFTER EVERY ITERATION, so both engines iterate from bit-equal
inputs and per-destination sums (≤|V| doubles) cannot drift across
rounds; the final output rounds to 8.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from level2_to_cassandra_spark.catalog import load_table, staged
from level2_to_cassandra_spark.functions import (
    round_half_up,
    round_half_up_sql,
)
from level2_to_cassandra_spark.registry import register

#: Damping factor (Brin & Page 1998) and fixed iteration count.  The
#: count is FIXED (not convergence-tested) so the oracle can unroll it.
_DAMPING = 0.85
_ITERS = 3

_EDGE_CTES = """
    pairs AS (
        SELECT prev AS src, event_type AS dst
        FROM (SELECT event_type,
                     LAG(event_type) OVER (PARTITION BY user_id
                                           ORDER BY ts, event_id) AS prev
              FROM events)
        WHERE prev IS NOT NULL),
    edges AS (SELECT src, dst, COUNT(*) AS c FROM pairs GROUP BY src, dst),
    outdeg AS (SELECT src, SUM(c) AS tot FROM edges GROUP BY src),
    w AS (SELECT e.src, e.dst, CAST(e.c AS DOUBLE) / o.tot AS wgt
          FROM edges e JOIN outdeg o USING (src)),
    nodes AS (SELECT DISTINCT event_type AS node FROM events),
    nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
    r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS r FROM nodes)
"""

_ITER_CTE = """
    r{next} AS (
        SELECT n.node,
               {rounded} AS r
        FROM nodes n
        LEFT JOIN w  ON w.dst = n.node
        LEFT JOIN r{cur} p ON p.node = w.src
        GROUP BY n.node)
"""


def _pagerank_oracle() -> str:
    ctes = [_EDGE_CTES.strip()]
    for i in range(_ITERS):
        step = (
            f"0.15 / (SELECT n FROM nn) "
            f"+ {_DAMPING} * COALESCE(SUM(p.r * w.wgt), 0.0)"
        )
        ctes.append(
            _ITER_CTE.format(
                next=i + 1, cur=i, rounded=round_half_up_sql(step, 12)
            ).strip()
        )
    final = round_half_up_sql("r", 8)
    return (
        "WITH " + ",\n    ".join(ctes)
        + f"\n    SELECT node, {final} AS rank FROM r{_ITERS}"
    )


@register("q_pagerank", oracle=_pagerank_oracle())
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Damped PageRank, three fixed iterations, over the event-type
    transition graph (nodes = event types, edge weight = out-
    normalized adjacent-transition count).  The oracle unrolls the
    identical iterations as chained CTEs — an EXACT value check of a
    distributed iterative algorithm, not a tolerance band.

    Scale shape: building the edge relation is the corpus-scale work
    (ONE user_id shuffle for the lag window + one (src,dst) count
    aggregate — identical budget to q_event_transitions); each
    iteration then joins the BROADCAST rank vector (|V| rows) against
    the edge relation and aggregates by dst — at web scale that is
    one dst-keyed shuffle per iteration over an edge relation whose
    src partitioning is built once and reused, never a re-scan of the
    source events.  Dangling mass follows the simplified Brin-Page
    formulation (teleport only), matched exactly by the oracle.
    """
    ev = load_table(spark, sf_dir, "events")
    w_lag = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            F.lag("event_type").over(w_lag).alias("src"),
            F.col("event_type").alias("dst"),
        )
        .filter(F.col("src").isNotNull())
    )
    edges = pairs.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("c"))
    outdeg = edges.groupBy("src").agg(F.sum("c").alias("tot"))
    weights = (
        edges.join(outdeg, "src")
        .select(
            "src", "dst",
            (F.col("c").cast("double") / F.col("tot")).alias("wgt"),
        )
        # the |E|-row relation every iteration re-reads: persist once
        .localCheckpoint(eager=False)
    )
    nodes = ev.select(
        F.col("event_type").alias("node")
    ).distinct().localCheckpoint(eager=False)
    n_nodes = F.broadcast(
        nodes.agg(F.count(F.lit(1)).cast("double").alias("n"))
    )
    ranks = nodes.crossJoin(n_nodes).select(
        "node", (F.lit(1.0) / F.col("n")).alias("r")
    )
    for _ in range(_ITERS):
        contrib = (
            weights.join(
                F.broadcast(ranks.withColumnRenamed("node", "src")), "src"
            )
            .groupBy("dst")
            .agg(F.sum(F.col("r") * F.col("wgt")).alias("mass"))
        )
        ranks = (
            nodes.join(
                F.broadcast(contrib.withColumnRenamed("dst", "node")),
                "node", "left",
            )
            .crossJoin(n_nodes)
            .select(
                "node",
                round_half_up(
                    F.lit(0.15) / F.col("n")
                    + F.lit(_DAMPING)
                    * F.coalesce(F.col("mass"), F.lit(0.0)),
                    12,
                ).alias("r"),
            )
        )
    return ranks.select("node", round_half_up(F.col("r"), 8).alias("rank"))


#: Top-k edges kept per node in the sparsified co-occurrence graph.
_TRI_TOPK = 5

#: Shared edge construction for q_graph_triangles: suppliers are
#: adjacent iff they ship lines of the SAME ORDER (the co-occurrence
#: projection of the order–supplier bipartite graph), SPARSIFIED to
#: each node's top-k strongest ties (weight = co-order count, ties by
#: neighbor id; an edge survives if EITHER endpoint ranks it).
#: Co-occurrence projections of bipartite data densify toward complete
#: graphs as the corpus grows (at sf0.1 every supplier pair co-occurs
#: somewhere), and on a near-complete graph triangle ENUMERATION is
#: Θ(n³) output — top-k sparsification is the standard k-NN-graph cut
#: that keeps degrees O(k) at any corpus size.  Per-order pair fan-out
#: stays bounded by the order's line count (≤ 7 on TPC-H-shaped data).
_TRI_EDGE_CTES = f"""
    su AS (SELECT DISTINCT l_orderkey AS o, l_suppkey AS s FROM lineitem),
    co AS (
        SELECT x.s AS a, y.s AS b, COUNT(*) AS w
        FROM su x JOIN su y ON x.o = y.o AND x.s < y.s
        GROUP BY x.s, y.s),
    directed AS (
        SELECT a AS v, b AS nbr, w FROM co
        UNION ALL SELECT b, a, w FROM co),
    kept AS (
        SELECT v, nbr FROM (
            SELECT v, nbr,
                   ROW_NUMBER() OVER (PARTITION BY v
                                      ORDER BY w DESC, nbr ASC) AS rk
            FROM directed)
        WHERE rk <= {_TRI_TOPK}),
    edges AS (
        SELECT DISTINCT LEAST(v, nbr) AS a, GREATEST(v, nbr) AS b
        FROM kept),
    deg AS (
        SELECT v, CAST(COUNT(*) AS BIGINT) AS d FROM (
            SELECT a AS v FROM edges UNION ALL SELECT b FROM edges)
        GROUP BY v),
    oriented AS (
        SELECT CASE WHEN (da.d, e.a) < (db.d, e.b) THEN e.a ELSE e.b END
                   AS u,
               CASE WHEN (da.d, e.a) < (db.d, e.b) THEN e.b ELSE e.a END
                   AS v,
               CASE WHEN (da.d, e.a) < (db.d, e.b) THEN db.d ELSE da.d END
                   AS dv
        FROM edges e
        JOIN deg da ON da.v = e.a
        JOIN deg db ON db.v = e.b)
"""


@staged("graph_edges")
def _sparsified_supplier_edges(spark: SparkSession, sf_dir: str,
                               path: str):
    """The top-k-sparsified supplier co-occurrence edge relation
    shared by the graph queries (the Spark twin of _TRI_EDGE_CTES):
    distinct undirected (a < b) edges after each node keeps its
    _TRI_TOPK strongest co-order ties.

    Build/serve split (VERDICT r09 task #2, mirroring the IVF-PQ
    index): the 600k-row co-occurrence aggregation runs ONCE per
    (session, sf_dir) and lands as a parquet staging table; every
    query invocation after the first serves straight off that
    materialized relation — which is also the honest 100 TB shape
    (production graph pipelines materialize the edge list once and
    run every algorithm against it, partitioned by node key).  The
    previous persist-based memo paid the full rebuild on every
    cache-cold bench rep (~75 % of q_graph_triangles'/q_graph_khop's
    4.1 s driver medians) because the harness's per-query
    clearCache() dropped the blocks; a parquet read is immune to
    cache state.  The build is deterministic, so serving from the
    materialized table is bit-identical to a fresh build — exactly
    why the DuckDB oracle may replay the whole construction inline.

    Build internals: pair generation is ONE order-keyed aggregate +
    two chained explodes — not a distinct + self-join, which costs
    three 600k-row shuffles ((o,s) distinct + both join sides;
    measured ~8 s → ~1.3 s for this stage at sf0.1).  sort_array
    makes a < b inside each order's set, so (element, every later
    element) are already canonical edges; posexplode + slice stay in
    whole-stage codegen, where the equivalent nested-transform HOF
    form is interpreted per element (measured 2.2 s vs 1.3 s).
    Per-order arrays are line-count-bounded (≤ 7).  co feeds both
    union branches of `directed` — Catalyst does not common-
    subexpression across union branches, so it is persisted for the
    build job and unpersisted right after the write."""
    li = load_table(spark, sf_dir, "lineitem")
    arrs = li.groupBy(F.col("l_orderkey").alias("o")).agg(
        F.sort_array(F.collect_set("l_suppkey")).alias("ss")
    )
    pairs = arrs.select(
        "ss", F.posexplode("ss").alias("i", "a")
    ).select(
        "a",
        F.explode(
            F.slice("ss", F.col("i") + 2, F.size("ss"))
        ).alias("b"),
    )
    co = pairs.groupBy("a", "b").agg(
        F.count(F.lit(1)).alias("w")
    ).persist()
    directed = co.select(
        F.col("a").alias("v"), F.col("b").alias("nbr"), "w"
    ).unionByName(
        co.select(F.col("b").alias("v"), F.col("a").alias("nbr"), "w")
    )
    w_rank = Window.partitionBy("v").orderBy(F.desc("w"), F.asc("nbr"))
    kept = (
        directed.withColumn("rk", F.row_number().over(w_rank))
        .where(F.col("rk") <= _TRI_TOPK)
    )
    edges = kept.select(
        F.least("v", "nbr").alias("a"),
        F.greatest("v", "nbr").alias("b"),
    ).distinct()
    edges.write.mode("overwrite").parquet(path)
    co.unpersist()


@register(
    "q_graph_triangles",
    oracle=f"""
    WITH {_TRI_EDGE_CTES},
    tris AS (
        SELECT e1.u AS x, e1.v AS y, e2.v AS z
        FROM oriented e1
        JOIN oriented e2
          ON e2.u = e1.u AND ((e1.dv, e1.v) < (e2.dv, e2.v))
        JOIN oriented e3 ON e3.u = e1.v AND e3.v = e2.v)
    SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM (SELECT x AS node FROM tris
          UNION ALL SELECT y FROM tris
          UNION ALL SELECT z FROM tris)
    GROUP BY node
    """,
    staging=("graph_edges",),
)
def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node TRIANGLE COUNTING over the top-k-sparsified supplier
    co-occurrence graph (see _TRI_EDGE_CTES: suppliers adjacent iff
    they ship lines of the same order, each node keeping its
    _TRI_TOPK strongest ties) with the degree-ordered orientation — the
    textbook bound that makes distributed triangle counting survive
    power-law graphs: every edge is oriented from its lower-(degree,
    id) endpoint to the higher, turning the graph into a DAG where
    each triangle has exactly ONE node with two out-edges, so the
    wedge join (e1: u→v) ⋈ (e2: u→w) enumerates each candidate once
    and its fan-out is Σ out-deg² with out-degree ≤ O(√m) on
    arbitrary graphs — a hot hub's |E|² wedge explosion becomes the
    bounded out-neighborhood of its low-degree neighbors.  The
    closing edge check is one more equi-join (v→w exists), all
    shuffles on node keys.  The oracle replays the identical
    sparsification, orientation and joins — an integer-exact check of
    the whole pipeline.  (Measured: without the top-k cut the sf0.1
    projection is near-complete — 453k edges over 1000 suppliers —
    and enumeration alone took ~45 s; sparsified it is
    sub-second.)"""
    edges = _sparsified_supplier_edges(spark, sf_dir)
    deg = (
        edges.select(F.col("a").alias("v"))
        .unionAll(edges.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    # orient a→b iff (deg(a), a) < (deg(b), b); carry the head's degree
    # so the wedge pairing below needs no extra deg join
    with_deg = (
        edges.join(deg.withColumnRenamed("v", "a")
                       .withColumnRenamed("d", "da"), "a")
        .join(deg.withColumnRenamed("v", "b")
                 .withColumnRenamed("d", "db"), "b")
    )
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = with_deg.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("dv"),
    # the wedge join reads this relation on all three sides; persist
    # the small |E|-row orientation instead of recomputing the
    # edge+degree joins per branch (union-branch recompute)
    ).persist()
    e1, e2, e3 = oriented.alias("e1"), oriented.alias("e2"), oriented.alias("e3")
    pair_lt = (F.col("e1.dv") < F.col("e2.dv")) | (
        (F.col("e1.dv") == F.col("e2.dv")) & (F.col("e1.v") < F.col("e2.v"))
    )
    tris = (
        e1.join(e2, F.col("e1.u") == F.col("e2.u"))
        .where(pair_lt)
        .join(
            e3,
            (F.col("e3.u") == F.col("e1.v")) & (F.col("e3.v") == F.col("e2.v")),
            "left_semi",
        )
        # explode, not a 3-branch union: an unpersisted union re-runs
        # the wedge join once per branch (union-branch recompute)
        .select(
            F.explode(
                F.array(F.col("e1.u"), F.col("e1.v"), F.col("e2.v"))
            ).alias("node")
        )
    )
    return tris.groupBy("node").agg(
        F.count(F.lit(1)).alias("n_triangles")
    )


@staged("graph_components")
def _component_labels(spark: SparkSession, sf_dir: str, path: str):
    """The (node, label) relation of the supplier graph's weakly-
    connected components, built once per (session, sf_dir) by
    :func:`operators.dedup.connected_components` over the materialized
    edge relation and served as a parquet staging table — what
    production graph pipelines materialize (labels are joined against
    by everything downstream; nobody re-runs CC per query).  The build
    is deterministic (min-label propagation's fixed point is 'minimum
    reachable id'), so serving from the table is bit-identical to a
    fresh run — why the recursive-CTE oracle may replay the closure
    inline."""
    from level2_to_cassandra_spark.operators import dedup

    edges = _sparsified_supplier_edges(spark, sf_dir)
    labels = dedup.connected_components(edges, src="a", dst="b")
    labels.write.mode("overwrite").parquet(path)


@register(
    "q_graph_components",
    # Transitive closure as a recursive CTE (the q_dedup_cluster
    # oracle pattern): every node's component label is the minimum
    # node id it can reach, component size counted over that label.
    oracle=f"""
    WITH RECURSIVE {_TRI_EDGE_CTES},
    sym AS (SELECT a AS s, b AS d FROM edges
            UNION SELECT b, a FROM edges),
    reach(s, d) AS (
        SELECT s, d FROM sym
        UNION
        SELECT r.s, e.d FROM reach r JOIN sym e ON r.d = e.s),
    lab AS (
        SELECT s AS node, LEAST(s, MIN(d)) AS component_id
        FROM reach GROUP BY s)
    SELECT node, component_id,
           CAST(COUNT(*) OVER (PARTITION BY component_id) AS BIGINT)
               AS component_size
    FROM lab
    """,
    staging=("graph_edges", "graph_components"),
)
def q_graph_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEAKLY-CONNECTED COMPONENTS over the same sparsified supplier
    graph as q_graph_triangles/q_graph_khop — the third member of the
    graph trio (fixed-point ranks, local structure, global
    reachability) on the shared materialized edge relation.  The
    operator is :func:`operators.dedup.connected_components` — the
    pointer-jumping min-label propagation that already drives the
    near-dup cluster decision (q_dedup_cluster) — run here over an
    explicit graph: every node labeled with its component's canonical
    (minimum) id plus the component size.

    Scale shape: each build iteration is two equi-joins over NARROW
    2-column relations (one-hop min propagation + the pointer jump
    label←label(label)), O(log diameter) rounds, per-iteration
    localCheckpoint to truncate lineage — the label relation shuffles
    on node ids only, never on payload, and the edge side is the
    once-materialized parquet staging table.  The convergence loop
    runs ONCE per (session, sf_dir) and lands as the materialized
    label table (:func:`_component_labels` — the same build/serve
    split as the edge relation and the kmeans assignment; a label
    table is what graph pipelines actually materialize); serving is a
    label scan + one component-size window.  The oracle replays the
    closure as a recursive CTE — integer-exact, since min-label
    propagation converges to exactly 'minimum reachable id'."""
    labels = _component_labels(spark, sf_dir)
    return labels.select(
        "node",
        F.col("label").alias("component_id"),
        F.count(F.lit(1))
        .over(Window.partitionBy("label"))
        .alias("component_size"),
    )


@register(
    "q_graph_khop",
    oracle=f"""
    WITH {_TRI_EDGE_CTES},
    adj AS (SELECT a AS v, b AS nbr FROM edges
            UNION ALL SELECT b, a FROM edges),
    two AS (
        SELECT DISTINCT x.v, y.nbr AS n2
        FROM adj x JOIN adj y ON x.nbr = y.v
        WHERE y.nbr <> x.v),
    d2 AS (SELECT v, n2 FROM two EXCEPT SELECT v, nbr FROM adj),
    n1c AS (SELECT v, COUNT(*) AS n1 FROM adj GROUP BY v),
    n2c AS (SELECT v, COUNT(*) AS n2 FROM d2 GROUP BY v)
    SELECT n1c.v AS node,
           CAST(n1 AS BIGINT) AS n_1hop,
           CAST(COALESCE(n2, 0) AS BIGINT) AS n_2hop
    FROM n1c LEFT JOIN n2c ON n2c.v = n1c.v
    """,
    staging=("graph_edges",),
)
def q_graph_khop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node K-HOP NEIGHBORHOOD SIZES (BFS frontier cardinality,
    k=1,2) over the same sparsified supplier graph as
    q_graph_triangles — the reachability primitive behind fraud rings,
    influence radii and graph features for ML.  Exactly-distance-2 =
    (2-step walks) minus self minus direct neighbors, as set algebra:
    one adjacency self-join, a distinct, and an anti-join — each
    shuffle on node keys.

    Scale shape: the frontier join's fan-out is Σ deg² bounded by the
    top-k sparsification (deg = O(k)), so the k-hop relation grows
    linearly in |V| at fixed k — the same reason GNN samplers cap
    per-hop fan-out; deeper k iterates the identical join (PageRank's
    loop shape) rather than materializing an exploding closure.  The
    oracle replays sparsification + set algebra, integer-exact."""
    edges = _sparsified_supplier_edges(spark, sf_dir)
    # adjacency feeds three branches (both sides of the 2-step join +
    # the anti-join's right side) — persist or the union recomputes
    adj = (
        edges.select(F.col("a").alias("v"), F.col("b").alias("nbr"))
        .unionByName(
            edges.select(F.col("b").alias("v"), F.col("a").alias("nbr"))
        )
        .persist()
    )
    two = (
        adj.alias("x")
        .join(adj.alias("y"), F.col("x.nbr") == F.col("y.v"))
        .where(F.col("y.nbr") != F.col("x.v"))
        .select(F.col("x.v").alias("v"), F.col("y.nbr").alias("n2"))
        .distinct()
    )
    d2 = two.join(
        adj.select("v", F.col("nbr").alias("n2")), ["v", "n2"], "left_anti"
    )
    n1 = adj.groupBy("v").agg(F.count(F.lit(1)).alias("n_1hop"))
    n2 = d2.groupBy("v").agg(F.count(F.lit(1)).alias("n_2hop"))
    return (
        n1.join(n2, "v", "left")
        .select(
            F.col("v").alias("node"),
            "n_1hop",
            F.coalesce(F.col("n_2hop"), F.lit(0)).alias("n_2hop"),
        )
    )


#: Fixed synchronous-LPA iteration count — part of the query SPEC (not
#: a convergence knob), so the oracle can unroll it; synchronous LPA
#: can oscillate on bipartite structures, but a FIXED horizon makes
#: the output deterministic regardless.
_LPA_ITERS = 3


def _lpa_iter_ctes() -> str:
    """The unrolled label-propagation CTE chain (the q_pagerank
    pattern): c{i} counts neighbor labels, l{i} keeps each node's
    argmax with the smallest-label tie-break — pure integer relational
    algebra, bit-identical in any engine."""
    out = []
    for i in range(1, _LPA_ITERS + 1):
        out.append(f"""
    c{i} AS (
        SELECT a.v, l.lab, COUNT(*) AS c
        FROM adj a JOIN l{i - 1} l ON l.node = a.nbr
        GROUP BY a.v, l.lab),
    l{i} AS (
        SELECT v AS node, lab FROM (
            SELECT v, lab,
                   ROW_NUMBER() OVER (PARTITION BY v
                                      ORDER BY c DESC, lab ASC) AS rn
            FROM c{i})
        WHERE rn = 1)""")
    return ",".join(out)


@register(
    "q_graph_lpa",
    oracle=f"""
    WITH {_TRI_EDGE_CTES},
    adj AS (SELECT a AS v, b AS nbr FROM edges
            UNION ALL SELECT b, a FROM edges),
    l0 AS (SELECT DISTINCT v AS node, v AS lab FROM adj),{_lpa_iter_ctes()},
    sizes AS (SELECT lab, COUNT(*) AS cs FROM l{_LPA_ITERS} GROUP BY lab)
    SELECT CAST(l.node AS BIGINT) AS node,
           CAST(l.lab AS BIGINT) AS community_id,
           CAST(s.cs AS BIGINT) AS community_size
    FROM l{_LPA_ITERS} l JOIN sizes s ON s.lab = l.lab
    """,
    staging=("graph_edges", "graph_lpa_labels"),
)
def q_graph_lpa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMMUNITY DETECTION by synchronous label propagation (Raghavan
    et al. 2007) — the fourth member of the graph family on the shared
    materialized supplier edge relation (fixed-point ranks: pagerank;
    global reachability: components; local structure: triangles/khop;
    mesoscale structure: THIS).  Every node starts as its own label;
    each of the 3 fixed iterations relabels every node with its
    neighbors' most frequent label (ties to the smallest label — the
    determinism LPA's random tie-break forfeits).  Communities are
    denser than components: a bridge edge keeps two clusters in one
    component but LPA labels them separately.

    Scale shape: each iteration is ONE equi-join of the 2-column label
    relation against the adjacency (both hash-partitioned by node id)
    + one count aggregate + one per-node argmax window — the classic
    Pregel superstep lowered to relational ops; the edge relation is
    the once-materialized parquet staging table, and iterations are
    FIXED so the unrolled plan is 3 supersteps deep, no driver loop.
    Since r14 the LABEL relation is itself a materialized staging
    table (:func:`_lpa_labels`, the _component_labels pattern): the
    3-superstep build runs ONCE per (session, fixture) and both
    consumers (this query and q_graph_modularity, which reads the
    labels through three plan branches) serve from the parquet scan.
    Everything is integer arithmetic — no rounding discipline needed
    anywhere."""
    labels = _lpa_labels(spark, sf_dir)
    size_w = Window.partitionBy("lab")
    return labels.select(
        F.col("node").cast("long").alias("node"),
        F.col("lab").cast("long").alias("community_id"),
        F.count(F.lit(1)).over(size_w).cast("long").alias("community_size"),
    )


@staged("graph_lpa_labels")
def _lpa_labels(spark: SparkSession, sf_dir: str, path: str):
    """The converged-at-horizon LPA label relation (node, lab), built
    once per (session, sf_dir) over the materialized supplier edge
    relation and served as a parquet staging table — label tables are
    what production graph pipelines materialize, and q_graph_modularity
    reads this relation through THREE plan branches (both edge
    endpoints + the degree sum), so a parquet scan per branch beats
    re-running the 3-superstep build per branch."""
    edges = _sparsified_supplier_edges(spark, sf_dir)
    adj = edges.select(
        F.col("a").alias("v"), F.col("b").alias("nbr")
    ).unionByName(
        edges.select(F.col("b").alias("v"), F.col("a").alias("nbr"))
    )
    labels = adj.select(F.col("v").alias("node")).distinct().select(
        "node", F.col("node").alias("lab")
    )
    w = Window.partitionBy("v").orderBy(F.desc("c"), F.asc("lab"))
    for _ in range(_LPA_ITERS):
        counts = (
            adj.join(labels, labels["node"] == adj["nbr"])
            .groupBy(adj["v"].alias("v"), labels["lab"].alias("lab"))
            .agg(F.count(F.lit(1)).alias("c"))
        )
        labels = (
            counts.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select(F.col("v").alias("node"), "lab")
        )
    labels.write.mode("overwrite").parquet(path)


@register(
    "q_graph_modularity",
    # Replays sparsification + LPA (integer-exact), then the Newman
    # decomposition.  q_contrib is two divisions + one multiply + one
    # subtract over exactly-represented integers — IEEE ops written
    # with the IDENTICAL expression tree on both engines, then
    # round_half_up (FLOOR form, bit-identical cross-engine).
    oracle=f"""
    WITH {_TRI_EDGE_CTES},
    adj AS (SELECT a AS v, b AS nbr FROM edges
            UNION ALL SELECT b, a FROM edges),
    l0 AS (SELECT DISTINCT v AS node, v AS lab FROM adj),{_lpa_iter_ctes()},
    lab AS (SELECT node, lab FROM l{_LPA_ITERS}),
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM edges),
    comm AS (
        SELECT l.lab,
               CAST(COUNT(*) AS BIGINT) AS community_size,
               CAST(SUM(d.d) AS BIGINT) AS degree_sum
        FROM lab l JOIN deg d ON d.v = l.node
        GROUP BY l.lab),
    intra AS (
        SELECT la.lab, CAST(COUNT(*) AS BIGINT) AS ie
        FROM edges e
        JOIN lab la ON la.node = e.a
        JOIN lab lb ON lb.node = e.b
        WHERE la.lab = lb.lab
        GROUP BY la.lab)
    SELECT CAST(c.lab AS BIGINT) AS community_id,
           c.community_size,
           COALESCE(i.ie, 0) AS intra_edges,
           c.degree_sum,
           {round_half_up_sql(
               "COALESCE(i.ie, 0)::DOUBLE / m::DOUBLE"
               " - (c.degree_sum::DOUBLE / (2.0 * m::DOUBLE))"
               " * (c.degree_sum::DOUBLE / (2.0 * m::DOUBLE))", 6)}
               AS q_contrib
    FROM comm c LEFT JOIN intra i ON i.lab = c.lab CROSS JOIN m
    """,
    staging=("graph_edges", "graph_lpa_labels"),
)
def q_graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEWMAN MODULARITY decomposition of the REGISTERED q_graph_lpa
    partition (VERDICT r13 #6) — the standard "is this community
    structure real" statistic (Newman & Girvan 2004): per community c,
    q_contrib = m_c/m − (d_c/2m)², where m_c = intra-community edges,
    d_c = degree sum, m = total edges; Q = Σ q_contrib, positive when
    communities are denser than the degree-preserving random graph.
    Evaluates the engine's OWN materialized label table — the
    q_ann_recall pattern of scoring a registered plan's output, not a
    reimplementation.

    Scale shape: three joins of the |V|-sized label staging table
    (broadcast at any realistic community count) against the
    once-materialized edge relation + two community-keyed aggregates;
    the edge relation is scanned twice (degree leg rides the adjacency
    union, intra leg the edge list) and nothing shuffles on more than
    the node key.  m stays in-plan as a broadcast 1-row aggregate.

    Determinism: m_c, d_c, m are integers; q_contrib is two exact-
    integer→double divisions, one multiply, one subtract — identical
    expression tree both engines — rounded with the FLOOR-form
    round_half_up (sign-safe: the subtraction can go negative, and
    FLOOR output is -0.0-free for non-(-0.0) inputs)."""
    edges = _sparsified_supplier_edges(spark, sf_dir)
    lab = _lpa_labels(spark, sf_dir)
    adj = edges.select(
        F.col("a").alias("v"), F.col("b").alias("nbr")
    ).unionByName(
        edges.select(F.col("b").alias("v"), F.col("a").alias("nbr"))
    )
    deg = adj.groupBy("v").agg(F.count(F.lit(1)).alias("d"))
    comm = (
        lab.join(deg, deg["v"] == lab["node"])
        .groupBy("lab")
        .agg(
            F.count(F.lit(1)).cast("long").alias("community_size"),
            F.sum("d").cast("long").alias("degree_sum"),
        )
    )
    la = lab.select(F.col("node").alias("a"), F.col("lab").alias("ca"))
    lb = lab.select(F.col("node").alias("b"), F.col("lab").alias("cb"))
    intra = (
        edges.join(la, "a")
        .join(lb, "b")
        .where(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("lab"))
        .agg(F.count(F.lit(1)).cast("long").alias("ie"))
    )
    m = edges.agg(F.count(F.lit(1)).cast("long").alias("m"))
    ie = F.coalesce(F.col("ie"), F.lit(0).cast("long"))
    half_deg = F.col("degree_sum").cast("double") / (
        F.lit(2.0) * F.col("m").cast("double")
    )
    return (
        comm.join(intra, "lab", "left")
        .crossJoin(F.broadcast(m))
        .select(
            F.col("lab").cast("long").alias("community_id"),
            "community_size",
            ie.alias("intra_edges"),
            "degree_sum",
            round_half_up(
                ie.cast("double") / F.col("m").cast("double")
                - half_deg * half_deg,
                6,
            ).alias("q_contrib"),
        )
    )
