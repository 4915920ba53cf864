"""Near-duplicate detection: exact n-gram Jaccard and MinHash+LSH.

Two formulations with one contract (pairs above a Jaccard threshold):

* :func:`exact_jaccard_pairs` — inverted shingle index: explode
  distinct shingles, self-join on the shingle for candidate pairs,
  verify each candidate by intersecting the two docs' shingle SETS,
  Jaccard = |∩| / (|A|+|B|−|∩|).  EXACT, and the oracle for the
  approximate path.  Scales with shingle-postings sizes (fine while
  shingles are discriminative; hot shingles are the caveat and can be
  df-capped — see ``max_shingle_df``).
* :func:`minhash_pairs` — MinHash signatures (one xxhash64 per
  permutation, ``array_min`` over shingles) → banded LSH (band hash =
  xxhash64 of the band's signature slice) → candidates join only
  within a (band, hash) bucket → exact Jaccard verification of the
  candidates.  Candidate volume ∝ Σ bucket² per band, never N² — the
  100 TB path.  With b bands of r rows, P(candidate) = 1−(1−j^r)^b.

Both stay entirely in JVM built-ins; no Python executes per row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from level2_to_cassandra_spark.catalog import spread_scan
from level2_to_cassandra_spark.operators.text import (
    tokens,
    word_shingles_of,
)


def shingle_postings(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text", k: int = 3,
                     max_shingle_df: int | None = None) -> DataFrame:
    """(id, shingle) postings, distinct per doc.  ``max_shingle_df``
    drops shingles appearing in more than that many docs — the classic
    stop-shingle cap that bounds the self-join at corpus scale.
    Shingling is per-row-heavy → ``spread_scan`` guarantees it runs at
    cluster parallelism even off a one-split scan.

    The shingle array MUST stay inline in the explode, not aliased in a
    projection first: ``InferFiltersFromGenerate`` skips complex
    generator inputs, but an aliased array is an attribute, so the rule
    infers ``size(sh) > 0`` — which alias-substitutes into the full
    shingling expression and pushes below the spread exchange, running
    the whole shingling a second time on the UNSPREAD scan (measured
    ~10× on the fixture)."""
    # Token array staged in its own select BELOW the Generate (r16):
    # the k-shingle build references the array k+1 times and inline it
    # replayed split(text) per reference.  The generator input stays a
    # COMPLEX expression (array_distinct over the < k CASE guard), so
    # the InferFiltersFromGenerate trap below does not fire — nothing
    # is alias-substituted past the spread exchange (verified on the
    # optimized plan: one split, above the exchange).
    p = spread_scan(docs).select(
        F.col(id_col).alias("id"),
        tokens(text_col).alias("__toks"),
    ).select(
        "id",
        F.explode(
            F.array_distinct(word_shingles_of(F.col("__toks"), k))
        ).alias("shingle"),
    )
    if max_shingle_df is not None:
        p = _cap_postings(p, max_shingle_df)
    return p


def _cap_postings(postings: DataFrame, max_shingle_df: int,
                  keep_all_hot_docs: bool = False) -> DataFrame:
    """Drop postings of shingles appearing in more than
    ``max_shingle_df`` docs.  The hot list is tiny by construction
    (only shingles above the cap) → broadcast anti-join, no shuffle of
    the postings.

    A document composed ENTIRELY of stop-shingles would lose every
    posting and silently vanish from whatever is built on the capped
    relation (e.g. an LSH signature) — a recall cliff even for exact
    duplicates of all-hot documents.  ``keep_all_hot_docs=True`` unions
    such documents' full postings back: the ids that lost everything
    are few by construction (each consists only of corpus-dominant
    shingles), so the rescue joins stay small."""
    hot = (
        postings.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") > max_shingle_df)
        .select("shingle")
    )
    capped = postings.join(F.broadcast(hot), "shingle", "left_anti")
    if keep_all_hot_docs:
        lost = (
            postings.select("id").distinct()
            .join(capped.select("id").distinct(), "id", "left_anti")
        )
        capped = capped.unionByName(postings.join(lost, "id", "left_semi"))
    return capped


#: Column contract of a pre-built RANKED prefix index (the PPJoin
#: index staging table): rarest-first position, set size, per-shingle
#: df and the doc's minimum df (the cap-rescue column).
RANKED_INDEX_COLUMNS = ("id", "shingle", "pos", "n", "df", "min_df")


def ranked_postings(postings: DataFrame) -> DataFrame:
    """The rarest-first RANKED prefix index over a postings relation —
    (id, shingle, pos, n, df, min_df) with pos = row_number under the
    global (df ASC, shingle ASC) order within each doc.  This is the
    window stack exact_jaccard_pairs/containment_pairs otherwise
    compute per call (two key exchanges + one window sort, ~2 s at
    sf0.1); materializing it once per corpus is exactly the prefix
    index the PPJoin literature maintains as a standing structure
    (queries/llm.py::_shingle_index_relation does so)."""
    by_id = Window.partitionBy("id")
    w_sh = Window.partitionBy("shingle")
    w = Window.partitionBy("id").orderBy(F.asc("df"), F.asc("shingle"))
    return (
        postings.withColumn("df", F.count(F.lit(1)).over(w_sh))
        .withColumn("pos", F.row_number().over(w))
        .withColumn("n", F.count(F.lit(1)).over(by_id))
        .withColumn("min_df", F.first("df").over(w))
    )


#: Sign mask that makes MIN over the 64-bit permutation hashes agree
#: between a signed-long engine (Spark) and an unsigned one (DuckDB
#: UBIGINT): dropping the sign bit leaves both engines ordering the
#: same non-negative 63-bit values.
SIG_MASK = (1 << 63) - 1


def portable_signatures(postings: DataFrame, n_seeds: int = 8) -> DataFrame:
    """ENGINE-PORTABLE MinHash signature relation over a pre-built
    ``(id, shingle)`` postings relation: one narrow row per doc —
    ``(id, h0..h{2*n_seeds-1}, n)`` with ``n`` the doc's shingle-set
    size (it falls out of the same aggregate for free).

    The permutation hash is SEEDED md5 of ``"<seed> <shingle>"``, so
    any engine with md5 can replay the sketch bit-for-bit (the
    q_sketch_error oracle does); each 128-bit digest is split into TWO
    independent 64-bit permutation hashes (hex chars 1-16 / 17-32 —
    measured 2× cheaper than 2·n_seeds separate md5 evaluations,
    r15), each sign-masked to the low 63 bits (:data:`SIG_MASK`).

    Scale shape: ONE map-side-combined aggregate over the postings.
    At corpus scale this IS the signature staging table an LSH stack
    maintains next to its postings — queries/llm.py::_sig_relation
    materializes it once per (session, corpus) and serves BOTH the
    banded-LSH dedup (q_llm_dedup_minhash) and the sketch-quality
    eval (q_sketch_error) from it (VERDICT r15 task #2)."""

    def _seed_mins(j: int) -> list[F.Column]:
        m = F.md5(
            F.concat_ws(" ", F.lit(str(j)), F.col("shingle")).cast("binary")
        )

        def half(off: int) -> F.Column:
            hi = F.conv(F.substring(m, off, 8), 16, 10).cast("long")
            lo = F.conv(F.substring(m, off + 8, 8), 16, 10).cast("long")
            return (
                F.shiftleft(hi, 32).bitwiseOR(lo)
                .bitwiseAND(F.lit(SIG_MASK))
            )

        return [
            F.min(half(1)).alias(f"h{2 * j}"),
            F.min(half(17)).alias(f"h{2 * j + 1}"),
        ]

    cols: list[F.Column] = []
    for j in range(n_seeds):
        cols += _seed_mins(j)
    return postings.groupBy("id").agg(
        *cols, F.count(F.lit(1)).alias("n")
    )


def _adopt_ranked(ranked: DataFrame) -> DataFrame:
    """Contract guard for a caller-supplied pre-built ranked index —
    the :data:`RANKED_INDEX_COLUMNS` shape, :func:`ranked_postings`
    semantics; as with ``postings``, the caller owns shingling
    consistency and the operators' k/id_col/text_col are ignored.
    The shape check cannot prove the index derives from the SAME
    postings the caller co-supplies (ADVICE r14); that semantic
    equivalence is carried by the test path instead —
    tests/test_llm_ops.py::
    test_staged_ranked_index_consistent_with_staged_postings asserts
    the staged pair project to identical (id, shingle) sets with
    consistent n/pos — because a runtime sample-compare would cost a
    join over the very relations the staging exists to keep off the
    critical path."""
    if sorted(ranked.columns) != sorted(RANKED_INDEX_COLUMNS):
        raise ValueError(
            "pre-built ranked index must have exactly "
            f"{RANKED_INDEX_COLUMNS} columns (ranked_postings "
            f"semantics); got {ranked.columns}"
        )
    return ranked


def _adopt_postings(postings: DataFrame) -> DataFrame:
    """Contract guard for a caller-supplied pre-built postings relation
    (ADVICE r13 #1): it must be exactly the ``(id, shingle)`` shape
    :func:`shingle_postings` produces, and when it is given the pair
    operators' ``id_col``/``text_col``/``k`` parameters are IGNORED —
    the caller owns shingling consistency (all in-repo callers build
    through queries/llm.py::_shingle_relation at k=3/defaults).  The
    shape check cannot prove the k used, but it catches the silent
    column-mismatch class (wrong relation passed, renamed columns)
    before it becomes wrong similarity values."""
    if sorted(postings.columns) != ["id", "shingle"]:
        raise ValueError(
            "pre-built postings must have exactly (id, shingle) columns "
            f"(shingle_postings semantics); got {postings.columns}"
        )
    return postings


#: Column contract of a pre-built per-doc shingle-SET table: one row
#: per doc, ``sh`` the doc's distinct shingles as an array.
SET_COLUMNS = ("id", "sh")


def shingle_sets(postings: DataFrame) -> DataFrame:
    """The per-doc shingle-set relation ``(id, sh)`` over a postings
    relation: ``sh = collect_list(shingle)``.  Postings are distinct
    per doc, so ``sh`` is a set and ``size(sh)`` is the doc's ``n``.
    This is the compact per-object representation verification reads:
    one row per doc, where the postings carry one row per shingle."""
    return postings.groupBy("id").agg(F.collect_list("shingle").alias("sh"))


def _adopt_sets(sets: DataFrame) -> DataFrame:
    """Contract guard for a caller-supplied pre-built set table — the
    :data:`SET_COLUMNS` shape, :func:`shingle_sets` semantics over the
    SAME postings (the caller owns that consistency, as with
    ``ranked``; tests/test_llm_ops.py::
    test_staged_sets_consistent_with_staged_postings carries the
    semantic check for the staged pair)."""
    if sorted(sets.columns) != sorted(SET_COLUMNS):
        raise ValueError(
            f"pre-built shingle sets must have exactly {SET_COLUMNS} "
            f"columns (shingle_sets semantics); got {sets.columns}"
        )
    return sets


def _pair_inputs(docs: DataFrame, id_col: str, text_col: str, k: int,
                 postings: DataFrame | None,
                 sets: DataFrame | None) -> tuple[DataFrame, DataFrame]:
    """The (postings, sets) pair every pair operator reads: each the
    caller's pre-built relation (shape-guarded) or built inline.  An
    inline postings relation is persisted — it feeds the candidate
    index and the inline set table, and the shingling would otherwise
    run once per branch (≈3× on the fixture; at cluster scale the same
    role is played by a staging table).  An inline set table is one
    aggregate over the postings, read by both verify joins; the two
    reads share its exchange."""
    if postings is None:
        postings = shingle_postings(docs, id_col, text_col, k).persist()
    else:
        postings = _adopt_postings(postings)
    if sets is None:
        sets = shingle_sets(postings)
    else:
        sets = _adopt_sets(sets)
    return postings, sets


def _intersection(a: str, b: str) -> F.Column:
    """|A ∩ B| of two shingle-set array columns (each already a set)."""
    return F.size(F.array_intersect(F.col(a), F.col(b)))


def _verify_jaccard(sets: DataFrame, cand: DataFrame) -> DataFrame:
    """Exact Jaccard for candidate (id_a, id_b, na, nb) pairs:
    ``cand ⋈ sets on id_a ⋈ sets on id_b`` and
    |∩| = size(array_intersect(sa, sb)) per pair.  Set sizes arrive ON
    the candidate rows (carried from the index's ``n`` column through
    candidate generation), so no sizes relation.  Each candidate reads
    two rows of the one-row-per-doc set table — no per-shingle
    expansion, no pair-keyed aggregate, and nothing keyed on
    (id, shingle) strings.

    At fixture scale the set table is small enough to broadcast; once
    it is not, the bucketed-on-``id`` staging layout
    (queries/llm.py::_shingle_set_relation) keeps both joins
    co-partitioned with it — no exchange on the set side.  The
    candidate relation is not spread to cluster width
    (catalog.spread_keys): every task of a broadcast-probe stage
    deserializes the broadcast relation, so width there costs CPU
    rather than saving it (measured on the earlier postings-keyed
    broadcast)."""
    sa = sets.select(F.col("id").alias("id_a"), F.col("sh").alias("sa"))
    sb = sets.select(F.col("id").alias("id_b"), F.col("sh").alias("sb"))
    co = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", "na", "nb",
                _intersection("sa", "sb").alias("inter"))
    )
    return co.select(
        "id_a",
        "id_b",
        (
            F.col("inter").cast("double")
            / (F.col("na") + F.col("nb") - F.col("inter"))
        ).alias("jaccard"),
    )


def exact_jaccard_pairs(docs: DataFrame, threshold: float,
                        id_col: str = "doc_id", text_col: str = "text",
                        k: int = 3,
                        max_shingle_df: int | None = None,
                        max_shingle_frac: float | None = None,
                        min_cap_df: int = 50,
                        candidates_only: bool = False,
                        postings: DataFrame | None = None,
                        ranked: DataFrame | None = None,
                        candidate_where: "F.Column | None" = None,
                        sets: DataFrame | None = None,
                        ) -> DataFrame:
    """All pairs with shingle-set Jaccard ≥ threshold (exact).
    Output: (id_a, id_b, jaccard) with id_a < id_b.

    ``candidate_where`` optionally restricts the PAIR DOMAIN with a
    predicate over (id_a, id_b, na, nb), applied to the candidate
    relation BEFORE the distinct and before exact verification (r16).
    A caller that only consumes a subset of the pairs (e.g. the
    incremental dedup's cross-side pairs) would otherwise pay the
    verification joins for every pair and then drop most of
    the output; pushing the id-level predicate here cuts the distinct
    and the verify inputs instead.  Result-identical to filtering the
    output by construction: verification is exact per pair, so
    restricting the domain commutes with it.

    ``postings`` optionally supplies a pre-built ``(id, shingle)``
    relation (distinct per doc, :func:`shingle_postings` semantics —
    same tokenizer, same k) so callers sharing one corpus can
    materialize the shingling ONCE and serve every member of the
    lexical dedup family from it (the inverted-index staging table a
    retrieval stack maintains anyway; queries/llm.py::
    _shingle_relation).  A parquet-backed staging table replays per
    plan branch for the cost of the scan, which is why no persist is
    layered on top of it.

    ``sets`` optionally supplies the pre-built per-doc shingle-set
    table (:func:`shingle_sets` semantics over the SAME postings —
    queries/llm.py::_shingle_set_relation) that exact verification
    intersects; without it the set table is derived inline from the
    postings, through the same verification code.

    ``ranked`` (threshold > 0 path only) additionally supplies the
    pre-built rarest-first RANKED index (:func:`ranked_postings`
    semantics over the SAME postings) — the df/pos/n/min_df window
    stack is the dominant candidate-generation cost (~2 s of two key
    exchanges + a window sort at sf0.1, measured r14) and is a pure
    function of the corpus, so staging it once
    (queries/llm.py::_shingle_index_relation) removes it from every
    consumer's critical path; with it supplied nothing here needs a
    persist at all.

    ``candidates_only=True`` returns the CANDIDATE relation
    (id_a, id_b, na, nb) before exact verification instead — the
    pair-join cost surface.  This is the operational scale probe: the
    bucketed-dedup claim is that candidate volume grows ~linearly with
    corpus size (never N²), and counting this relation across SFs is
    how tests/test_scaling.py checks it empirically.

    For threshold > 0 the candidate join uses the PPJoin PREFIX FILTER:
    under a global rarest-first shingle order, any pair with J ≥ t
    must share a shingle inside each doc's first ⌊(1−t)·n⌋+1 shingles
    (if A's prefix misses B entirely, the overlap is confined to A's
    suffix of ⌈t·n⌉−1 < t·n elements — contradiction).  The self-join
    therefore runs on ~(1−t) of the postings, and rarest-first ordering
    keeps the per-shingle bucket sizes small; verification then
    intersects the full shingle sets, so the result is EXACT, not
    approximate.

    Without a cap the result is FULLY EXACT.  Note the plain prefix
    filter already bounds hot-shingle join buckets: a shingle enters a
    doc's index rows only inside that doc's ⌊(1−t)n⌋+1 RAREST
    shingles, so a corpus-wide stop-shingle's bucket holds only the
    docs that are ≥ t-fraction boilerplate themselves, not its full
    document frequency.

    ``max_shingle_df`` (the stop-shingle cap) additionally removes
    shingles with df > cap from the candidate index (prefix positions
    are still assigned over the full rarest-first order; verification
    still reads the full shingle sets, so every EMITTED pair carries
    its TRUE Jaccard — precision stays exact).  RECALL IS NOT EXACT under a
    live cap: a qualifying pair is missed iff every shingle its two
    prefixes share is hotter than the cap, i.e. the pair's overlap is
    carried entirely by corpus boilerplate — for dedup that is usually
    the intended semantic (boilerplate-driven similarity is spurious),
    but it IS an approximation, not a lossless filter.  Two
    mitigations narrow the loss: a doc whose WHOLE prefix is hot
    (min_df > cap) keeps its full prefix, so all-boilerplate documents
    and their exact duplicates stay reachable; and ``min_cap_df``
    keeps the cap inert wherever dfs are small.  ``None`` (default)
    disables the cap → fully exact.

    ``max_shingle_frac`` sizes the cap FROM THE CORPUS, in-plan (no
    driver-side action): cap = max(``min_cap_df``, ⌈frac · n_docs⌉).
    A shingle present in more than that fraction of a web-scale corpus
    is boilerplate, not content; the ``min_cap_df`` floor keeps the cap
    inert on small corpora (where even the hottest shingle is rare in
    absolute terms) so small-SF results stay bit-identical to the
    uncapped plan.  Requires ``threshold > 0`` (the prefix-filtered
    path); the bucketed-all-pairs path below accepts only
    ``max_shingle_df``.
    """
    if max_shingle_frac is not None and threshold <= 0:
        raise ValueError("max_shingle_frac requires threshold > 0; "
                         "use max_shingle_df on the all-pairs path")
    postings, sets = _pair_inputs(docs, id_col, text_col, k,
                                  postings, sets)
    by_id = Window.partitionBy("id")
    if threshold <= 0:
        index = postings.withColumn("n", F.count(F.lit(1)).over(by_id))
        if max_shingle_df is not None:
            index = _cap_postings(index, max_shingle_df)
        # Self-joined below: without a persist the count-window subplan
        # runs once per join side (no ReusedExchange across the two
        # branches) — see the threshold>0 path for the measured cost.
        index = index.persist()
        cand = (
            index.alias("a")
            .join(index.alias("b"), "shingle")
            .where(F.col("a.id") < F.col("b.id"))
            .select(
                F.col("a.id").alias("id_a"),
                F.col("b.id").alias("id_b"),
                F.col("a.n").alias("na"),
                F.col("b.n").alias("nb"),
            )
        )
        if candidate_where is not None:
            cand = cand.where(candidate_where)
        cand = cand.distinct()
    else:
        # df via a count-window over the shingle partitioning: ONE scan
        # of the persisted postings and one exchange, where a
        # groupBy-then-join formulation scans postings twice and adds
        # join machinery (measured ~40 % slower on the fixture, same
        # shuffle keys at scale).  The 1e-9 slack inside ceil keeps
        # float error from over-shrinking the prefix (ceil can only
        # round DOWN toward the exact value, i.e. the prefix can only
        # widen — lossless either way).
        if ranked is not None:
            index = _adopt_ranked(ranked)
        else:
            index = ranked_postings(postings)
        index = index.where(
            F.col("pos")
            <= F.col("n")
            - F.ceil(F.lit(threshold) * F.col("n") - F.lit(1e-9))
            + 1
        )
        cap = None
        if max_shingle_df is not None:
            cap = F.lit(max_shingle_df)
        elif max_shingle_frac is not None:
            # corpus-relative cap, computed in-plan: 1-row doc count
            # cross-joined (broadcast) into the filter — no .collect().
            # Counted off the docs relation (one narrow column, no
            # shingling), not the exploded postings.
            n_docs = docs.select(
                F.count_distinct(F.col(id_col)).alias("__n_docs")
            )
            index = index.crossJoin(F.broadcast(n_docs))
            cap = F.greatest(
                F.lit(min_cap_df),
                F.ceil(F.lit(max_shingle_frac) * F.col("__n_docs")),
            )
        if cap is not None:
            # after position assignment: positions stay faithful to the
            # full-order prefix lemma, the cap only shrinks the index
            # (trading boilerplate-carried recall — see docstring).
            # min_df > cap ⇔ the doc's whole prefix is hot → keep it all
            # rather than dropping the doc from candidate generation.
            index = index.where(
                (F.col("df") <= cap) | (F.col("min_df") > cap)
            )
        index = index.select("id", "shingle", "pos", "n")
        # The candidate join reads the index on BOTH sides, and Catalyst
        # does not common-subexpression the two branches — unpersisted,
        # the whole df/pos/n window stack over the postings executes
        # twice (measured 1.44 s vs 0.30 s at sf0.1).  One narrow row
        # per surviving prefix posting; at cluster scale this is the
        # prefix-index staging table PPJoin materializes anyway — and
        # when the caller passed that staging table (``ranked``), each
        # branch is a parquet scan and no persist is needed.
        if ranked is None:
            index = index.persist()
        # Length filter (J ≥ t ⇒ t ≤ na/nb ≤ 1/t) and PPJoin POSITIONAL
        # filter evaluated inline on the candidate join, before the
        # distinct.  Positional filter: J ≥ t ⟺ |∩| ≥ α with
        # α = ⌈t·(na+nb)/(1+t)⌉; for the pair's MINIMAL common shingle
        # (global rarest-first order) every other common shingle ranks
        # after it in BOTH docs, so |∩| ≤ 1 + min(na−pa, nb−pb).  The
        # minimal common shingle of a qualifying pair is provably inside
        # both prefixes (if it sat past A's prefix, the overlap would fit
        # in A's suffix of ⌈t·na⌉−1 < t·na ≤ α elements — contradiction),
        # so its join row passes the bound and the filter is LOSSLESS.
        # The 1e-9 slack keeps float ceil from over-tightening α.
        alpha = F.ceil(
            F.lit(threshold / (1.0 + threshold))
            * (F.col("a.n") + F.col("b.n"))
            - F.lit(1e-9)
        )
        # Staged path: both branches read the shingle-bucketed index,
        # so a SHUFFLE_HASH join needs no exchange and no sort and
        # builds one hash relation per bucket — where the planner's
        # size estimate would pick a broadcast whose relation every
        # probe task pays to deserialize, or a sort-merge join that
        # re-exchanges and re-sorts both branches.  An inline build
        # keeps the planner's choice.  The per-shingle bound behind
        # the hint at scale: the prefix filter admits a shingle only
        # into a doc's ⌊(1−t)·n⌋+1 rarest positions, and a live cap
        # drops every shingle with df > cap, so one shingle's build
        # rows number at most ``cap``.  A bucket beyond that comes only
        # from docs whose whole prefix is hot (min_df > cap, kept for
        # recall) or from an uncapped call — the documented skew risk
        # of a hinted hash join.
        b_side = index.alias("b")
        if ranked is not None:
            b_side = b_side.hint("shuffle_hash")
        cand = (
            index.alias("a")
            .join(b_side, "shingle")
            .where(
                (F.col("a.id") < F.col("b.id"))
                & (F.col("a.n") >= F.lit(threshold) * F.col("b.n"))
                & (F.col("b.n") >= F.lit(threshold) * F.col("a.n"))
                & (
                    F.lit(1)
                    + F.least(
                        F.col("a.n") - F.col("a.pos"),
                        F.col("b.n") - F.col("b.pos"),
                    )
                    >= alpha
                )
            )
            .select(
                F.col("a.id").alias("id_a"),
                F.col("b.id").alias("id_b"),
                F.col("a.n").alias("na"),
                F.col("b.n").alias("nb"),
            )
        )
        if candidate_where is not None:
            cand = cand.where(candidate_where)
        cand = cand.distinct()
    if candidates_only:
        return cand
    return _verify_jaccard(sets, cand).where(
        F.col("jaccard") >= threshold
    )


def minhash_pairs(docs: DataFrame, threshold: float,
                  id_col: str = "doc_id", text_col: str = "text",
                  k: int = 3, n_hashes: int = 16, bands: int = 8,
                  max_shingle_df: int | None = None,
                  candidates_only: bool = False,
                  postings: DataFrame | None = None,
                  signatures: DataFrame | None = None,
                  sets: DataFrame | None = None) -> DataFrame:
    """MinHash+LSH candidates verified with exact Jaccard ≥ threshold.
    Output: (id_a, id_b, jaccard) with id_a < id_b.

    ``postings`` optionally supplies the pre-built ``(id, shingle)``
    relation (the exact_jaccard_pairs contract) — signatures and
    verification both derive from it, so the lexical dedup family can
    share one materialized shingling.  ``sets`` optionally supplies
    the pre-built per-doc shingle-set table verification intersects
    (the exact_jaccard_pairs contract; derived inline when absent).

    ``signatures`` optionally supplies the pre-built signature
    relation — ``(id, h0..h{n_hashes-1}, n)``,
    :func:`portable_signatures` semantics over the SAME postings (the
    caller owns that consistency, exactly as with ``postings``/
    ``ranked``) — so the signature aggregate leaves the serve plan
    entirely (queries/llm.py::_sig_relation stages it once per corpus
    and q_llm_dedup_minhash + q_sketch_error both serve from it,
    VERDICT r15 task #2).  A parquet-backed staging table needs no
    persist: the banded self-join's two branches each replay a scan.
    Mutually exclusive with ``max_shingle_df`` (a pre-built table is
    computed over full postings; cap at build time instead).

    ``candidates_only=True`` returns the banded-bucket CANDIDATE
    relation (id_a, id_b, na, nb) before verification — the Σ bucket²
    cost surface tests/test_scaling.py counts across SFs to check the
    ~linear-growth claim empirically.

    With defaults (16 hashes, 8 bands × 2 rows), a pair at j=0.8 is a
    candidate with P = 1−(1−0.64)^8 ≈ 0.9997; misses drop further as j
    rises, so at dedup-grade thresholds recall is effectively 1.

    ``max_shingle_df`` excludes stop-shingles from SIGNATURE
    computation only (verification stays on full shingle sets → exact
    Jaccard, exact precision).  Stop-shingles shared across most of the
    corpus drag unrelated documents' minhashes toward the same values,
    inflating band buckets — the cap keeps bucket sizes driven by
    discriminative content.  Documents that would lose EVERY shingle to
    the cap fall back to their full postings (``keep_all_hot_docs`` in
    :func:`_cap_postings`) so an all-boilerplate document still gets a
    signature and its exact duplicates remain reachable.  ``None``
    disables.
    """
    r = n_hashes // bands
    if signatures is not None and max_shingle_df is not None:
        raise ValueError("signatures and max_shingle_df are mutually "
                         "exclusive — cap at signature-build time")
    postings, sets = _pair_inputs(docs, id_col, text_col, k,
                                  postings, sets)
    if signatures is not None:
        expect = sorted(["id", "n"] + [f"h{i}" for i in range(n_hashes)])
        if sorted(signatures.columns) != expect:
            raise ValueError(
                "pre-built signatures must have exactly (id, "
                f"h0..h{n_hashes - 1}, n) columns (portable_signatures "
                f"semantics); got {signatures.columns}"
            )
        return _banded_pairs(signatures, sets, threshold, n_hashes,
                             bands, r, candidates_only)
    sig_postings = (
        postings if max_shingle_df is None
        else _cap_postings(postings, max_shingle_df, keep_all_hot_docs=True)
    )
    # Signatures from the EXPLODED postings, not array transforms: a
    # projected shingle-array column gets inlined by projection
    # collapse into every per-permutation transform (16× the shingling
    # work); aggregating min(xxhash64(seed, shingle)) over rows costs
    # one explode + 16 cheap hashes per row, and is the shape that
    # scales (no wide arrays through the shuffle).
    # Persisted because the banded self-join below reads it on BOTH
    # sides and Catalyst does not common-subexpression the two branches
    # (no ReusedExchange pre-AQE): without the persist the 16-min
    # aggregation over the postings runs twice.  One narrow row per doc
    # (id + 16 longs) — at cluster scale this is the signatures staging
    # table you would materialize anyway before LSH banding.
    hash_aggs = [
        F.min(F.xxhash64(F.lit(i), F.col("shingle"))).alias(f"h{i}")
        for i in range(n_hashes)
    ]
    if max_shingle_df is None:
        # sig_postings IS the full postings → the doc's set size falls
        # out of the same aggregation; no separate sizes groupBy
        with_sig = sig_postings.groupBy("id").agg(
            *hash_aggs, F.count(F.lit(1)).alias("n")
        )
    else:
        # capped rows undercount — recover TRUE sizes from the full
        # postings (only the capped path pays this extra aggregation)
        with_sig = sig_postings.groupBy("id").agg(*hash_aggs).join(
            postings.groupBy("id").agg(F.count(F.lit(1)).alias("n")), "id"
        )
    with_sig = with_sig.persist()
    return _banded_pairs(with_sig, sets, threshold, n_hashes,
                         bands, r, candidates_only)


def _banded_pairs(with_sig: DataFrame, sets: DataFrame,
                  threshold: float, n_hashes: int, bands: int, r: int,
                  candidates_only: bool) -> DataFrame:
    """Banded-LSH candidate join + exact verification over a
    ``(id, h0..h{n_hashes-1}, n)`` signature relation — the tail of
    :func:`minhash_pairs`, shared between the inline-signature path
    (persisted) and the staged-signature path (parquet scan replays
    per branch)."""
    # band hash: one 64-bit hash of the band's signature slice
    band_entries = with_sig.select(
        "id",
        "n",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            F.lit(b),
                            *[F.col(f"h{b * r + j}") for j in range(r)],
                        ).alias("bhash"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("e"),
    ).select("id", "n", "e.band", "e.bhash")
    cand = (
        band_entries.alias("a")
        .join(band_entries.alias("b"), ["band", "bhash"])
        .where(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.n").alias("na"),
            F.col("b.n").alias("nb"),
        )
        .distinct()
    )
    if candidates_only:
        return cand
    # exact verification of candidates only; a band-hash collision can
    # pair docs that share no shingle, which no threshold makes a
    # near-duplicate: jaccard 0 is dropped even at threshold 0
    return _verify_jaccard(sets, cand).where(
        (F.col("jaccard") >= threshold) & (F.col("jaccard") > 0)
    )


def containment_pairs(docs: DataFrame, threshold: float,
                      id_col: str = "doc_id", text_col: str = "text",
                      k: int = 3,
                      max_shingle_df: int | None = None,
                      max_shingle_frac: float | None = None,
                      min_cap_df: int = 50,
                      candidates_only: bool = False,
                      postings: DataFrame | None = None,
                      ranked: DataFrame | None = None,
                      sets: DataFrame | None = None) -> DataFrame:
    """All DIRECTIONAL pairs with shingle-set containment
    |Sa ∩ Sb| / |Sa| ≥ threshold (exact).  Output:
    (inner_id, outer_id, containment) — ``inner`` is the contained
    doc, ``outer`` the container.  The asymmetric sibling of
    :func:`exact_jaccard_pairs`: J shrinks with the CONTAINER's size,
    containment does not, so this is the detector for quotes,
    syndication and subset documents.

    ASYMMETRIC PREFIX FILTER: a qualifying pair needs overlap ≥
    ⌈t·n_a⌉, so under the global rarest-first shingle order at least
    one of A's first ⌊(1−t)·n_a⌋+1 shingles must occur ANYWHERE in B
    (if A's whole prefix misses B, the overlap fits in A's suffix of
    ⌈t·n_a⌉−1 < t·n_a elements — contradiction).  The candidate join
    is therefore PREFIX(inner) ⋈ FULL(outer) — the inner side indexes
    ~(1−t) of its postings, the outer side stays complete so recall is
    exact; per-shingle bucket cost is prefix_df × df, and rarest-first
    ordering keeps prefix buckets small.  Two inline lossless filters
    tighten it before the distinct: the container size bound
    (n_b ≥ ⌈t·n_a⌉ — overlap cannot exceed n_b) and the positional
    bound (for the pair's minimal common shingle every other common
    shingle ranks after it in BOTH docs, so overlap ≤
    1 + min(n_a−p_a, n_b−p_b)).  Verification intersects the two
    docs' FULL shingle sets, so precision is exact.

    The stop-shingle cap (``max_shingle_df`` / corpus-relative
    ``max_shingle_frac`` with the ``min_cap_df`` inertness floor, both
    exactly as in :func:`exact_jaccard_pairs`) prunes hot shingles
    from the PREFIX index only — same recall trade, documented there;
    ``min_df > cap`` docs keep their whole prefix.

    ``postings`` optionally supplies the pre-built ``(id, shingle)``
    relation — the exact_jaccard_pairs contract (same tokenizer, same
    k, distinct per doc); ``ranked`` the pre-built rarest-first index
    (:func:`ranked_postings` over the same postings — the dominant
    candidate-generation cost, staged once per corpus by
    queries/llm.py::_shingle_index_relation); ``sets`` the pre-built
    per-doc shingle-set table verification intersects (the
    exact_jaccard_pairs contract; derived inline when absent).  No
    persist is layered on a caller-provided staging table."""
    if threshold <= 0:
        raise ValueError("containment_pairs requires threshold > 0")
    postings, sets = _pair_inputs(docs, id_col, text_col, k,
                                  postings, sets)
    if ranked is not None:
        index = _adopt_ranked(ranked)
    else:
        # Candidate join reads the windowed relation on both branches —
        # persist or the df/pos/n stack executes twice (the
        # exact_jaccard_pairs measurement).
        index = ranked_postings(postings).persist()
    prefix = index.where(
        F.col("pos")
        <= F.col("n")
        - F.ceil(F.lit(threshold) * F.col("n") - F.lit(1e-9))
        + 1
    )
    cap = None
    if max_shingle_df is not None:
        cap = F.lit(max_shingle_df)
    elif max_shingle_frac is not None:
        n_docs = docs.select(
            F.count_distinct(F.col(id_col)).alias("__n_docs")
        )
        prefix = prefix.crossJoin(F.broadcast(n_docs))
        cap = F.greatest(
            F.lit(min_cap_df),
            F.ceil(F.lit(max_shingle_frac) * F.col("__n_docs")),
        )
    if cap is not None:
        prefix = prefix.where(
            (F.col("df") <= cap) | (F.col("min_df") > cap)
        )
    prefix = prefix.select("id", "shingle", "pos", "n")
    full = index.select("id", "shingle", "pos", "n")
    # required overlap, from the INNER side's size only
    alpha = F.ceil(F.lit(threshold) * F.col("a.n") - F.lit(1e-9))
    a_side = prefix.alias("a")
    if ranked is not None:
        # build side = the PREFIX (the smaller branch, bounded per
        # shingle as in exact_jaccard_pairs); both branches read
        # co-partitioned buckets — see the hint there.
        a_side = a_side.hint("shuffle_hash")
    raw = (
        a_side
        .join(full.alias("b"), "shingle")
        .where(
            (F.col("a.id") != F.col("b.id"))
            & (F.col("b.n") >= alpha)
            & (
                F.lit(1)
                + F.least(
                    F.col("a.n") - F.col("a.pos"),
                    F.col("b.n") - F.col("b.pos"),
                )
                >= alpha
            )
        )
        .select(
            F.col("a.id").alias("inner_id"),
            F.col("b.id").alias("outer_id"),
            F.col("a.n").alias("n_inner"),
            F.col("b.n").alias("n_outer"),
        )
    )
    if candidates_only:
        return raw.select("inner_id", "outer_id", "n_inner").distinct()
    # UNORDERED verification (r16): the intersection is symmetric, so a
    # pair that is a candidate in BOTH directions (~30 % of directed
    # candidates at sf0.1) is verified ONCE, on its (lo, hi) row.  The
    # (lo, hi) groupBy replaces the directed distinct (same single
    # exchange — the join-dup dedup and the direction fold are one
    # aggregate); both sizes ride the candidate rows, so no sizes
    # join, and |∩| is one array_intersect of the two docs' shingle
    # sets.  A direction is emitted from the one exact inter count
    # ONLY when that direction was itself a candidate (the d_lo/d_hi
    # presence flags): under an inert cap the filters are lossless so
    # this equals the threshold cut alone, but under a LIVE
    # stop-shingle cap a direction can be absent from the candidates
    # while its symmetric twin is present, and emitting it anyway
    # would silently restore recall the cap's documented semantic
    # trades away (tests/test_properties.py pins the capped behavior
    # against a bit-faithful simulation).  Each emitted direction
    # computes the identical inter/n_inner double, so the output rows
    # are exactly the directed-verify rows under ANY cap.
    ilo = F.col("inner_id") < F.col("outer_id")
    und = raw.groupBy(
        F.least("inner_id", "outer_id").alias("lo"),
        F.greatest("inner_id", "outer_id").alias("hi"),
    ).agg(
        F.max(
            F.when(ilo, F.col("n_inner")).otherwise(F.col("n_outer"))
        ).alias("n_lo"),
        F.max(
            F.when(ilo, F.col("n_outer")).otherwise(F.col("n_inner"))
        ).alias("n_hi"),
        F.max(F.when(ilo, 1).otherwise(0)).alias("d_lo"),
        F.max(F.when(ilo, 0).otherwise(1)).alias("d_hi"),
    )
    s_lo = sets.select(F.col("id").alias("lo"), F.col("sh").alias("s_lo"))
    s_hi = sets.select(F.col("id").alias("hi"), F.col("sh").alias("s_hi"))
    co = (
        und.join(s_lo, "lo")
        .join(s_hi, "hi")
        .select("lo", "hi", "n_lo", "n_hi", "d_lo", "d_hi",
                _intersection("s_lo", "s_hi").alias("inter"))
    )
    it = F.col("inter").cast("double")
    both = co.select(
        F.explode(
            F.filter(
                F.array(
                    F.struct(
                        F.col("lo").alias("inner_id"),
                        F.col("hi").alias("outer_id"),
                        F.when(F.col("d_lo") == 1, it / F.col("n_lo"))
                        .alias("containment"),
                    ),
                    F.struct(
                        F.col("hi").alias("inner_id"),
                        F.col("lo").alias("outer_id"),
                        F.when(F.col("d_hi") == 1, it / F.col("n_hi"))
                        .alias("containment"),
                    ),
                ),
                lambda s: s["containment"].isNotNull(),
            )
        ).alias("__d")
    ).select("__d.inner_id", "__d.outer_id", "__d.containment")
    return both.where(F.col("containment") >= threshold)
