"""Text-analysis operators for training-data pipelines (SURVEY.md B11):
tokenization, shingling, document stats / quality scoring, language-ID
scoring, fingerprinting.  Everything is JVM array/string built-ins —
the hot path never leaves codegen.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Tiny per-language marker vocabularies for the n-gram/stopword
#: language-ID heuristic.  Deliberately small and inline: the point is
#: the MECHANISM (broadcast marker match + vote argmax), which scales
#: to real lexicons unchanged.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "is"),
    "es": ("el", "la", "de", "que", "es"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "la", "de", "et", "est"),
    "zh": ("的", "是", "了", "在", "我"),
}

#: Stopword list for quality scoring (subset of en markers present in
#: the fixture vocabulary).
STOPWORDS: tuple[str, ...] = ("a", "the", "of", "and", "is")


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization (fixture text is space-separated)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.split(c, " ")


def word_shingles(text: Column | str, k: int = 3) -> Column:
    """Array of word k-shingles (space-joined k-grams), in order.

    Built by zipping k row-level shifted slices of the token array
    (``zip_with(slice(w,1,m), slice(w,2,m), concat)`` …) — k−1 array
    passes per ROW.  The obvious ``transform(sequence(0,n−k),
    i → concat_ws(slice(w,i+1,k)))`` form allocates a fresh k-element
    subarray PER SHINGLE, which made shingling the hottest expression
    in every n-gram pipeline (measured 4× slower at sf0.1: 2.2 s →
    0.65 s for trigram generation alone).  Output strings are
    identical (tokens are never null, so ``concat`` ≡ ``concat_ws``);
    empty array when the document has fewer than k words.

    NOTE the expression references its input array k+1 times (k slices
    + the size guard): callers embedding this in a projection should
    pass a PRE-STAGED token-array column via :func:`word_shingles_of`
    (r16 — inlining ``tokens(text)`` here replays the split per
    reference once the projection falls out of whole-stage codegen,
    and the Projects carrying higher-order functions do)."""
    return word_shingles_of(tokens(text), k)


def word_shingles_of(w: Column, k: int = 3) -> Column:
    """:func:`word_shingles` over an already-tokenized array column —
    the staged form every hot caller uses so the tokenization runs
    once per row in its own projection (CollapseProject keeps a
    non-cheap alias referenced more than once in a separate Project,
    so an aliased token array is computed once; measured 3× on the
    dup-trigram + token-stats projection shape at sf0.1, r16)."""
    n = F.size(w)
    m = n - k + 1
    acc = F.slice(w, 1, m)
    for j in range(2, k + 1):
        acc = F.zip_with(
            acc, F.slice(w, j, m),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return F.when(n < k, F.array().cast("array<string>")).otherwise(acc)


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


def distinct_token_count(text: Column | str) -> Column:
    return F.size(F.array_distinct(tokens(text)))


def stopword_ratio(text: Column | str,
                   stopwords: tuple[str, ...] = STOPWORDS) -> Column:
    t = tokens(text)
    sw = F.size(
        F.filter(t, lambda x: x.isin(*stopwords))
    )
    return sw.cast("double") / F.size(t)


def lang_scores(text: Column | str) -> dict[str, Column]:
    """Marker-vote score per language: |distinct tokens ∩ markers|."""
    return lang_scores_of(F.array_distinct(tokens(text)))


def lang_scores_of(distinct_tokens: Column) -> dict[str, Column]:
    """:func:`lang_scores` over a pre-staged DISTINCT token array —
    the array is referenced once per language, so callers alias it in
    a lower Project (CollapseProject keeps it separate) and the
    tokenize+distinct runs once per row instead of |langs| times."""
    return {
        lang: F.size(
            F.array_intersect(
                distinct_tokens, F.array(*[F.lit(m) for m in markers])
            )
        )
        for lang, markers in LANG_MARKERS.items()
    }


def predict_lang(text: Column | str, default: str = "und") -> Column:
    """Argmax of marker votes; deterministic ties by language code
    order; ``default`` when no marker matched at all.

    The argmax when-chain references every score O(|langs|) times —
    inlined over raw text that replays the tokenize+intersect per
    reference (measured: 87 split() instances in the q_langid_confusion
    plan, r16).  Hot callers stage the per-language scores as columns
    in their own Project and fold with :func:`predict_lang_from`."""
    return predict_lang_from(lang_scores(text), default)


def predict_lang_from(scores: dict[str, Column],
                      default: str = "und") -> Column:
    """The argmax fold of :func:`predict_lang` over already-computed
    per-language score columns (cheap references, so the when-chain's
    repeated mentions cost nothing)."""
    best = None
    best_score = None
    for lang in sorted(scores):  # ascending code order; strict > keeps first
        s = scores[lang]
        if best is None:
            best, best_score = F.lit(lang), s
        else:
            cond = s > best_score
            best = F.when(cond, F.lit(lang)).otherwise(best)
            best_score = F.when(cond, s).otherwise(best_score)
    return F.when(best_score > 0, best).otherwise(F.lit(default))


def doc_fingerprint(text: Column | str) -> Column:
    """Exact-content fingerprint: md5 of the raw text."""
    c = F.col(text) if isinstance(text, str) else text
    return F.md5(c)


def normalized_fingerprint(text: Column | str) -> Column:
    """Order-insensitive content fingerprint: md5 over the sorted
    distinct token set — robust to token shuffling, the cheap
    'bag-of-words identical' dedup signal."""
    return F.md5(
        F.concat_ws(" ", F.array_sort(F.array_distinct(tokens(text))))
    )


def portable_hash64(c: Column) -> Column:
    """64-bit token hash BOTH engines can compute bit-identically:
    the top 16 hex chars of md5, assembled from two 32-bit ``conv``
    halves (``conv(…,16,10)`` yields a decimal STRING, and a single
    16-hex-char conversion would overflow the signed-long cast for
    values ≥ 2⁶³; ``shiftleft`` wraps two's-complement, so
    ``(hi << 32) | lo`` reproduces the unsigned bit pattern exactly).
    DuckDB twin: ``('0x' || substr(md5(tok), 1, 16))::UBIGINT`` —
    same UTF-8 md5, same lowercase hex, same 64 bits.  Pure JVM on
    the Spark side (md5/substring/conv are codegen'd built-ins);
    xxhash64 stays the cheaper non-oracle mode."""
    m = F.md5(c.cast("binary"))
    hi = F.conv(F.substring(m, 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(m, 9, 8), 16, 10).cast("long")
    return F.shiftleft(hi, 32).bitwiseOR(lo)


def _token_hash(c: Column, hasher: str) -> Column:
    if hasher == "xxhash":
        return F.xxhash64(c)
    if hasher == "md5":
        return portable_hash64(c)
    raise ValueError(f"unknown hasher {hasher!r} (use 'xxhash' or 'md5')")


def simhash64(text: Column | str, hasher: str = "xxhash") -> Column:
    """64-bit SimHash over tokens (Charikar): per token a 64-bit
    hash; each bit votes ±1; fingerprint bit = sign of the vote sum.
    Pure JVM: 64 filter/size aggregates over the token array.

    Near-duplicate docs differ in few bits — pair candidates by
    hamming distance (see ``hamming64``).  ``hasher="md5"`` selects
    the engine-portable token hash (:func:`portable_hash64`) that a
    DuckDB oracle can replicate; ``"xxhash"`` is the cheaper default
    for non-oracle use.
    """
    t = tokens(text)
    fp = F.lit(0).cast("long")
    for bit in range(64):
        # bit 63 is the sign bit: 1<<63 overflows signed long, so use
        # its two's-complement representation instead
        mask = F.lit(1 << bit) if bit < 63 else F.lit(-(1 << 63))
        ones = F.size(
            F.filter(t, lambda x: _token_hash(x, hasher).bitwiseAND(mask) != 0)
        )
        vote = (ones * 2) - F.size(t)  # ones - zeros
        fp = fp + F.when(vote > 0, mask).otherwise(F.lit(0))
    return fp


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit fingerprints."""
    return F.bit_count(a.bitwiseXOR(b))


def _bit_mask(bit: int) -> int:
    # bit 63 is the sign bit: 1<<63 overflows signed long, so use its
    # two's-complement representation instead
    return (1 << bit) if bit < 63 else -(1 << 63)


def simhash_fingerprints(docs, id_col: str = "doc_id",
                         text_col: str = "text",
                         hasher: str = "xxhash"):
    """(id_col, fp) SimHash table — bit-identical to :func:`simhash64`
    but one-pass: explode tokens, hash each token ONCE in a JVM
    projection (xxhash64 has no Python twin in this environment, so
    hashing stays JVM-side), collect each doc's hash list through ONE
    map-side-combining aggregate, then run the 64-bit VOTE as an
    Arrow-batched numpy popcount (``mapInPandas``).  The vote is the
    same dense-integer-kernel shape as the LSH projection
    (similarity.py::lsh_buckets_np): the JVM 64-accumulator
    HashAggregate paid ~250 ns per (token, bit) update — ~2 s at
    sf0.1 — where numpy's ``(h >> bits) & 1`` table sums in ~0.1 s.
    Bit-identity is trivial: votes are integer counts, order-free
    (``collect_list`` order is irrelevant), and the mask set is
    disjoint, so no float or fold-order concerns exist.  The
    column-expression twin (:func:`simhash64`) re-hashes every token
    once per bit; it remains the inline/property-test reference.

    Shuffle shape: one exchange on id_col carrying each doc's token
    hashes (8 B/token — the raw text never shuffles); a doc's hash
    list is memory-bounded by its own token count, the same bound the
    64-column partial-agg row had per doc per partition.

    NULL-text documents: explode would silently drop them, where the
    column twin yields fp = 0 (every vote is NULL → no bit set) — the
    left join below restores exactly that, so the two forms stay
    bit-identical on any input."""
    import numpy as np
    import pandas as pd

    from level2_to_cassandra_spark.catalog import spread_scan

    spread = spread_scan(docs)
    toks = spread.select(
        F.col(id_col),
        F.explode(tokens(text_col)).alias("__tok"),
    ).select(id_col, _token_hash(F.col("__tok"), hasher).alias("__h"))
    hashes = toks.groupBy(id_col).agg(F.collect_list("__h").alias("__hs"))

    def vote(it):
        shifts = np.arange(64, dtype=np.uint64)
        masks = np.array([_bit_mask(b) for b in range(64)], dtype=np.int64)
        for pdf in it:
            fps = []
            for hs in pdf["__hs"]:
                h = np.asarray(hs, dtype=np.int64).view(np.uint64)
                ones = ((h[:, None] >> shifts) & 1).sum(axis=0)
                fps.append(masks[(ones * 2) > len(h)].sum())
            yield pd.DataFrame(
                {id_col: pdf[id_col],
                 "fp": np.array(fps, dtype=np.int64)}
            )

    fps = hashes.mapInPandas(vote, schema=f"{id_col} long, fp long")
    return spread.select(id_col).join(fps, id_col, "left").select(
        F.col(id_col), F.coalesce("fp", F.lit(0)).alias("fp")
    )


#: Corpus-hot shingle cut (q_text_boilerplate and the streaming
#: shingle-df journal): a word-3-gram is HOT when its document
#: frequency reaches max(BOILER_FLOOR, ceil(n_docs / BOILER_DENOM)).
#: Corpus-relative so the hot set stays bounded as the corpus grows
#: (each hot shingle needs n_docs/DENOM supporting docs, and docs
#: contribute a fixed gram budget → ≤ DENOM × avg-grams-per-doc
#: entries at ANY corpus size — the broadcast-forever bound measured
#: by tests/test_scaling.py); absolute-floored so tiny corpora don't
#: call everything hot.  The DIVISION form (n / 500.0, not 0.002·n)
#: keeps the threshold engine-exact: multiplying by the inexact
#: double 0.002 lands 0.002·500 an ulp ABOVE 1.0 and CEIL flips
#: between engines' const folding; dividing by the exact double
#: 500.0 cannot.
BOILER_DENOM = 500.0
BOILER_FLOOR = 5


def shingle_occurrences(docs, id_col: str = "doc_id",
                        text_col: str = "text", k: int = 3,
                        outer: bool = False):
    """The word-k-gram OCCURRENCE stream ``(id, g3)`` — duplicates
    kept (boilerplate fractions count occurrences); docs with < k
    words or NULL text contribute no rows — unless ``outer=True``
    (r16), which emits exactly ONE ``g3 IS NULL`` row for such docs
    (``explode_outer``) so a per-doc consumer keeps every document
    inside its aggregate (``count(g3)`` skips the null sentinel) and
    needs no doc_id re-attach join afterwards.

    The token array is staged in its own select BELOW the Generate
    (r16): the shingle build references it k+1 times, and inline each
    reference replayed the split; the generator input stays a COMPLEX
    expression (the < k CASE guard), so InferFiltersFromGenerate does
    not infer a pushable size() filter (the shingle_postings trap)."""
    gen = F.explode_outer if outer else F.explode
    return docs.select(
        F.col(id_col).alias("doc_id"),
        tokens(text_col).alias("__toks"),
    ).select(
        "doc_id",
        gen(word_shingles_of(F.col("__toks"), k)).alias("g3"),
    )


def hot_shingles(dfreq, n_docs_rel):
    """Apply the corpus-relative hot cut to a ``(g3, df)`` document-
    frequency relation given a 1-row ``(n_docs)`` relation → the hot
    shingle set ``(g3)``.  ONE shared implementation for the batch
    query and the streaming journal reader so the cut cannot drift
    between them; the threshold relation rides a 1-row broadcast."""
    k_rel = n_docs_rel.select(
        F.greatest(
            F.lit(BOILER_FLOOR),
            F.ceil(F.col("n_docs") / F.lit(BOILER_DENOM)),
        ).alias("k")
    )
    return (
        dfreq.crossJoin(F.broadcast(k_rel))
        .where(F.col("df") >= F.col("k"))
        .select("g3")
    )


#: Tokens per synthesized "line" for sub-document (line-level) dedup —
#: the fixture corpus has no newlines, so a line is each consecutive
#: LINE_TOKENS-token group (the chunking segmentation at stride =
#: width).  A corpus with real newlines swaps the token grouping for
#: split(text, '\n') and nothing downstream changes.
LINE_TOKENS = 8

#: Packed (doc_id, line_no) total-order key span for first-occurrence
#: attribution over line_segments output — supports documents up to
#: one million lines before doc_id*SPAN could collide.  ONE definition
#: beside the segmentation it keys (self-review r15: the batch query
#: and the streaming admit monitor each held their own copy pinned
#: only by a comment): widening it for longer documents changes
#: within-batch first-occurrence attribution in BOTH paths together.
LINE_KEY_SPAN = 1_000_000


def packed_line_key(doc_id_col: str = "doc_id",
                    line_no_col: str = "line_no"):
    """The packed ``doc_id * LINE_KEY_SPAN + line_no`` BIGINT
    first-occurrence key, GUARDED: a line_no at or beyond
    LINE_KEY_SPAN would alias into the next doc_id's key range and
    silently mis-attribute first occurrence (ADVICE r15 — the limit
    was documented but never enforced), so an over-long document
    RAISES instead of corrupting attribution.  ONE shared expression
    for the batch query and the streaming admit monitor; the guard is
    a lazily-evaluated CASE branch — zero cost on conforming rows."""
    line_no = F.col(line_no_col)
    return F.when(
        line_no >= F.lit(LINE_KEY_SPAN),
        F.raise_error(F.format_string(
            "line_no %s >= LINE_KEY_SPAN=%s: packed first-occurrence "
            "key would collide across documents — widen LINE_KEY_SPAN "
            "in operators/text.py",
            line_no, F.lit(LINE_KEY_SPAN),
        )).cast("long"),
    ).otherwise(F.col(doc_id_col) * F.lit(LINE_KEY_SPAN) + line_no)


def line_segments(docs, id_col: str = "doc_id", text_col: str = "text"):
    """``(doc_id, line_no, line_text)`` — the LINE stream for
    sub-document dedup, 0-based line_no in document order.  ONE shared
    implementation for the batch query (queries/llm.py::q_dedup_lines)
    and the streaming admit monitor
    (streaming/monitor.py::line_dedup_step) so the
    segmentation cannot drift between them.  Pure JVM: sequence +
    posexplode + slice, no shuffle."""
    # Materialize the TOKEN ARRAY in its OWN select BELOW the explode
    # (self-review r15, round 2): a single select that both aliases the
    # array and posexplodes gets its alias folded back into the
    # post-Generate slice by ExtractGenerator+CollapseProject, leaving
    # split() running once per emitted line; with the array projected
    # in a separate child select it lands in a Project BELOW the
    # Generate, computed once per document and reused by the sequence
    # bound and every line slice (verified on the optimized plan).
    # NULL-text guard (self-review r15, rationale corrected by the
    # second review pass): behavior is ANSI-MODE-DEPENDENT — under
    # Spark 4's default ANSI mode size(split(NULL)) is NULL, the
    # sequence bound is NULL, and posexplode silently emits zero rows;
    # under legacy mode (spark.sql.ansi.enabled=false) size gives -1
    # and sequence(1, -1, 8) is a RUNTIME IllegalArgumentException
    # that would kill a streaming admit query (both probed live on
    # 4.1.2).  The explicit filter makes the drop mode-independent
    # and matches the oracle (string_split(NULL) unnests to zero
    # rows).
    toks = docs.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("doc_id"),
        tokens(text_col).alias("__w"),
    )
    return toks.select(
        "doc_id",
        "__w",
        F.posexplode(
            F.sequence(F.lit(1), F.size(F.col("__w")), F.lit(LINE_TOKENS))
        ).alias("line_no", "start"),
    ).select(
        "doc_id",
        F.col("line_no").cast("long").alias("line_no"),
        F.array_join(
            F.slice(F.col("__w"), F.col("start"), LINE_TOKENS), " "
        ).alias("line_text"),
    )
