"""Document deduplication operators: exact, MinHash+LSH, SimHash, Jaccard.

All four are pure DataFrame compositions (no Python UDFs) designed for
the 100 TB regime:

  * **exact** — one hash-groupBy shuffle on the digest; survivors are the
    min doc_id per digest.  The only full-data shuffle is on a 32-byte
    key, and map-side partial aggregation collapses duplicates early.
  * **token-set Jaccard (exact near-dup)** — explode distinct tokens,
    self-join on token, count co-occurrences.  Quadratic in docs sharing
    a token in the worst case; at scale run it only on LSH candidates.
  * **MinHash + LSH** — k=32 signature / 8 bands × 4 rows.  Candidates
    come from equal band keys (a groupBy-sized shuffle, never a cross
    join); exact Jaccard verification runs only on candidates.  This is
    the scale path: cost is O(docs × tokens) + O(candidate pairs).
  * **SimHash** — 48-bit weighted fingerprint; near-dups share 12-bit
    bands, verified by Hamming distance.

Hashing is md5-derived (functions/hashing.py) so the DuckDB oracle
reproduces every stage bit-for-bit — including LSH's probabilistic
misses, which are deterministic given the hash family.  MinHash's k
values come from ONE md5 per vocabulary term via the affine family
(``affine_hash_array``); SimHash uses the 60-bit ``h60``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from columnar_analytics_engine_spark.functions.caching import persist_once
from columnar_analytics_engine_spark.functions.dialect import SPARK
from columnar_analytics_engine_spark.functions.hashing import affine_hash_array, h60
from columnar_analytics_engine_spark.functions.text import distinct_tokens, tokens

# MinHash defaults: k = BANDS * ROWS_PER_BAND signature values.
MINHASH_K = 32
LSH_BANDS = 8
LSH_ROWS_PER_BAND = 4


def _rational_threshold(threshold: float) -> tuple[int, int]:
    """Exact small-rational form num/den of a similarity threshold
    (0.8 -> 4/5), shared by the Spark predicate and the SQL oracle so
    the >= boundary is integer-exact and identical in both engines."""
    from fractions import Fraction

    fr = Fraction(threshold).limit_denominator(10**6)
    return fr.numerator, fr.denominator
SIMHASH_BITS = 48
SIMHASH_BAND_BITS = 12



# Shared plan-keyed persist memoization (public home:
# functions/caching.persist_once; the old private name stays as an
# alias for existing call sites).
_persist_once = persist_once


def exact_duplicates(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup via content digest: one row per distinct text with the
    surviving (minimum) id and the duplicate count."""
    return (
        docs.select(F.col(id_col), F.md5(F.trim(F.col(text_col))).alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("keeper_id"), F.count("*").alias("n_copies"))
    )


def _token_table(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.expr(distinct_tokens(SPARK.quote(text_col)))).alias("token"),
    )


def jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    candidates: DataFrame | None = None,
    broadcast_sets: bool = True,
) -> DataFrame:
    """Exact token-set Jaccard similarity pairs ≥ threshold.

    With ``candidates`` (d1, d2) given — e.g. from LSH — only those pairs
    are scored; otherwise all pairs sharing ≥1 token are considered
    (full-accuracy mode, shuffle grows with token co-occurrence).
    """
    if candidates is not None:
        # Candidate-driven verify: join the pair list against compact
        # per-doc token-set arrays and intersect in-place
        # (whole-stage-codegen array_intersect, no token explosion).
        # Cost scales with |candidates| × tokens-per-doc and never with
        # global token co-occurrence — the property that keeps LSH dedup
        # viable when common tokens appear in millions of documents.
        # Tokens are h60-encoded to int64 once per doc before the join:
        # long-array intersection is ~2.6× cheaper than string-array on
        # the bench corpus, and the intersection COUNT (all Jaccard
        # needs) is unchanged — h60 is injective on any realistic set.
        # The candidate list is quadratic-ish; the doc-set table is linear
        # and far smaller — broadcast it so the (large) candidate side
        # never shuffles (measured 6× on the bench corpus).  For corpora
        # whose set table exceeds executor memory pass
        # ``broadcast_sets=False`` to fall back to a shuffle join.
        #
        # The threshold test runs as the exact integer predicate
        #     (den+num)·|A∩B| >= num·(|A|+|B|)      (num/den = threshold)
        # — algebraically identical to jaccard >= threshold but with ONE
        # textual array_intersect (Catalyst inlines the filter into the
        # join condition; the float form evaluated the intersection up
        # to 4× per pair — measured ~2.5× slower).  A size-compatibility
        # conjunct short-circuits first: |A∩B| <= min(|A|,|B|), so pairs
        # whose sizes alone cannot reach the threshold never pay the
        # intersection at all.  The oracle mirrors the same integer
        # predicate, so the boundary is bit-identical cross-engine.
        num, den = _rational_threshold(threshold)
        # plan-keyed memoization (round-14; same rule containment_pairs
        # already applied): the set table joins BOTH pair sides, and the
        # two broadcast builds do NOT share an exchange (measured: two
        # separate parquet scan + tokenize + h60 subtrees per run in
        # the physical plan) — persisted, the tokenize pass runs once
        # per input instead of twice per invocation.  Built through
        # hashed_token_sets (not an inline copy of the same expression
        # tree) so this site, minhash_probe, and the index builder all
        # produce ONE plan and share ONE cache entry (ADVICE r14).
        sets = _persist_once(
            hashed_token_sets(docs, id_col=id_col, text_col=text_col)
        )
        if broadcast_sets:
            sets = F.broadcast(sets)
        a = sets.alias("sa")
        b = sets.alias("sb")
        t1, t2 = F.col("sa.toks"), F.col("sb.toks")
        n1, n2 = F.size(t1).cast("long"), F.size(t2).cast("long")
        n_common = F.size(F.array_intersect(t1, t2)).cast("long")
        size_ok = F.lit(den + num) * F.least(n1, n2) >= F.lit(num) * (n1 + n2)
        hit = size_ok & (F.lit(den + num) * n_common >= F.lit(num) * (n1 + n2))
        jac = n_common.cast("double") / (n1 + n2 - n_common).cast("double")
        return (
            candidates.join(a, F.col("d1") == F.col("sa.doc_id"))
            .join(b, F.col("d2") == F.col("sb.doc_id"))
            .filter(hit)
            .select("d1", "d2", jac.alias("jaccard"))
        )
    # Full-accuracy mode: classical inverted-index (token co-occurrence)
    # self-join.  Correct for any corpus, but shuffle grows with token
    # document frequency — use the LSH candidates path at scale.
    tok = _token_table(docs, id_col, text_col)
    # per-doc sizes join the pair list TWICE (s1/s2 aliases) — persist
    # so the token explode + count doesn't execute once per alias
    sizes = _persist_once(tok.groupBy("doc_id").agg(F.count("*").alias("n_tokens")))
    ta = tok.alias("ta")
    tb = tok.alias("tb")
    common = (
        ta.join(
            tb,
            (F.col("ta.token") == F.col("tb.token"))
            & (F.col("ta.doc_id") < F.col("tb.doc_id")),
        )
        .groupBy(F.col("ta.doc_id").alias("d1"), F.col("tb.doc_id").alias("d2"))
        .agg(F.count("*").alias("n_common"))
    )
    s1 = sizes.alias("s1")
    s2 = sizes.alias("s2")
    jac = F.col("n_common").cast("double") / (
        F.col("s1.n_tokens") + F.col("s2.n_tokens") - F.col("n_common")
    ).cast("double")
    return (
        common.join(s1, F.col("d1") == F.col("s1.doc_id"))
        .join(s2, F.col("d2") == F.col("s2.doc_id"))
        .select("d1", "d2", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= F.lit(threshold))
    )


def word_shingles(toks: Column, n: int = 3) -> Column:
    """Distinct n-word shingles of a token-ARRAY column (order-sensitive,
    unlike token sets).

    Takes the materialized array, not raw text: an expression argument
    (e.g. ``split(...)``) would be re-inlined into every ``element_at``
    inside the lambda and re-evaluated per shingle position — measured
    ~19× slower.  Callers project the token array into a named column
    first so it is computed once per row.
    """
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j) for j in range(n)]),
    )
    # sequence(1, stop) DESCENDS through index 0 when stop < 1 (see
    # functions/hashing.py) — short docs must yield no shingles, not an
    # INVALID_INDEX_OF_ZERO error
    return F.when(
        F.size(toks) >= n, F.array_distinct(grams)
    ).otherwise(F.array().cast("array<string>"))


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Order-sensitive near-dup pairs via n-gram shingle Jaccard.

    Shingles are high-cardinality (unlike tokens), so the classical
    inverted-index self-join is sparse and scales — two docs only meet
    if they share an exact n-word sequence.  Catches true copy-edits
    that token-set Jaccard can't distinguish from shuffles.
    """
    sh = (
        docs.select(F.col(id_col).alias("doc_id"), F.expr(tokens(SPARK.quote(text_col))).alias("l"))
        .filter(F.size("l") >= n)
        .select("doc_id", F.explode(word_shingles(F.col("l"), n)).alias("g"))
    )
    # persisted: joined twice below (per-side aliases), see jaccard_pairs
    sizes = _persist_once(sh.groupBy("doc_id").agg(F.count("*").alias("n_sh")))
    a = sh.alias("ga")
    b = sh.alias("gb")
    common = (
        a.join(
            b,
            (F.col("ga.g") == F.col("gb.g")) & (F.col("ga.doc_id") < F.col("gb.doc_id")),
        )
        .groupBy(F.col("ga.doc_id").alias("d1"), F.col("gb.doc_id").alias("d2"))
        .agg(F.count("*").alias("n_common"))
    )
    jac = F.col("n_common").cast("double") / (
        F.col("s1.n_sh") + F.col("s2.n_sh") - F.col("n_common")
    ).cast("double")
    return (
        common.join(sizes.alias("s1"), F.col("d1") == F.col("s1.doc_id"))
        .join(sizes.alias("s2"), F.col("d2") == F.col("s2.doc_id"))
        .select("d1", "d2", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= F.lit(threshold))
    )


def minhash_signatures(
    docs: DataFrame, k: int = MINHASH_K, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """k-permutation MinHash signature per doc: columns h0..h{k-1}.

    One explode + one groupBy shuffle; the k mins fold map-side, so
    shuffle volume is docs × k longs regardless of token count.  The k
    hashes are computed once per *vocabulary term* and joined back to
    occurrences — and the whole k-family derives from ONE md5 per term
    via the affine family (functions/hashing.py), so digest work scales
    with distinct tokens, not corpus size or k.
    """
    tok = _token_table(docs, id_col, text_col)
    # one array-valued hash family per distinct term (affine_hash_array):
    # the k columns variant re-inlines the md5 into every member when
    # codegen evaluates the aggregate's result projection — 2·k digests
    # per term instead of 2 (measured 1.7x whole-build slowdown even on
    # a 31-term vocabulary)
    vocab = tok.select("token").distinct().select(
        "token", F.expr(affine_hash_array("token", k)).alias("vs")
    )
    # expr-built aggregates: the k Column-built min(element_at(...))
    # towers cost ~5 py4j round trips each at plan-construction time
    # (driver-side stall, guide §5); one parsed expression per member
    # builds the identical aggregate
    mins = [F.expr(f"min(element_at(vs, {i + 1})) AS h{i}") for i in range(k)]
    return tok.join(vocab, "token").groupBy("doc_id").agg(*mins)


def band_table(
    signatures: DataFrame,
    bands: int = LSH_BANDS,
    rows_per_band: int = LSH_ROWS_PER_BAND,
) -> DataFrame:
    """(doc_id, band_id, band_key) rows from a MinHash signature table —
    the LSH bucketing key.  Shared by the batch self-join candidates
    (:func:`lsh_candidates`) and the streaming persistent band index
    (streaming/neardup.py).

    One ``inline(array(struct(band_id, band_key), ...))`` generator
    instead of a ``bands``-branch union (round 15): the union spelled
    the signature subtree once PER BAND — 8 logical branches to
    analyze, 8 scans of the (cached) signature frame to execute, and
    ~0.6 s of py4j round trips per plan construction (guide §5 —
    driver-side stall; §2.4 — the same table read eight times).  The
    generator emits the identical (doc_id, band_id, band_key) row set
    from ONE pass over the signatures; only row order differs (all
    bands of a doc together instead of all docs of a band), which no
    consumer observes — bands are only ever joined or grouped on."""
    entries = ",".join(
        "struct({j} AS band_id, md5(concat_ws(',', {cols})) AS band_key)".format(
            j=j,
            cols=", ".join(
                f"cast(h{j * rows_per_band + r} as string)"
                for r in range(rows_per_band)
            ),
        )
        for j in range(bands)
    )
    return signatures.select("doc_id", F.expr(f"inline(array({entries}))"))


def lsh_candidates(
    signatures: DataFrame,
    bands: int = LSH_BANDS,
    rows_per_band: int = LSH_ROWS_PER_BAND,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Banded LSH candidate pairs (d1 < d2) from MinHash signatures.

    Docs agreeing on all ``rows_per_band`` values of any band collide.
    The band key is md5 of the joined values — collisions group via a
    key shuffle, never a cross join.

    ``max_bucket_size`` is the hot-bucket guard for the 100 TB regime:
    a band key shared by b documents yields b·(b−1)/2 candidate pairs,
    so one boilerplate-heavy bucket (empty docs, licence headers) can
    dominate the whole job quadratically.  Setting a cap drops buckets
    above it BEFORE the self-join (pairs within dropped buckets can
    still surface via the doc's other bands — the standard production
    trade: bounded work per bucket for a small recall loss on
    mega-clusters, which exact dedup catches anyway).  Default None
    keeps exact LSH semantics (and oracle parity).

    Pair-dedup formulation note (round-14 optimization pass): two
    shapes of the "emit each colliding pair once" step were measured at
    sf0.1 — this ``.distinct()`` (partial agg over the 21.6M collision
    rows, one 7.6M-pair Exchange, final agg) and a shuffle-free
    first-colliding-band filter (each band row carries the doc's 8 band
    keys; a pair is emitted only where no earlier band also collides).
    The filter variant lost BOTH ways: with higher-order array
    functions it ran interpreted (no codegen) at 10× the cost; spelled
    as flat codegen-able CASE comparisons it was still ~1.2× slower —
    the distinct's map-side partial aggregation shrinks the stream
    before the exchange, while the filter pays 8 carried md5 strings
    per row through the join on top of the same 21.6M-row stream.
    The distinct stays; see OPTIMIZATION_r14.md.
    """
    all_bands = band_table(signatures, bands=bands, rows_per_band=rows_per_band)
    if max_bucket_size is not None:
        # one extra key-shuffle to size buckets; the window shares the
        # (band_id, band_key) partitioning the join needs anyway
        from pyspark.sql import Window as W

        w = W.partitionBy("band_id", "band_key")
        all_bands = (
            all_bands.withColumn("_bsz", F.count("*").over(w))
            .filter(F.col("_bsz") <= max_bucket_size)
            .drop("_bsz")
        )
    a = all_bands.alias("a")
    b = all_bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .distinct()
    )


def hashed_token_sets(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, toks) with the h60-encoded distinct-token array per doc
    — the compact verify-side representation ``jaccard_pairs`` uses for
    candidate scoring, factored out so a persisted dedup index can
    store it once instead of re-deriving it from text at every probe."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.expr(
            f"transform({distinct_tokens(SPARK.quote(text_col))}, _x -> {h60('j:', '_x')})"
        ).alias("toks"),
    )


def minhash_index_frames(
    history: DataFrame,
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame]:
    """The two frames a persistent MinHash/LSH dedup index stores:
    ``(bands, sets)`` — (doc_id, band_id, band_key) LSH band rows and
    (doc_id, toks) hashed token sets for the verify step.

    Build-once/probe-many split (mirrors the IVF-PQ persisted index,
    queries/training.py, and the STREAMING band index,
    streaming/neardup.py, in batch form): signature computation over
    history runs once at index-build time; every later batch LSH-joins
    against the stored band table (:func:`minhash_probe`) without
    touching history text again.  At 100 TB the band table is written
    bucketed by ``band_key`` (io.write_bucketed) so probe joins
    co-locate without shuffling the index side.
    """
    # persist: band_table fans the signature frame into ``bands``
    # union branches — unpersisted, the whole sig build (explode +
    # vocab join + k-min agg) executes once per band
    sigs = _persist_once(
        minhash_signatures(history, k=k, id_col=id_col, text_col=text_col)
    )
    bands_df = band_table(sigs, bands=bands, rows_per_band=k // bands)
    sets_df = hashed_token_sets(history, id_col=id_col, text_col=text_col)
    return bands_df, sets_df


def minhash_probe(
    new_docs: DataFrame,
    index_bands: DataFrame,
    index_sets: DataFrame,
    threshold: float = 0.8,
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_sets: bool = True,
    broadcast_bands: bool = True,
) -> DataFrame:
    """Near-dup pairs (new_id, hist_id, jaccard) between a NEW batch and
    a persisted MinHash index — signatures are computed for the batch
    only; history signatures come from ``index_bands`` as stored.

    Scale shape: the batch band table (batch_size × bands rows) is the
    small side of the candidate join — it broadcasts against the
    bucketed index bands (no shuffle on the index side).  The candidate
    list is bounded by true band collisions (never a cross join), and
    — crucially for a long-lived index — the verify stage is bounded by
    CANDIDATES, not history: ``index_sets`` is semi-joined down to the
    distinct candidate ``hist_id``s before its broadcast, so the
    broadcast grows with the batch's collision count while the index
    itself can grow without bound.  Both (pruned) set tables then
    broadcast so the candidate list — the by-far-largest frame — never
    shuffles, the same trade :func:`jaccard_pairs` documents (measured:
    a shuffle join of 2M+ wide candidate rows against the index sets
    cost more than the entire full-corpus LSH pass).

    Escape hatches for the extremes: ``broadcast_sets=False`` shuffles
    the verify joins (still candidate-pruned) when even the
    candidate-bounded set tables exceed executor memory;
    ``broadcast_bands=False`` shuffles the candidate join for probe
    BATCHES too large to broadcast (ADVICE r10 — previously the batch
    band table broadcast unconditionally).  The exact integer threshold
    predicate matches :func:`jaccard_pairs` bit-for-bit on every path,
    so probing an index built from the same corpus half reproduces the
    cross-half LSH pairs exactly (oracle-verified).
    """
    num, den = _rational_threshold(threshold)
    # persist: the batch sig build would otherwise run once per band
    # branch of band_table (8x) — same rule as minhash_index_frames
    sigs = _persist_once(
        minhash_signatures(new_docs, k=k, id_col=id_col, text_col=text_col)
    )
    new_bands = band_table(sigs, bands=bands, rows_per_band=k // bands)
    n = new_bands.alias("n")
    if broadcast_bands:
        n = F.broadcast(n)
    # persist: cand feeds BOTH the hist_id semi-join prune and the
    # verify join — unpersisted, the band join would execute twice
    # (duplicate_join_subtrees lint)
    cand = _persist_once(
        n.join(index_bands.alias("h"), ["band_id", "band_key"])
        .filter(F.col("n.doc_id") != F.col("h.doc_id"))
        .select(
            F.col("n.doc_id").alias("new_id"),
            F.col("h.doc_id").alias("hist_id"),
        )
        .distinct()
    )
    # NOT persisted (round-14 note): each set table feeds exactly ONE
    # verify-join side, so persisting them would not remove any
    # duplicate work from a cold invocation — it would only move real
    # per-run cost into a warm-up, which is caching, not optimization
    # (the line the bench's cache accounting draws: persist_once is for
    # frames with ≥2 consumers in one plan).
    new_sets = hashed_token_sets(new_docs, id_col=id_col, text_col=text_col)
    # candidate-bounded verify: only index docs that actually collided
    # participate — the semi-join's small side is candidate-distinct
    hit_hist = cand.select(F.col("hist_id").alias("doc_id")).distinct()
    if broadcast_sets:
        index_sets = F.broadcast(
            index_sets.join(F.broadcast(hit_hist), "doc_id", "left_semi")
        )
        new_sets = F.broadcast(new_sets)
    else:
        index_sets = index_sets.join(hit_hist, "doc_id", "left_semi")
    a = new_sets.alias("sa")
    b = index_sets.alias("sb")
    t1, t2 = F.col("sa.toks"), F.col("sb.toks")
    n1, n2 = F.size(t1).cast("long"), F.size(t2).cast("long")
    n_common = F.size(F.array_intersect(t1, t2)).cast("long")
    size_ok = F.lit(den + num) * F.least(n1, n2) >= F.lit(num) * (n1 + n2)
    hit = size_ok & (F.lit(den + num) * n_common >= F.lit(num) * (n1 + n2))
    jac = n_common.cast("double") / (n1 + n2 - n_common).cast("double")
    return (
        cand.join(a, F.col("new_id") == F.col("sa.doc_id"))
        .join(b, F.col("hist_id") == F.col("sb.doc_id"))
        .filter(hit)
        .select("new_id", "hist_id", jac.alias("jaccard"))
    )


def minhash_near_duplicates(
    docs: DataFrame,
    threshold: float = 0.8,
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_sets: bool = True,
    collapse_identical: bool = False,
) -> DataFrame:
    """MinHash->LSH->exact-verify near-dup pairs (the scale-path dedup).

    The signature table feeds both sides of the LSH band self-join AND
    repeated operator invocations on the same input, so it is persisted
    as deliberate plan-keyed memoization: Spark's cache manager keys
    entries by logical plan, so every later call with the same input
    reuses the one entry -- the cache is bounded by distinct inputs,
    not call count.  ``_persist_once`` checks the current storage level
    first, so re-invocation neither re-persists nor warns; drop the
    entry with ``.unpersist()`` on the signatures or
    ``spark.catalog.clearCache()``.  (localCheckpoint was measured ~8 s
    overhead per call here, with no cross-invocation reuse.)

    ``collapse_identical=True`` switches on identical-token-set
    collapsing (see :func:`_minhash_near_duplicates_collapsed`): every
    MinHash stage depends on a doc only through its distinct-token SET,
    so docs sharing a set are interchangeable — signature, LSH
    candidacy, and verified Jaccard are computed once per distinct set
    and the pair list is expanded back to member documents.  Output is
    IDENTICAL to the plain path (tests assert it); cost drops
    quadratically with the collapse factor, which on templated web
    corpora (boilerplate pages, near-empty docs) is routinely 2-10x —
    the difference between a feasible and an infeasible 100 TB pass.
    """
    if collapse_identical:
        return _minhash_near_duplicates_collapsed(
            docs, threshold, k, bands, id_col, text_col, broadcast_sets
        )
    sigs = _persist_once(
        minhash_signatures(docs, k=k, id_col=id_col, text_col=text_col)
    )
    cands = lsh_candidates(sigs, bands=bands, rows_per_band=k // bands)
    return jaccard_pairs(
        docs,
        threshold=threshold,
        id_col=id_col,
        text_col=text_col,
        candidates=cands,
        broadcast_sets=broadcast_sets,
    )


def _minhash_near_duplicates_collapsed(
    docs: DataFrame,
    threshold: float,
    k: int,
    bands: int,
    id_col: str,
    text_col: str,
    broadcast_sets: bool,
) -> DataFrame:
    """Identical-token-set collapse of the MinHash pipeline.

    Correctness argument (every step exact, not approximate):
      * the signature is a function of the distinct-token set alone, so
        set-identical docs have identical signatures;
      * LSH candidacy (some band equal) therefore holds for a member
        pair iff it holds for the representative pair;
      * verified Jaccard of a member pair equals that of the rep pair;
      * within one set, Jaccard = 1 ≥ any threshold ≤ 1, and identical
        signatures always collide in every band, so ALL within-set
        member pairs are emitted — exactly as the plain path does.
    NULL-text docs produce no token rows in the plain path (explode of a
    null array) and are excluded here by the ``size > 0`` guard (size of
    null is -1); empty-STRING docs carry the one-element set {''} in
    both paths and pair normally.
    """
    from pyspark.sql import Window as W

    toks = F.expr(distinct_tokens(SPARK.quote(text_col)))
    keyed = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(text_col).alias("_text"),
        F.md5(F.to_json(F.array_sort(toks))).alias("_set_key"),
        F.size(toks).alias("_n_toks"),
    ).filter(F.col("_n_toks") > 0)
    members = _persist_once(keyed.select("doc_id", "_set_key"))
    w_rep = W.partitionBy("_set_key").orderBy("doc_id")
    reps = (
        keyed.withColumn("_rn", F.row_number().over(w_rep))
        .filter(F.col("_rn") == 1)
        .select("doc_id", F.col("_text").alias(text_col))
    )
    rep_pairs = minhash_near_duplicates(
        reps,
        threshold=threshold,
        k=k,
        bands=bands,
        id_col="doc_id",
        text_col=text_col,
        broadcast_sets=broadcast_sets,
        collapse_identical=False,
    )
    rep_key = members.select(
        F.col("doc_id").alias("_rid"), F.col("_set_key").alias("_rkey")
    )
    m1 = members.select(F.col("_set_key").alias("_k1"), F.col("doc_id").alias("_m1"))
    m2 = members.select(F.col("_set_key").alias("_k2"), F.col("doc_id").alias("_m2"))
    # member tables are corpus-sized — plain equi-joins (AQE converts to
    # broadcast when they turn out small; at 100 TB they stay shuffled)
    cross = (
        rep_pairs
        .join(rep_key, F.col("d1") == F.col("_rid"))
        .select(F.col("_rkey").alias("_k1"), "d2", "jaccard")
        .join(rep_key, F.col("d2") == F.col("_rid"))
        .select("_k1", F.col("_rkey").alias("_k2"), "jaccard")
        .join(m1, "_k1")
        .join(m2, "_k2")
        .select(
            F.least("_m1", "_m2").alias("d1"),
            F.greatest("_m1", "_m2").alias("d2"),
            "jaccard",
        )
    )
    within = (
        m1.join(
            m2,
            (F.col("_k1") == F.col("_k2")) & (F.col("_m1") < F.col("_m2")),
        )
        .select(
            F.col("_m1").alias("d1"),
            F.col("_m2").alias("d2"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    return cross.unionByName(within)


def simhash(
    docs: DataFrame,
    bits: int = SIMHASH_BITS,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Weighted SimHash fingerprint (token counts as weights).

    For each bit b: sum +count/−count over tokens by hash bit, sign
    gives the fingerprint bit.  One groupBy(doc, token) + one
    groupBy(doc) with ``bits`` conditional sums — all map-side
    combinable.
    """
    tok = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(F.expr(tokens(SPARK.quote(text_col)))).alias("token")
    )
    tokcnt = tok.groupBy("doc_id", "token").agg(F.count("*").alias("cnt"))
    # hash each vocabulary term once and join back — md5 work scales with
    # distinct tokens, not corpus size (same pattern as minhash_signatures;
    # inlining h60 into all `bits` sums would recompute it per bit per row)
    vocab = tok.select("token").distinct().withColumn("h", F.expr(h60("s:", "token")))
    tokcnt = tokcnt.join(vocab, "token")
    bit_sums = [
        F.sum(
            F.when(
                F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, F.col("cnt")
            ).otherwise(-F.col("cnt"))
        ).alias(f"b{b}")
        for b in range(bits)
    ]
    per_doc = tokcnt.groupBy("doc_id").agg(*bit_sums)
    fp: Column = F.lit(0).cast("long")
    for b in range(bits):
        fp = fp + F.when(F.col(f"b{b}") > 0, F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return per_doc.select("doc_id", fp.alias("simhash"))


def simhash_near_duplicates(
    docs: DataFrame,
    max_hamming: int = 6,
    bits: int = SIMHASH_BITS,
    band_bits: int = SIMHASH_BAND_BITS,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """SimHash near-dup pairs: candidates share one ``band_bits`` slice
    (pigeonhole guarantees recall for hamming < bits/band_bits), then
    exact Hamming ≤ max_hamming verification."""
    # plan-keyed memoization (see minhash_near_duplicates): reused by both
    # sides of the band self-join and across invocations, never re-persisted
    fps = _persist_once(simhash(docs, bits=bits, id_col=id_col, text_col=text_col))
    n_bands = bits // band_bits
    mask = (1 << band_bits) - 1
    bands = None
    for j in range(n_bands):
        part = fps.select(
            "doc_id",
            "simhash",
            F.lit(j).alias("band_id"),
            F.shiftright(F.col("simhash"), j * band_bits).bitwiseAND(F.lit(mask)).alias("band_key"),
        )
        bands = part if bands is None else bands.unionByName(part)
    a = bands.alias("a")
    b = bands.alias("b")
    hamming = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    ).cast("long")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("d1"),
            F.col("b.doc_id").alias("d2"),
            hamming.alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def containment_pairs(
    docs: DataFrame,
    threshold: float = 0.9,
    min_shingles: int = 5,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    candidates: DataFrame | None = None,
    broadcast_sets: bool = True,
) -> DataFrame:
    """Directional shingle-set containment ``|A∩B| / |A| ≥ threshold``:
    finds documents mostly CONTAINED in another (quotes, excerpts,
    boilerplate wrappers) that symmetric Jaccard misses — a 50-token
    quote inside a 5000-token article has Jaccard ≈ 0.01 but
    containment 1.0.  Output is (src, dst, containment): src's n-word
    shingles are inside dst.  Shingles, not tokens: containment means
    shared SEQUENCES, so a small shared vocabulary doesn't make
    everything "contained" in everything.

    One unordered co-occurrence join scores both directions; the
    threshold is the exact rational predicate ``den·common ≥ num·|A|``
    so the boundary is bit-identical cross-engine.  ``min_shingles``
    drops trivially-contained tiny docs.  Same scale posture as
    :func:`ngram_jaccard_pairs` — shingle inverted-index self-join is
    sparse (docs only meet on an exact shared n-word sequence).

    At web scale pass ``candidates`` (d1 < d2 pairs, e.g. from
    :func:`lsh_candidates`): each pair is then verified against compact
    per-doc h60-encoded shingle-set arrays (whole-stage-codegen
    ``array_intersect``, no shingle explosion), so cost scales with
    |candidates| × shingles-per-doc and never with global shingle
    co-occurrence — the same verify shape as :func:`jaccard_pairs`'s
    candidates path.  The set table is linear and small; it broadcasts
    so the candidate side never shuffles (``broadcast_sets=False``
    falls back to a shuffle join for corpora whose set table exceeds
    executor memory).
    """
    num, den = _rational_threshold(threshold)
    if candidates is not None:
        sets = docs.select(
            F.col(id_col).alias("doc_id"), F.expr(tokens(SPARK.quote(text_col))).alias("l")
        ).select(
            "doc_id", word_shingles(F.col("l"), n).alias("sh")
        ).select(
            "doc_id", F.expr(f"transform(sh, _x -> {h60('c:', '_x')})").alias("toks")
        )
        # plan-keyed memoization: the shingle-set table is linear and
        # small but its h60-per-shingle build is the fixed cost of every
        # invocation; persisting keys it by input plan (see
        # functions/caching.persist_once)
        sets = persist_once(sets)
        if broadcast_sets:
            sets = F.broadcast(sets)
        a, b = sets.alias("sa"), sets.alias("sb")
        t1, t2 = F.col("sa.toks"), F.col("sb.toks")
        n1, n2 = F.size(t1).cast("long"), F.size(t2).cast("long")
        n_common = F.size(F.array_intersect(t1, t2)).cast("long")
        joined = (
            candidates.join(a, F.col("d1") == F.col("sa.doc_id"))
            .join(b, F.col("d2") == F.col("sb.doc_id"))
            .select(
                "d1", "d2", n_common.alias("n_common"),
                n1.alias("n1"), n2.alias("n2"),
            )
        )
        return _containment_directions(joined, num, den, min_shingles)
    tok = (
        docs.select(F.col(id_col).alias("doc_id"), F.expr(tokens(SPARK.quote(text_col))).alias("l"))
        .filter(F.size("l") >= n)
        .select("doc_id", F.explode(word_shingles(F.col("l"), n)).alias("token"))
    )
    # persisted: joined twice below (s1/s2 aliases), see jaccard_pairs
    sizes = _persist_once(tok.groupBy("doc_id").agg(F.count("*").alias("n_tokens")))
    ta = tok.alias("ta")
    tb = tok.alias("tb")
    common = (
        ta.join(
            tb,
            (F.col("ta.token") == F.col("tb.token"))
            & (F.col("ta.doc_id") < F.col("tb.doc_id")),
        )
        .groupBy(F.col("ta.doc_id").alias("d1"), F.col("tb.doc_id").alias("d2"))
        .agg(F.count("*").alias("n_common"))
    )
    joined = (
        common.join(sizes.alias("s1"), F.col("d1") == F.col("s1.doc_id"))
        .join(sizes.alias("s2"), F.col("d2") == F.col("s2.doc_id"))
        .select(
            "d1", "d2", "n_common",
            F.col("s1.n_tokens").alias("n1"),
            F.col("s2.n_tokens").alias("n2"),
        )
    )
    return _containment_directions(joined, num, den, min_shingles)


def _containment_directions(
    joined: DataFrame, num: int, den: int, min_shingles: int
) -> DataFrame:
    """Score both directions of (d1, d2, n_common, n1, n2) rows with the
    exact rational containment predicate; emit (src, dst, containment).

    Single pass: the two directions are stacked with ``inline`` so the
    upstream join (and its per-pair ``array_intersect``) executes ONCE
    — a union of two filters over the same unpersisted join would
    recompute it per branch, doubling the verify cost (measured 16 s →
    8 s on the sf0.1 candidate set).  Row order within the result
    matches no particular direction ordering; consumers sort.
    """
    stacked = joined.select(
        "n_common",
        F.inline(
            F.array(
                F.struct(
                    F.col("d1").alias("src"),
                    F.col("d2").alias("dst"),
                    F.col("n1").alias("n_src"),
                ),
                F.struct(
                    F.col("d2").alias("src"),
                    F.col("d1").alias("dst"),
                    F.col("n2").alias("n_src"),
                ),
            )
        ),
    )
    return (
        stacked.filter(
            (F.col("n_src") >= F.lit(min_shingles))
            & (F.lit(den) * F.col("n_common") >= F.lit(num) * F.col("n_src"))
        )
        .select(
            "src",
            "dst",
            (F.col("n_common").cast("double") / F.col("n_src").cast("double"))
            .alias("containment"),
        )
    )
