"""Training-corpus construction operators: the passes between "cleaned
corpus" and "tokens on the training cluster".

Complements ``queries/llm.py`` (dedup/quality/language primitives) and
``queries/pipeline.py`` (composed cleaning) with the *packaging* side of
a corpus build: repetition-based quality gates (Gopher-style),
benchmark-contamination screening, deterministic sharding, token-budget
sequence packing, stratified sampling, and an exact quantized k-means
over the embedding table.

Scale shapes (the 100 TB contract):
- every per-document metric is a narrow projection computed inside
  whole-stage codegen (no Python, no explode where an array fold works);
- contamination broadcasts the *benchmark* shingle set (benchmarks are
  tiny by construction — MMLU-sized, not corpus-sized), so the corpus
  side is scanned exactly once with no shuffle before the per-doc agg;
- packing windows partition by shard (thousands of independent groups),
  never globally;
- k-means broadcasts k×dim centroids and shuffles only on
  (vec_id|cluster_id, dim) aggregation keys.

All arithmetic follows the exact cross-engine rules in
``queries/_util``: integer counts, single IEEE divisions, md5-derived
``h60`` hashing — every query here is hash-verified against DuckDB.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from columnar_analytics_engine_spark.functions import text as X
from columnar_analytics_engine_spark.functions.caching import persist_once as _persist_once
from columnar_analytics_engine_spark.functions.dialect import DUCKDB, SPARK, Dialect
from columnar_analytics_engine_spark.functions.hashing import (
    gram_hash_array,
    h60,
    token_hash_structs,
)
from columnar_analytics_engine_spark.functions.similarity import cosine, with_norms
from columnar_analytics_engine_spark.queries._util import QuerySpec, t


# ---------------------------------------------------------------------------
# quality: repetition filters (Gopher-style)
# ---------------------------------------------------------------------------

def _bigrams(l):  # noqa: ANN001 - Column in, Column out
    """Adjacent-token bigrams of an array column (1-based element_at).
    Guarded: sequence(1, stop) DESCENDS through index 0 when stop < 1
    (see functions/hashing.py), so 0/1-token docs yield an empty array
    instead of an INVALID_INDEX_OF_ZERO error."""
    grams = F.transform(
        F.sequence(F.lit(1), F.size(l) - 1),
        lambda i: F.concat_ws(" ", F.element_at(l, i), F.element_at(l, i + 1)),
    )
    return F.when(F.size(l) >= 2, grams).otherwise(F.array().cast("array<string>"))


def quality_repetition_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition metrics with a keep/drop verdict — the
    Gopher/C4 family of quality rules (duplicate-token fraction, most-
    frequent-token fraction, duplicate-bigram fraction, mean token
    length) computed as exact integer ratios.

    Every metric is an array fold over the token array — one projection,
    no explode, no shuffle; the whole report is map-side until the
    (absent) final aggregation.  At 100 TB this runs at scan speed.
    """
    docs = t(spark, sf_dir, "documents")
    # Materialize the token array in its own projection: referencing the
    # split() expression inside array lambdas would re-inline (and
    # re-evaluate) the regex split per element_at call — measured 19×
    # slower at sf0.1.  A named column is computed once per row.
    toks = docs.select(
        "doc_id", F.col("text"), F.expr(X.tokens("text")).alias("l")
    )
    l = F.col("l")
    n = F.size(l).cast("long")
    n_distinct = F.size(F.array_distinct(l)).cast("long")
    # occurrences of the most frequent token: max over distinct tokens of
    # the count of equal elements (array fold — stays in codegen)
    top_cnt = F.array_max(
        F.transform(
            F.array_distinct(l),
            lambda tk: F.size(F.filter(l, lambda x: x == tk)),
        )
    ).cast("long")
    bg = _bigrams(l)
    n_bg = F.size(bg).cast("long")
    n_bg_distinct = F.size(F.array_distinct(bg)).cast("long")
    dup_token_frac = F.lit(1.0) - n_distinct.cast("double") / n.cast("double")
    top_token_frac = top_cnt.cast("double") / n.cast("double")
    dup_bigram_frac = F.lit(1.0) - n_bg_distinct.cast("double") / n_bg.cast("double")
    mean_token_len = X.non_ws_char_count(F.col("text")).cast("double") / n.cast("double")
    keep = (
        (n >= 20)
        & (top_token_frac <= F.lit(0.12))
        & (dup_bigram_frac <= F.lit(0.05))
        & (mean_token_len >= F.lit(3.0))
    )
    return toks.filter(n >= 2).select(
        "doc_id",
        n.alias("n_tokens"),
        dup_token_frac.alias("dup_token_frac"),
        top_token_frac.alias("top_token_frac"),
        dup_bigram_frac.alias("dup_bigram_frac"),
        mean_token_len.alias("mean_token_len"),
        keep.alias("keep"),
    )


_SQL_QUALITY_REPETITION = f"""
WITH f AS (
  SELECT doc_id, {X.tokens('text', DUCKDB)} AS l FROM documents
),
m AS (
  SELECT doc_id,
         CAST(len(l) AS BIGINT) AS n,
         CAST(len(list_distinct(l)) AS BIGINT) AS nd,
         CAST(list_max(list_transform(list_distinct(l),
              tk -> len(list_filter(l, x -> x = tk)))) AS BIGINT) AS topc,
         CAST(len(l) - 1 AS BIGINT) AS nbg,
         CAST(len(list_distinct(list_transform(range(1, len(l)),
              i -> l[i] || ' ' || l[i+1]))) AS BIGINT) AS ndbg,
         CAST(LENGTH(regexp_replace(trim(text), '\\s+', '', 'g')) AS BIGINT) AS nchars
  FROM f JOIN documents USING (doc_id)
  WHERE len(l) >= 2
)
SELECT doc_id,
       n AS n_tokens,
       1.0 - CAST(nd AS DOUBLE) / CAST(n AS DOUBLE) AS dup_token_frac,
       CAST(topc AS DOUBLE) / CAST(n AS DOUBLE) AS top_token_frac,
       1.0 - CAST(ndbg AS DOUBLE) / CAST(nbg AS DOUBLE) AS dup_bigram_frac,
       CAST(nchars AS DOUBLE) / CAST(n AS DOUBLE) AS mean_token_len,
       (n >= 20
        AND CAST(topc AS DOUBLE) / CAST(n AS DOUBLE) <= 0.12
        AND 1.0 - CAST(ndbg AS DOUBLE) / CAST(nbg AS DOUBLE) <= 0.05
        AND CAST(nchars AS DOUBLE) / CAST(n AS DOUBLE) >= 3.0) AS keep
FROM m
"""

# ---------------------------------------------------------------------------
# contamination: benchmark n-gram overlap
# ---------------------------------------------------------------------------

_CONTAM_N = 5          # shingle width
_CONTAM_BENCH_MOD = 100  # doc_id % MOD == 0 stands in for the benchmark set


def contamination_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination screen: for every corpus document, the
    fraction of its distinct 5-gram shingles that also occur in the
    "benchmark" set (stand-in: ``doc_id % 100 == 0`` — in production the
    held-out eval suites).

    Scale shape: the benchmark shingle table is tiny by construction, so
    it is BROADCAST and the 100 TB corpus side is scanned once; the only
    shuffle is the per-doc groupBy.  Shingles are hashed numerically —
    one md5 per token, dual polynomial rolling hash per 5-gram window
    (functions/hashing.gram_hash_array), no per-window string build —
    and join on the 62-bit hash; at real scale the benchmark side ships
    as a bloom-ish hash set, not strings.
    """
    docs = t(spark, sf_dir, "documents")
    # token array materialized once (see quality_repetition_filters)
    toks = docs.select("doc_id", F.expr(X.tokens("text")).alias("l")).filter(
        F.size("l") >= _CONTAM_N
    )
    hashed = toks.select("doc_id", F.expr(token_hash_structs("l")).alias("hl"))
    sh = F.array_distinct(F.expr(gram_hash_array("hl", _CONTAM_N)))
    shingled = hashed.select("doc_id", F.explode(sh).alias("gh"))
    bench = (
        shingled.filter(F.col("doc_id") % _CONTAM_BENCH_MOD == 0)
        .select("gh").distinct()
        .withColumn("_hit", F.lit(1))
    )
    corpus = shingled.filter(F.col("doc_id") % _CONTAM_BENCH_MOD != 0)
    ov = (
        corpus.join(F.broadcast(bench), "gh", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.count("_hit").alias("n_contaminated"),
        )
    )
    frac = F.col("n_contaminated").cast("double") / F.col("n_shingles").cast("double")
    return ov.select(
        "doc_id",
        "n_shingles",
        "n_contaminated",
        frac.alias("contamination_frac"),
        (frac >= F.lit(0.2)).alias("is_contaminated"),
    )


_SQL_CONTAMINATION = f"""
WITH f AS (
  SELECT doc_id, {X.tokens('text', DUCKDB)} AS l FROM documents
  WHERE len({X.tokens('text', DUCKDB)}) >= {_CONTAM_N}
),
h AS (
  SELECT doc_id, {token_hash_structs('l', DUCKDB)} AS hl FROM f
),
sh AS (
  SELECT doc_id,
         unnest(list_distinct({gram_hash_array('hl', _CONTAM_N, DUCKDB)})) AS gh
  FROM h
),
bench AS (SELECT DISTINCT gh FROM sh WHERE doc_id % {_CONTAM_BENCH_MOD} = 0),
ov AS (
  SELECT s.doc_id,
         COUNT(*) AS n_shingles,
         COUNT(b.gh) AS n_contaminated
  FROM sh s LEFT JOIN bench b ON s.gh = b.gh
  WHERE s.doc_id % {_CONTAM_BENCH_MOD} != 0
  GROUP BY 1
)
SELECT doc_id, n_shingles, n_contaminated,
       CAST(n_contaminated AS DOUBLE) / CAST(n_shingles AS DOUBLE) AS contamination_frac,
       CAST(n_contaminated AS DOUBLE) / CAST(n_shingles AS DOUBLE) >= 0.2 AS is_contaminated
FROM ov
"""

# ---------------------------------------------------------------------------
# sharding + sequence packing
# ---------------------------------------------------------------------------

_N_SHARDS = 16
_SEQ_LEN = 2048


def _shard(d: Dialect = SPARK, doc_id: str = "doc_id") -> str:
    """The corpus shard rule: ``h60('shard:', doc_id) % _N_SHARDS``."""
    return f"{h60('shard:', f'CAST({doc_id} AS STRING)', d)} % {_N_SHARDS}"


def shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-sharding report: each document lands in
    ``h60(doc_id) % 16``; per shard, the doc/token/char volume.  The
    write-side contract of a corpus build — shards are stable across
    runs and engines, and the report shows the hash balances them.
    One groupBy; at scale this is the pre-write repartition key."""
    docs = t(spark, sf_dir, "documents")
    shard = F.expr(_shard()).alias("shard")
    return (
        docs.select(
            shard,
            F.expr(X.token_count("text")).alias("n_tok"),
            F.col("n_chars").cast("long").alias("nc"),
            "doc_id",
        )
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
            F.sum("nc").alias("total_chars"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .orderBy("shard")
    )


_SQL_SHARD = f"""
SELECT {_shard(DUCKDB)} AS shard,
       COUNT(*) AS n_docs,
       CAST(SUM(len({X.tokens('text', DUCKDB)})) AS BIGINT) AS total_tokens,
       CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS total_chars,
       MIN(doc_id) AS min_doc_id,
       MAX(doc_id) AS max_doc_id
FROM documents
GROUP BY 1 ORDER BY 1
"""


def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing: within each shard, documents are
    laid out in doc_id order and cut into 2048-token training sequences
    by starting offset (a document begins in the sequence its cumulative
    start offset falls into).  Output is the per-sequence manifest:
    docs, token fill, and fill fraction.

    The window partitions by shard — thousands of independent groups at
    scale, never a global sort.  fill_frac divides by 2048 (a power of
    two), a single exact IEEE op.
    """
    docs = t(spark, sf_dir, "documents")
    shard = F.expr(_shard()).alias("shard")
    base = docs.select(shard, "doc_id", F.expr(X.token_count("text")).alias("n_tok"))
    w = (
        W.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    packed = base.withColumn(
        "seq_id",
        F.floor((F.sum("n_tok").over(w) - F.col("n_tok")) / F.lit(_SEQ_LEN)).cast("long"),
    )
    return (
        packed.groupBy("shard", "seq_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("seq_tokens"),
            F.min("doc_id").alias("first_doc_id"),
            F.max("doc_id").alias("last_doc_id"),
        )
        .withColumn(
            "fill_frac", F.col("seq_tokens").cast("double") / F.lit(float(_SEQ_LEN))
        )
        .orderBy("shard", "seq_id")
    )


_SQL_PACKING = f"""
WITH base AS (
  SELECT {_shard(DUCKDB)} AS shard,
         doc_id,
         {X.token_count('text', DUCKDB)} AS n_tok
  FROM documents
),
packed AS (
  SELECT shard, doc_id, n_tok,
         CAST(FLOOR((SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     - n_tok) / {_SEQ_LEN}) AS BIGINT) AS seq_id
  FROM base
)
SELECT shard, seq_id,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS seq_tokens,
       MIN(doc_id) AS first_doc_id,
       MAX(doc_id) AS last_doc_id,
       CAST(SUM(n_tok) AS DOUBLE) / {float(_SEQ_LEN)} AS fill_frac
FROM packed
GROUP BY 1, 2 ORDER BY 1, 2
"""

# ---------------------------------------------------------------------------
# stratified sampling
# ---------------------------------------------------------------------------

_STRAT_KEY = "lang || ':' || CAST(doc_id AS STRING)"
_STRATA_RATES = {"en": 50, "fr": 100, "es": 200, "de": 400, "zh": 800}  # per-mille


def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language stratified sample with deterministic hash gating:
    language ``lang`` keeps ``rate/1000`` of its documents, chosen by
    ``h60('strat:<lang>:', doc_id) % 1000 < rate``.  Unlike TABLESAMPLE,
    the choice is stable across runs, engines, and cluster sizes — the
    property a reproducible data mix needs.  Pure filter: no shuffle."""
    docs = t(spark, sf_dir, "documents")
    rate = F.create_map(
        *[F.lit(x) for kv in _STRATA_RATES.items() for x in kv]
    )[F.col("lang")]
    gate = F.expr(f"{h60('strat:', _STRAT_KEY)} % 1000")
    return (
        docs.filter(gate < F.coalesce(rate, F.lit(0)))
        .select("doc_id", "lang", "source", gate.alias("gate"))
    )


_SQL_STRATIFIED = f"""
SELECT doc_id, lang, source,
       {h60('strat:', _STRAT_KEY, DUCKDB)} % 1000 AS gate
FROM documents
WHERE {h60('strat:', _STRAT_KEY, DUCKDB)} % 1000
      < CASE lang {' '.join(f"WHEN '{k}' THEN {v}" for k, v in _STRATA_RATES.items())} ELSE 0 END
"""

# ---------------------------------------------------------------------------
# k-means over embeddings (quantized Lloyd, exact)
# ---------------------------------------------------------------------------

_KM_K = 8
_KM_ITERS = 2
_KM_SCALE = 1000  # component quantization grid (3 decimals)


def kmeans_embeddings_mllib(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-path twin of :func:`kmeans_embeddings` using Spark
    MLlib's distributed KMeans (k=8, seeded, 5 iterations).

    The exact quantized-Lloyd entry proves cross-engine correctness;
    this one exercises the library a real 100 TB job runs (k-means||
    init, DataFrame-native, model broadcast handled by MLlib).  Float
    centroid arithmetic is engine-internal, so the driver gets a
    rows-only check; tests/test_training.py pins cluster count and
    that its inertia is in the same range as the exact twin's.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    emb = t(spark, sf_dir, "embeddings").select(
        "vec_id", array_to_vector(F.col("embedding").cast("array<double>")).alias("features")
    )
    # MLlib training is eager (iterative jobs), so the empty-input guard
    # costs no extra laziness — fit() on zero rows throws in the JVM
    if emb.isEmpty():
        return spark.createDataFrame([], "cluster_id long, n_vectors long")
    model = KMeans(k=_KM_K, seed=42, maxIter=5).fit(emb)
    pred = model.transform(emb)
    return (
        pred.groupBy(F.col("prediction").cast("long").alias("cluster_id"))
        .agg(F.count("*").alias("n_vectors"))
        .orderBy("cluster_id")
    )


def kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantized-Lloyd k-means over the embedding table: components are
    quantized to a 1e-3 grid, so distances and centroid updates are
    *exact integer arithmetic* — the clustering is bit-reproducible on
    any engine (the DuckDB oracle replays both iterations).

    k=8, 2 Lloyd rounds, seeds = the k lowest vec_ids.  Per round:
    centroids (k×64 rows) are BROADCAST against the exploded vector
    table, distances reduce by (vec_id, cluster_id), the argmin is a
    struct-min groupBy (no window), and the update re-aggregates by
    (cluster_id, dim).  Shuffle keys stay per-vector/per-centroid —
    the canonical scalable Lloyd shape; iterations add plan depth, not
    new shuffle classes.  Output: per-cluster size + exact scaled
    inertia.
    """
    assigned = _km_final_assignment(_km_exploded(t(spark, sf_dir, "embeddings")))
    return (
        assigned.groupBy("cluster_id")
        .agg(F.count("*").alias("n_vectors"), F.sum("d").alias("inertia"))
        .orderBy("cluster_id")
    )


def _km_exploded(emb: DataFrame) -> DataFrame:
    """(vec_id, dim, vq): components quantized to the exact 1e-3 grid."""
    return emb.select(
        "vec_id", F.posexplode(F.col("embedding")).alias("dim", "val")
    ).select(
        "vec_id",
        "dim",
        F.round(F.col("val").cast("double") * F.lit(float(_KM_SCALE)))
        .cast("long")
        .alias("vq"),
    )


def _km_final_assignment(e: DataFrame) -> DataFrame:
    """The k-means loop (seeds = k lowest vec_ids, _KM_ITERS Lloyd
    rounds); returns the final (vec_id, cluster_id, d) assignment.

    The exploded table feeds TWO consumers per Lloyd round (distance
    join + centroid update) and every round's lineage references all
    prior rounds, so without materialization the final plan re-derives
    the explode+quantize ~2·iters+1 times and the cross-round chain
    re-executes combinatorially.  Persisting ``e`` (plan-keyed, shared
    by all three k-means queries) and each round's k×dims centroid
    frame bounds the whole loop to ~2 cached-``e`` passes per round —
    the canonical iterative-algorithm shape (cf. operators/clusters.py
    pointer jumping)."""
    e = _persist_once(e)
    cents = e.filter(F.col("vec_id") < _KM_K).select(
        F.col("vec_id").alias("cluster_id"), "dim", F.col("vq").alias("cq")
    )
    assigned = None
    for _ in range(_KM_ITERS):
        diff = F.col("vq") - F.col("cq")
        dists = (
            e.join(F.broadcast(cents), "dim")
            .groupBy("vec_id", "cluster_id")
            .agg(F.sum(diff * diff).alias("d"))
        )
        assigned = (
            dists.groupBy("vec_id")
            .agg(F.min(F.struct("d", "cluster_id")).alias("m"))
            .select("vec_id", F.col("m.cluster_id").alias("cluster_id"), F.col("m.d").alias("d"))
        )
        cents = _persist_once(
            assigned.join(e, "vec_id")
            .groupBy("cluster_id", "dim")
            .agg(
                F.round(
                    F.sum("vq").cast("double") / F.count("*").cast("double")
                )
                .cast("long")
                .alias("cq")
            )
        )
    return assigned


def _km_round_sql(e: str, cents: str, i: int) -> str:
    """One Lloyd round (distance → argmin → centroid update) as CTEs."""
    return f"""
d{i} AS (
  SELECT e.vec_id, c.cluster_id,
         CAST(SUM((e.vq - c.cq) * (e.vq - c.cq)) AS BIGINT) AS d
  FROM {e} e JOIN {cents} c ON e.dim = c.dim
  GROUP BY 1, 2
),
a{i} AS (
  SELECT vec_id, cluster_id, d FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cluster_id) AS rn
    FROM d{i}) x
  WHERE rn = 1
),
c{i} AS (
  SELECT a.cluster_id, e.dim,
         CAST(ROUND(CAST(SUM(e.vq) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS cq
  FROM a{i} a JOIN {e} e ON a.vec_id = e.vec_id
  GROUP BY 1, 2
)"""


# The Lloyd-loop CTE chain (e → c0 → rounds 1..2 → final assignment a2),
# shared by every oracle that replays the k-means assignment.
_SQL_KM_CTES = f"""e AS (
  SELECT vec_id,
         CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS dim,
         CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * {float(_KM_SCALE)}) AS BIGINT) AS vq
  FROM embeddings
),
c0 AS (
  SELECT vec_id AS cluster_id, dim, vq AS cq FROM e WHERE vec_id < {_KM_K}
),
{_km_round_sql('e', 'c0', 1)},
{_km_round_sql('e', 'c1', 2)}"""

_SQL_KMEANS = f"""
WITH {_SQL_KM_CTES}
SELECT cluster_id,
       COUNT(*) AS n_vectors,
       CAST(SUM(d) AS BIGINT) AS inertia
FROM a2
GROUP BY 1 ORDER BY 1
"""


# ---------------------------------------------------------------------------
# semantic dedup + cluster-balanced sampling (over the k-means assignment)
# ---------------------------------------------------------------------------

_SEM_THRESHOLD = 0.45
_CB_PER_CLUSTER = 10


def dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023,
    arXiv:2303.09540): k-means partitions the embedding space, and
    near-duplicate pairs are sought only WITHIN a cluster — the
    all-pairs O(N²) cosine screen becomes k independent O((N/k)²)
    blocks.

    Scale shape: the assignment reuses :func:`kmeans_embeddings`'s
    broadcast-Lloyd plan (centroids broadcast, shuffles keyed
    per-vector); the pair generation is a self-equi-join on
    ``cluster_id``, so the shuffle key is the cluster and cost is
    bounded by the largest cluster, not the corpus.  Raise k with
    corpus size (k ≈ N²/target_candidate_pairs) and the per-block
    quadratic stays constant while blocks parallelize.  Exact cosine
    runs only on within-cluster candidates.
    """
    emb = t(spark, sf_dir, "embeddings")
    asn = _km_final_assignment(_km_exploded(emb)).select("vec_id", "cluster_id")
    # persisted: n feeds BOTH sides of the cluster self-join — without
    # it the whole k-means assignment pipeline executes once per side
    # (duplicate_join_subtrees class)
    n = _persist_once(
        asn.join(
            with_norms(emb, "embedding").select("vec_id", "v", "sq_norm"), "vec_id"
        )
    )
    a = n.select(
        F.col("vec_id").alias("d1"),
        "cluster_id",
        F.col("v").alias("av"),
        F.col("sq_norm").alias("an"),
    )
    b = n.select(
        F.col("vec_id").alias("d2"),
        "cluster_id",
        F.col("v").alias("bv"),
        F.col("sq_norm").alias("bn"),
    )
    sim = cosine(F.col("av"), F.col("bv"), F.col("an"), F.col("bn"), 4)
    return (
        a.join(b, "cluster_id")
        .filter(F.col("d1") < F.col("d2"))
        .select("d1", "d2", "cluster_id", sim.alias("cos_sim"))
        .filter(F.col("cos_sim") >= _SEM_THRESHOLD)
    )


def sample_cluster_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced diversity sampling: the ``_CB_PER_CLUSTER``
    most-central vectors of every k-means cluster (ties broken by
    vec_id) — the standard recipe for building a diverse fine-tuning
    or eval subset instead of a frequency-biased uniform sample.

    The window partitions by ``cluster_id`` (k groups of ~N/k rows
    each, never a global sort); everything upstream is the shared
    broadcast-Lloyd assignment.
    """
    asn = _km_final_assignment(_km_exploded(t(spark, sf_dir, "embeddings")))
    w = W.partitionBy("cluster_id").orderBy("d", "vec_id")
    return (
        asn.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= _CB_PER_CLUSTER)
        .select("cluster_id", "vec_id", "d", "rn")
        .orderBy("cluster_id", "rn")
    )


_SQL_SEMANTIC = f"""
WITH {_SQL_KM_CTES},
n AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         list_dot_product(CAST(embedding AS DOUBLE[]),
                          CAST(embedding AS DOUBLE[])) AS sq_norm
  FROM embeddings
)
SELECT x.vec_id AS d1, y.vec_id AS d2, x.cluster_id,
       ROUND(list_dot_product(a.v, b.v)
             / (SQRT(a.sq_norm) * SQRT(b.sq_norm)), 4) AS cos_sim
FROM a2 x
JOIN a2 y ON x.cluster_id = y.cluster_id AND x.vec_id < y.vec_id
JOIN n a ON a.vec_id = x.vec_id
JOIN n b ON b.vec_id = y.vec_id
WHERE ROUND(list_dot_product(a.v, b.v)
            / (SQRT(a.sq_norm) * SQRT(b.sq_norm)), 4) >= {_SEM_THRESHOLD}
"""

_SQL_CLUSTER_SAMPLE = f"""
WITH {_SQL_KM_CTES}
SELECT cluster_id, vec_id, d, rn FROM (
  SELECT cluster_id, vec_id, d,
         CAST(ROW_NUMBER() OVER (PARTITION BY cluster_id
              ORDER BY d, vec_id) AS BIGINT) AS rn
  FROM a2) ranked
WHERE rn <= {_CB_PER_CLUSTER}
ORDER BY cluster_id, rn
"""


# ---------------------------------------------------------------------------
# product quantization (PQ) codes
# ---------------------------------------------------------------------------

_PQ_M = 4   # subspaces (64 dims → 4 × 16)
_PQ_SUB = 16
_PQ_K = 16  # codebook size per subspace (4-bit codes)


def pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization codes: each embedding is split into 4
    16-dim subvectors, each assigned to the nearest of 16 per-subspace
    codebook centroids (one quantized-Lloyd round from deterministic
    seeds) — the 4-bit-per-subspace compression that lets an ANN index
    hold billions of vectors in RAM.

    Same exactness contract as :func:`kmeans_embeddings` (integer grid,
    integer distances, exact centroid updates), so codes are
    bit-reproducible and the oracle replays the whole training+encode.
    All 4 subspaces train in ONE plan: centroids are keyed by
    (subspace, code) and broadcast; nothing iterates per subspace.
    Output: (vec_id, subspace, code, d) — d the exact scaled distance.
    """
    emb = t(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id", F.posexplode(F.col("embedding")).alias("dim", "val")
    ).select(
        "vec_id",
        "dim",
        (F.col("dim") / _PQ_SUB).cast("int").alias("subspace"),
        F.round(F.col("val").cast("double") * F.lit(float(_KM_SCALE)))
        .cast("long")
        .alias("vq"),
    )
    cents = e.filter(F.col("vec_id") < _PQ_K).select(
        F.col("vec_id").alias("code"), "dim", F.col("vq").alias("cq")
    )

    def assign(c: DataFrame) -> DataFrame:
        diff = F.col("vq") - F.col("cq")
        dists = (
            e.join(F.broadcast(c), "dim")
            .groupBy("vec_id", "subspace", "code")
            .agg(F.sum(diff * diff).alias("d"))
        )
        return (
            dists.groupBy("vec_id", "subspace")
            .agg(F.min(F.struct("d", "code")).alias("m"))
            .select(
                "vec_id",
                "subspace",
                F.col("m.code").alias("code"),
                F.col("m.d").alias("d"),
            )
        )

    a0 = assign(cents)
    cents1 = (
        a0.join(e, ["vec_id", "subspace"])
        .groupBy("code", "dim")
        .agg(
            F.round(F.sum("vq").cast("double") / F.count("*").cast("double"))
            .cast("long")
            .alias("cq")
        )
    )
    return assign(cents1).orderBy("vec_id", "subspace")


def _pq_assign_sql(cents: str, i: int) -> str:
    return f"""
pd{i} AS (
  SELECT e.vec_id, e.subspace, c.code,
         CAST(SUM((e.vq - c.cq) * (e.vq - c.cq)) AS BIGINT) AS d
  FROM e JOIN {cents} c ON e.dim = c.dim
  GROUP BY 1, 2, 3
),
pa{i} AS (
  SELECT vec_id, subspace, code, d FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, subspace
                                 ORDER BY d, code) AS rn
    FROM pd{i}) x
  WHERE rn = 1
)"""


_SQL_PQ_CTES = f"""
WITH e AS (
  SELECT vec_id,
         CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS dim,
         CAST((generate_subscripts(embedding, 1) - 1) // {_PQ_SUB} AS INT) AS subspace,
         CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * {float(_KM_SCALE)}) AS BIGINT) AS vq
  FROM embeddings
),
pc0 AS (
  SELECT vec_id AS code, dim, vq AS cq FROM e WHERE vec_id < {_PQ_K}
),
{_pq_assign_sql('pc0', 0)},
pc1 AS (
  SELECT a.code, e.dim,
         CAST(ROUND(CAST(SUM(e.vq) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS cq
  FROM pa0 a JOIN e ON a.vec_id = e.vec_id AND a.subspace = e.subspace
  GROUP BY 1, 2
),
{_pq_assign_sql('pc1', 1)}"""

_SQL_PQ = f"""{_SQL_PQ_CTES}
SELECT vec_id, subspace, code, d FROM pa1 ORDER BY vec_id, subspace
"""

_PQ_TOPK = 10
_PQ_NQ = 5  # query vectors: vec_id < 5


def _pq_exploded(emb: DataFrame) -> DataFrame:
    """(vec_id, dim, subspace, vq): quantized per-dimension rows.

    Persisted with the same plan-keyed memoization as the MinHash
    signature table (operators/dedup._persist_once): codebook training,
    encoding, the ADC LUT, and IVF coarse assignment all rescan this
    plan — one cache entry per distinct input table serves them all
    (measured ~30% off both PQ search paths at sf0.1).
    """
    from columnar_analytics_engine_spark.functions.caching import persist_once as _persist_once

    return _persist_once(
        emb.select(
            "vec_id", F.posexplode(F.col("embedding")).alias("dim", "val")
        ).select(
            "vec_id",
            "dim",
            (F.col("dim") / _PQ_SUB).cast("int").alias("subspace"),
            F.round(F.col("val").cast("double") * F.lit(float(_KM_SCALE)))
            .cast("long")
            .alias("vq"),
        )
    )


def _pq_assign(e: DataFrame, c: DataFrame) -> DataFrame:
    """Nearest codebook entry per (vector, subspace) — broadcast join +
    exact integer distances, argmin via min(struct(d, code))."""
    diff = F.col("vq") - F.col("cq")
    dists = (
        e.join(F.broadcast(c), "dim")
        .groupBy("vec_id", "subspace", "code")
        .agg(F.sum(diff * diff).alias("d"))
    )
    return (
        dists.groupBy("vec_id", "subspace")
        .agg(F.min(F.struct("d", "code")).alias("m"))
        .select("vec_id", "subspace", F.col("m.code").alias("code"))
    )


def _pq_codebook(e: DataFrame) -> DataFrame:
    """One quantized-Lloyd round from deterministic seeds → the trained
    (code, dim, cq) codebook (same training pq_codes replays)."""
    cents = e.filter(F.col("vec_id") < _PQ_K).select(
        F.col("vec_id").alias("code"), "dim", F.col("vq").alias("cq")
    )
    # persisted (K*dims rows): every caller feeds the codebook to BOTH
    # the encoder and the LUT/probe build — unpersisted, the training
    # round executes once per consumer (duplicate_join_subtrees class)
    return _persist_once(
        _pq_assign(e, cents)
        .join(e, ["vec_id", "subspace"])
        .groupBy("code", "dim")
        .agg(
            F.round(F.sum("vq").cast("double") / F.count("*").cast("double"))
            .cast("long")
            .alias("cq")
        )
    )


def _pq_lut(e: DataFrame, cents1: DataFrame, n_queries: int) -> DataFrame:
    """Per-query ADC lookup table: exact partial distance from each
    query subvector to every codebook entry (queries × M × K rows)."""
    diff = F.col("vq") - F.col("cq")
    return (
        e.filter(F.col("vec_id") < n_queries)
        .withColumnRenamed("vec_id", "query_id")
        .join(F.broadcast(cents1), "dim")
        .groupBy("query_id", "subspace", "code")
        .agg(F.sum(diff * diff).alias("part"))
    )


def pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k search over PQ codes with asymmetric distance
    (ADC): each query precomputes a (subspace × code) lookup table of
    exact partial distances to the trained codebook; a candidate's
    distance is then 4 table lookups + adds, never touching the raw
    vectors — how a PQ index scans billions of codes at memory speed.

    Scale shape: the LUT is queries×4×16 rows — broadcast; the code
    table joins it and reduces by (query, candidate).  The 100 TB side
    (the codes) is scanned once with no shuffle before the reduce.
    Everything is exact integer arithmetic → full SQL oracle, including
    the approximation's misses (the oracle replays codebook training,
    encoding, LUT build, and scan).
    """
    e = _pq_exploded(t(spark, sf_dir, "embeddings"))
    cents1 = _pq_codebook(e)
    codes = _pq_assign(e, cents1)
    lut = _pq_lut(e, cents1, _PQ_NQ)
    scored = (
        codes.join(F.broadcast(lut), ["subspace", "code"])
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("part").alias("adc_dist"))
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    w = W.partitionBy("query_id").orderBy("adc_dist", "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= _PQ_TOPK)
        .select("query_id", "neighbor_id", "adc_dist", "rank")
    )


_IVF_LISTS = 8   # coarse quantizer cells
_IVF_PROBE = 2   # cells scanned per query


def similarity_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ approximate top-k — the standard billion-scale ANN index
    shape (coarse inverted lists + product-quantized codes, à la
    Jégou et al. / FAISS IVFPQ), as one exact-arithmetic Spark plan.

    Coarse stage: the 8 lowest-id vectors act as deterministic coarse
    centroids; every vector is assigned to its nearest cell (broadcast
    seeds, exact integer L2 on the quantized grid).  Each query scans
    only its 2 nearest cells, so the ADC stage touches ~probe/lists of
    the code table — the multiplier that makes PQ scans feasible when
    the corpus no longer fits a single scan budget.  Codes are encoded
    against the global codebook (IVF-Flat-PQ; residual encoding would
    change only the LUT inputs).

    Scale shape: coarse seeds, probe table, and ADC LUT are all tiny
    broadcasts; the code table is the only large side and it is
    filtered by probed cell BEFORE the per-(query, candidate) reduce.
    At deployment scale the codes would be written bucketed by
    ``list_id`` (io.write_bucketed) so a probe prunes whole files.
    Fully SQL-expressible: the oracle replays coarse assignment,
    codebook training, encoding, probing, and the LUT scan bit-for-bit.
    """
    e = _pq_exploded(t(spark, sf_dir, "embeddings"))
    seeds = e.filter(F.col("vec_id") < _IVF_LISTS).select(
        F.col("vec_id").alias("list_id"), "dim", F.col("vq").alias("sq")
    )
    sdiff = F.col("vq") - F.col("sq")
    # persisted ((N x lists)-row reduce): feeds BOTH the corpus cell
    # assignment and the query probe ranking — unpersisted, the full
    # exploded-table join runs per consumer (duplicate_join_subtrees)
    cell_dists = _persist_once(
        e.join(F.broadcast(seeds), "dim")
        .groupBy("vec_id", "list_id")
        .agg(F.sum(sdiff * sdiff).alias("d"))
    )
    assigned = (
        cell_dists.groupBy("vec_id")
        .agg(F.min(F.struct("d", "list_id")).alias("m"))
        .select("vec_id", F.col("m.list_id").alias("list_id"))
    )
    w_probe = W.partitionBy("vec_id").orderBy("d", "list_id")
    probes = (
        cell_dists.filter(F.col("vec_id") < _PQ_NQ)
        .withColumn("rn", F.row_number().over(w_probe))
        .filter(F.col("rn") <= _IVF_PROBE)
        .select(F.col("vec_id").alias("query_id"), "list_id")
    )
    cents1 = _pq_codebook(e)
    codes = _pq_assign(e, cents1)
    lut = _pq_lut(e, cents1, _PQ_NQ)
    candidates = assigned.join(F.broadcast(probes), "list_id").select(
        "vec_id", "query_id"
    )
    scored = (
        codes.join(candidates, "vec_id")
        .join(F.broadcast(lut), ["query_id", "subspace", "code"])
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("part").alias("adc_dist"))
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    w = W.partitionBy("query_id").orderBy("adc_dist", "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= _PQ_TOPK)
        .select("query_id", "neighbor_id", "adc_dist", "rank")
    )


_SQL_IVFPQ = f"""{_SQL_PQ_CTES},
cs AS (SELECT vec_id AS list_id, dim, vq AS sq FROM e WHERE vec_id < {_IVF_LISTS}),
cd AS (
  SELECT e.vec_id, s.list_id,
         CAST(SUM((e.vq - s.sq) * (e.vq - s.sq)) AS BIGINT) AS d
  FROM e JOIN cs s ON e.dim = s.dim
  GROUP BY 1, 2
),
ca AS (
  SELECT vec_id, list_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, list_id) AS rn
    FROM cd) x
  WHERE rn = 1
),
probes AS (
  SELECT vec_id AS query_id, list_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, list_id) AS rn
    FROM cd WHERE vec_id < {_PQ_NQ}) x
  WHERE rn <= {_IVF_PROBE}
),
codes AS (SELECT vec_id, subspace, code FROM pa1),
lut AS (
  SELECT e.vec_id AS query_id, e.subspace, c.code,
         CAST(SUM((e.vq - c.cq) * (e.vq - c.cq)) AS BIGINT) AS part
  FROM e JOIN pc1 c ON e.dim = c.dim
  WHERE e.vec_id < {_PQ_NQ}
  GROUP BY 1, 2, 3
),
cand AS (
  SELECT a.vec_id, p.query_id FROM ca a JOIN probes p ON a.list_id = p.list_id
),
scored AS (
  SELECT l.query_id, v.vec_id AS neighbor_id,
         CAST(SUM(l.part) AS BIGINT) AS adc_dist
  FROM codes v
  JOIN cand cn ON v.vec_id = cn.vec_id
  JOIN lut l ON l.query_id = cn.query_id
            AND l.subspace = v.subspace AND l.code = v.code
  GROUP BY 1, 2
)
SELECT query_id, neighbor_id, adc_dist, "rank" FROM (
  SELECT query_id, neighbor_id, adc_dist,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY adc_dist, neighbor_id) AS BIGINT) AS "rank"
  FROM scored WHERE query_id != neighbor_id) x
WHERE "rank" <= {_PQ_TOPK}
"""


# ---------------------------------------------------------------------------
# IVF-PQ persistent index: train-once / probe-many
# ---------------------------------------------------------------------------
#
# ``similarity_ivfpq_topk`` deliberately replays codebook training on
# every invocation so the whole computation is one oracle-replayable
# plan.  A production pipeline trains ONCE and serves many probes from
# the persisted artifact (same pattern as the streaming dedup
# fingerprint index, streaming/incremental.py).  The artifact:
#
#   {index_dir}/codebook.parquet  (code, dim, cq)        — PQ codebook
#   {index_dir}/seeds.parquet     (list_id, dim, sq)     — coarse cells
#   {index_dir}/codes.parquet     (vec_id, subspace, code), PARTITIONED
#                                 BY list_id — a probe touches only the
#                                 probed cells' directories (dynamic
#                                 partition pruning; at deployment scale
#                                 also bucketed, io.write_bucketed)
#
# The index is keyed by the corpus file's identity (path+mtime+size), so
# a regenerated corpus re-trains automatically.

_INDEX_VERSION = "v1"


def _ivfpq_index_dir(sf_dir: str) -> str:
    import hashlib

    p = os.path.abspath(os.path.join(sf_dir, "embeddings.parquet"))
    st = os.stat(p)
    key = hashlib.md5(
        f"{p}:{st.st_mtime_ns}:{st.st_size}:{_INDEX_VERSION}".encode()
    ).hexdigest()[:16]
    root = os.environ.get(
        "SPARK_GRAFT_INDEX_DIR",
        os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))), ".cache"),
    )
    return os.path.join(root, f"ivfpq_{key}")


def build_ivfpq_index(spark: SparkSession, sf_dir: str, index_dir: str) -> None:
    """Train the IVF-PQ index once and persist it (see block comment)."""
    from columnar_analytics_engine_spark.io import write_table

    e = _pq_exploded(t(spark, sf_dir, "embeddings"))
    seeds = e.filter(F.col("vec_id") < _IVF_LISTS).select(
        F.col("vec_id").alias("list_id"), "dim", F.col("vq").alias("sq")
    )
    sdiff = F.col("vq") - F.col("sq")
    # persisted ((N x lists)-row reduce): feeds BOTH the corpus cell
    # assignment and the query probe ranking — unpersisted, the full
    # exploded-table join runs per consumer (duplicate_join_subtrees)
    cell_dists = _persist_once(
        e.join(F.broadcast(seeds), "dim")
        .groupBy("vec_id", "list_id")
        .agg(F.sum(sdiff * sdiff).alias("d"))
    )
    assigned = (
        cell_dists.groupBy("vec_id")
        .agg(F.min(F.struct("d", "list_id")).alias("m"))
        .select("vec_id", F.col("m.list_id").alias("list_id"))
    )
    cents1 = _pq_codebook(e)
    codes = _pq_assign(e, cents1)
    entries = codes.join(assigned, "vec_id")
    write_table(cents1, f"{index_dir}/codebook.parquet")
    write_table(seeds, f"{index_dir}/seeds.parquet")
    write_table(entries, f"{index_dir}/codes.parquet", partition_by=["list_id"])


def ensure_ivfpq_index(spark: SparkSession, sf_dir: str) -> str:
    """Path of the (built-if-absent) IVF-PQ index for a corpus —
    race-safe via ``io.atomic_build_dir`` (staging dir + atomic rename;
    the ``_INDEX_OK`` marker is written by the publisher, last)."""
    from columnar_analytics_engine_spark.io import atomic_build_dir

    return atomic_build_dir(
        _ivfpq_index_dir(sf_dir),
        lambda staging: build_ivfpq_index(spark, sf_dir, staging),
        token=_INDEX_VERSION,
    )


def _quantized_queries(emb: DataFrame) -> DataFrame:
    """(query_id, dim, subspace, vq) for the query vectors only — the
    corpus-side explode never runs on the probe path."""
    return (
        emb.filter(F.col("vec_id") < _PQ_NQ)
        .select("vec_id", F.posexplode(F.col("embedding")).alias("dim", "val"))
        .select(
            F.col("vec_id").alias("query_id"),
            "dim",
            (F.col("dim") / _PQ_SUB).cast("int").alias("subspace"),
            F.round(F.col("val").cast("double") * F.lit(float(_KM_SCALE)))
            .cast("long")
            .alias("vq"),
        )
    )


def similarity_ivfpq_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ top-k served from the PERSISTED index — the production
    probe path (train-once/probe-many), bit-identical to
    :func:`similarity_ivfpq_topk` because the index holds exactly what
    that query's training phase computes.

    Scale shape: only the query vectors are read from the corpus (5
    rows, filter pushed to the scan); seeds / codebook / probe table /
    LUT are tiny broadcasts; the code table is read from its
    list_id-partitioned layout, and the broadcast join against the
    probed cells dynamic-partition-prunes the unprobed directories, so
    the scan touches ~probe/lists of the index files.  The oracle
    replays the training (same SQL as similarity_ivfpq_topk) — probing
    a correctly built index must reproduce it exactly.
    """
    index_dir = ensure_ivfpq_index(spark, sf_dir)
    eq = _quantized_queries(t(spark, sf_dir, "embeddings"))
    # explicit schemas: an empty corpus writes empty (file-less) index
    # datasets, where schema inference has nothing to read
    seeds = spark.read.schema("list_id long, dim int, sq long").parquet(
        f"{index_dir}/seeds.parquet"
    )
    qdiff = F.col("vq") - F.col("sq")
    qcell = (
        eq.join(F.broadcast(seeds), "dim")
        .groupBy("query_id", "list_id")
        .agg(F.sum(qdiff * qdiff).alias("d"))
    )
    w_probe = W.partitionBy("query_id").orderBy("d", "list_id")
    probes = (
        qcell.withColumn("rn", F.row_number().over(w_probe))
        .filter(F.col("rn") <= _IVF_PROBE)
        .select("query_id", "list_id")
    )
    cb = spark.read.schema("code long, dim int, cq long").parquet(
        f"{index_dir}/codebook.parquet"
    )
    cdiff = F.col("vq") - F.col("cq")
    lut = (
        eq.join(F.broadcast(cb), "dim")
        .groupBy("query_id", "subspace", "code")
        .agg(F.sum(cdiff * cdiff).alias("part"))
    )
    entries = spark.read.schema(
        "vec_id long, subspace int, code long, list_id long"
    ).parquet(f"{index_dir}/codes.parquet")
    scored = (
        entries.join(F.broadcast(probes), "list_id")
        .join(F.broadcast(lut), ["query_id", "subspace", "code"])
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("part").alias("adc_dist"))
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    w = W.partitionBy("query_id").orderBy("adc_dist", "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= _PQ_TOPK)
        .select("query_id", "neighbor_id", "adc_dist", "rank")
    )


_SQL_PQ_ADC = f"""{_SQL_PQ_CTES},
codes AS (SELECT vec_id, subspace, code FROM pa1),
lut AS (
  SELECT e.vec_id AS query_id, e.subspace, c.code,
         CAST(SUM((e.vq - c.cq) * (e.vq - c.cq)) AS BIGINT) AS part
  FROM e JOIN pc1 c ON e.dim = c.dim
  WHERE e.vec_id < {_PQ_NQ}
  GROUP BY 1, 2, 3
),
scored AS (
  SELECT l.query_id, v.vec_id AS neighbor_id,
         CAST(SUM(l.part) AS BIGINT) AS adc_dist
  FROM codes v JOIN lut l ON v.subspace = l.subspace AND v.code = l.code
  GROUP BY 1, 2
)
SELECT query_id, neighbor_id, adc_dist, "rank" FROM (
  SELECT query_id, neighbor_id, adc_dist,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY adc_dist, neighbor_id) AS BIGINT) AS "rank"
  FROM scored WHERE query_id != neighbor_id) x
WHERE "rank" <= {_PQ_TOPK}
"""

# ---------------------------------------------------------------------------
# export manifest (composed capstone)
# ---------------------------------------------------------------------------

def training_export_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The final stage of a corpus build: every document that passes the
    repetition-quality gate AND the contamination screen (benchmark
    stand-ins themselves are excluded from training), laid out for the
    trainer — hash shard, packed sequence id, token count, language.

    Composes quality_repetition_filters → contamination_ngram_overlap →
    shard_assignment/sequence_packing semantics on the *surviving* set.
    Scale shape: two semi/anti joins on doc_id (the quality side is a
    filter, the contamination side is broadcast-bench + per-doc agg),
    then one shard-partitioned window — no new shuffle classes beyond
    the parts.
    """
    docs = t(spark, sf_dir, "documents")
    keep = quality_repetition_filters(spark, sf_dir).filter("keep").select("doc_id", "n_tokens")
    contaminated = (
        contamination_ngram_overlap(spark, sf_dir)
        .filter("is_contaminated")
        .select("doc_id")
    )
    survivors = (
        docs.select("doc_id", "lang")
        .filter(F.col("doc_id") % _CONTAM_BENCH_MOD != 0)
        .join(keep, "doc_id")
        .join(contaminated, "doc_id", "left_anti")
        .withColumn("shard", F.expr(_shard()))
    )
    w = (
        W.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        survivors.withColumn(
            "seq_id",
            F.floor(
                (F.sum("n_tokens").over(w) - F.col("n_tokens")) / F.lit(_SEQ_LEN)
            ).cast("long"),
        )
        .select("doc_id", "lang", "n_tokens", "shard", "seq_id")
        .orderBy("shard", "seq_id", "doc_id")
    )


_SQL_EXPORT_MANIFEST = f"""
WITH f AS (
  SELECT doc_id, lang, {X.tokens('text', DUCKDB)} AS l, text FROM documents
),
q AS (
  SELECT doc_id, CAST(len(l) AS BIGINT) AS n_tokens
  FROM f
  WHERE len(l) >= 20
    AND CAST(list_max(list_transform(list_distinct(l),
          tk -> len(list_filter(l, x -> x = tk)))) AS DOUBLE)
        / CAST(len(l) AS DOUBLE) <= 0.12
    AND 1.0 - CAST(len(list_distinct(list_transform(range(1, len(l)),
          i -> l[i] || ' ' || l[i+1]))) AS DOUBLE)
        / CAST(len(l) - 1 AS DOUBLE) <= 0.05
    AND CAST(LENGTH(regexp_replace(trim(text), '\\s+', '', 'g')) AS DOUBLE)
        / CAST(len(l) AS DOUBLE) >= 3.0
),
sh AS (
  SELECT doc_id, {h60('ctm:', 'g', DUCKDB)} AS gh
  FROM (
    SELECT doc_id, unnest(list_distinct(list_transform(
             range(1, len(l) - {_CONTAM_N - 2}),
             i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2] || ' ' || l[i+3] || ' ' || l[i+4]
           ))) AS g
    FROM f WHERE len(l) >= {_CONTAM_N})
),
bench AS (SELECT DISTINCT gh FROM sh WHERE doc_id % {_CONTAM_BENCH_MOD} = 0),
contaminated AS (
  SELECT s.doc_id
  FROM sh s LEFT JOIN bench b ON s.gh = b.gh
  WHERE s.doc_id % {_CONTAM_BENCH_MOD} != 0
  GROUP BY 1
  HAVING CAST(COUNT(b.gh) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) >= 0.2
),
survivors AS (
  SELECT d.doc_id, d.lang, q.n_tokens,
         {_shard(DUCKDB, 'd.doc_id')} AS shard
  FROM documents d JOIN q ON d.doc_id = q.doc_id
  WHERE d.doc_id % {_CONTAM_BENCH_MOD} != 0
    AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)
)
SELECT doc_id, lang, n_tokens, shard,
       CAST(FLOOR((SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - n_tokens) / {_SEQ_LEN}) AS BIGINT) AS seq_id
FROM survivors
ORDER BY shard, seq_id, doc_id
"""


# ---------------------------------------------------------------------------
# quality: full Gopher rule set (the non-repetition half)
# ---------------------------------------------------------------------------

def quality_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remaining Gopher quality rules (Rae et al. 2021, §A1.1):
    word-count bounds, mean-word-length bounds, symbol-to-word ratio,
    alphabetic-word fraction, and a minimum stop-word count —
    complementing ``quality_repetition_filters`` (the repetition half).

    Like the repetition pass, every metric is an array fold over the
    token array: one projection, no explode, no shuffle — scan speed at
    100 TB.  Ratios are single IEEE divisions of exact integers, so the
    oracle reproduces every double bit-for-bit.
    """
    docs = t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.col("text"), F.expr(X.tokens("text")).alias("l"))
    l = F.col("l")
    n = F.size(l).cast("long")
    mean_word_len = X.non_ws_char_count(F.col("text")).cast("double") / n.cast("double")
    n_symbols = (
        F.regexp_count(F.col("text"), F.lit("#"))
        + F.regexp_count(F.col("text"), F.lit(r"\.\.\."))
    ).cast("long")
    symbol_ratio = n_symbols.cast("double") / n.cast("double")
    n_alpha = F.size(F.filter(l, lambda x: x.rlike("[A-Za-z]"))).cast("long")
    alpha_frac = n_alpha.cast("double") / n.cast("double")
    stop_hits = F.expr(X.stopword_hits("text", "en"))
    keep = (
        (n >= 50)
        & (n <= 100_000)
        & (mean_word_len >= 3.0)
        & (mean_word_len <= 10.0)
        & (symbol_ratio <= 0.1)
        & (alpha_frac >= 0.8)
        & (stop_hits >= 2)
    )
    return toks.filter(n >= 1).select(
        "doc_id",
        n.alias("n_tokens"),
        mean_word_len.alias("mean_word_len"),
        symbol_ratio.alias("symbol_ratio"),
        alpha_frac.alias("alpha_word_frac"),
        stop_hits.alias("stop_hits"),
        keep.alias("keep"),
    )


_SQL_GOPHER_RULES = f"""
WITH f AS (
  SELECT doc_id, text, {X.tokens('text', DUCKDB)} AS l FROM documents
),
m AS (
  SELECT doc_id,
         CAST(len(l) AS BIGINT) AS n,
         CAST(LENGTH(regexp_replace(trim(text), '\\s+', '', 'g')) AS BIGINT) AS nchars,
         CAST(len(regexp_extract_all(text, '#'))
              + len(regexp_extract_all(text, '\\.\\.\\.')) AS BIGINT) AS nsym,
         CAST(len(list_filter(l, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS nalpha,
         {X.stopword_hits('text', 'en', DUCKDB)} AS stop_hits
  FROM f
  WHERE len(l) >= 1
)
SELECT doc_id,
       n AS n_tokens,
       CAST(nchars AS DOUBLE) / CAST(n AS DOUBLE) AS mean_word_len,
       CAST(nsym AS DOUBLE) / CAST(n AS DOUBLE) AS symbol_ratio,
       CAST(nalpha AS DOUBLE) / CAST(n AS DOUBLE) AS alpha_word_frac,
       stop_hits,
       (n >= 50 AND n <= 100000
        AND CAST(nchars AS DOUBLE) / CAST(n AS DOUBLE) >= 3.0
        AND CAST(nchars AS DOUBLE) / CAST(n AS DOUBLE) <= 10.0
        AND CAST(nsym AS DOUBLE) / CAST(n AS DOUBLE) <= 0.1
        AND CAST(nalpha AS DOUBLE) / CAST(n AS DOUBLE) >= 0.8
        AND stop_hits >= 2) AS keep
FROM m
"""


QUERIES: dict[str, QuerySpec] = {
    "quality_gopher_rules": QuerySpec(
        quality_gopher_rules,
        _SQL_GOPHER_RULES,
        "Gopher non-repetition quality rules (length, symbols, alpha, stopwords)",
        ("pipeline", "text", "quality"),
    ),
    "quality_repetition_filters": QuerySpec(
        quality_repetition_filters,
        _SQL_QUALITY_REPETITION,
        "Gopher-style per-doc repetition metrics + keep verdict",
        ("pipeline", "text", "quality"),
    ),
    "contamination_ngram_overlap": QuerySpec(
        contamination_ngram_overlap,
        _SQL_CONTAMINATION,
        "benchmark 5-gram contamination screen (broadcast benchmark set)",
        ("pipeline", "dedup", "text"),
    ),
    "shard_assignment": QuerySpec(
        shard_assignment,
        _SQL_SHARD,
        "deterministic hash-shard manifest (volume per shard)",
        ("pipeline",),
    ),
    "sequence_packing": QuerySpec(
        sequence_packing,
        _SQL_PACKING,
        "2048-token sequence packing manifest per shard",
        ("pipeline", "window"),
    ),
    "stratified_sample": QuerySpec(
        stratified_sample,
        _SQL_STRATIFIED,
        "per-language deterministic stratified sample",
        ("pipeline", "sample"),
    ),
    "kmeans_embeddings": QuerySpec(
        kmeans_embeddings,
        _SQL_KMEANS,
        "exact quantized-Lloyd k-means (k=8, 2 rounds) over embeddings",
        ("similarity", "clustering"),
    ),
    "kmeans_embeddings_mllib": QuerySpec(
        kmeans_embeddings_mllib,
        None,  # MLlib float centroids are engine-internal; quality pinned in pytest
        "MLlib distributed KMeans twin (k-means|| init, production path)",
        ("similarity", "clustering", "approx"),
    ),
    "similarity_pq_codes": QuerySpec(
        pq_codes,
        _SQL_PQ,
        "product-quantization 4×4-bit codes (exact codebook train + encode)",
        ("similarity", "clustering"),
    ),
    "similarity_pq_adc_topk": QuerySpec(
        pq_adc_topk,
        _SQL_PQ_ADC,
        "PQ asymmetric-distance top-10 (LUT scan over codes)",
        ("similarity",),
    ),
    "similarity_ivfpq_topk": QuerySpec(
        similarity_ivfpq_topk,
        _SQL_IVFPQ,
        "IVF-PQ top-10: coarse cell probing + ADC over probed codes",
        ("similarity",),
    ),
    "similarity_ivfpq_probe": QuerySpec(
        similarity_ivfpq_probe,
        _SQL_IVFPQ,
        "IVF-PQ top-10 from the persisted train-once index (probe path)",
        ("similarity", "index"),
    ),
    "training_export_manifest": QuerySpec(
        training_export_manifest,
        _SQL_EXPORT_MANIFEST,
        "composed export manifest: quality ∧ ¬contaminated → shard + sequence",
        ("pipeline", "window"),
    ),
    "dedup_semantic_clusters": QuerySpec(
        dedup_semantic_clusters,
        _SQL_SEMANTIC,
        "SemDeDup: within-k-means-cluster cosine near-dup pairs",
        ("dedup", "similarity", "clustering"),
    ),
    "sample_cluster_balanced": QuerySpec(
        sample_cluster_balanced,
        _SQL_CLUSTER_SAMPLE,
        "cluster-balanced diversity sample (10 most-central per cluster)",
        ("sample", "clustering"),
    ),
}


# ---------------------------------------------------------------------------
# Weighted sampling without replacement (Efraimidis–Spirakis A-ES)
# ---------------------------------------------------------------------------

_WRS_K = 100


def sample_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement: keep the ``_WRS_K``
    documents with the largest ``u^(1/w)`` (Efraimidis–Spirakis A-ES),
    weight = ``n_chars`` — longer documents proportionally likelier, but
    each document drawn at most once (unlike Bernoulli/Poisson gating,
    which cannot hit an exact k).

    Determinism: ``u`` derives from ``h60(doc_id)`` (not an RNG), and
    the ranking key is ``round(-ln(u)/w * 1e12)`` — maximizing
    ``u^(1/w)`` is minimizing ``-ln(u)/w``, and the integer rounding
    absorbs any 1-ulp ``ln`` difference between engines (same
    scaled-round strategy as `_util`'s exact sums).  ``doc_id``
    tie-breaks make the selected set unique.

    Scale shape: a pure projection followed by TakeOrderedAndProject —
    each partition keeps its local top-k, the driver merges k×P keys.
    No shuffle of the data itself; this is how you draw an exact-k
    weighted sample from a 100 TB corpus in one pass.
    """
    docs = t(spark, sf_dir, "documents")
    u_int = F.expr(f"({h60('wrs:', 'CAST(doc_id AS STRING)')} % 1000000) + 1")
    u = u_int.cast("double") / F.lit(1_000_000.0)
    w = F.greatest(F.col("n_chars"), F.lit(1)).cast("double")
    key = F.round((-F.log(u) / w) * F.lit(1e12)).cast("long")
    return (
        docs.select("doc_id", "n_chars", key.alias("wrs_key"))
        .orderBy("wrs_key", "doc_id")
        .limit(_WRS_K)
    )


_SQL_WRS_U = (
    f"(({h60('wrs:', 'CAST(doc_id AS VARCHAR)', DUCKDB)} % 1000000) + 1) / 1000000.0"
)

_SQL_WRS = f"""
SELECT doc_id, n_chars, wrs_key FROM (
  SELECT doc_id, n_chars,
         CAST(ROUND((-ln({_SQL_WRS_U}) / CAST(GREATEST(n_chars, 1) AS DOUBLE))
                    * 1e12) AS BIGINT) AS wrs_key
  FROM documents
) sub
ORDER BY wrs_key, doc_id
LIMIT {_WRS_K}
"""

QUERIES["sample_weighted_reservoir"] = QuerySpec(
    sample_weighted_reservoir,
    _SQL_WRS,
    "exact-k weighted sample without replacement (A-ES, hash-derived uniforms)",
    ("sampling",),
)


def text_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token-distribution (Shannon) entropy in nats — the
    vocabulary-diversity quality signal: boilerplate and template spam
    score low, natural prose high.  H = ln(N) - (Σ c·ln c)/N over the
    doc's token counts c.

    Cross-engine exactness: Σ c·ln c is an order-dependent double sum,
    so each term is rounded to integer micro-nats first
    (``round(c·ln(c)·1e6)`` — same scaled-integer strategy as
    `_util.exact_sum`); the integer sum is associative, and the closing
    ``ln(N)`` and division are single IEEE ops.  Shape: one
    (doc, token) shuffle with map-side combine, then a doc_id reduce —
    both key-bounded.
    """
    docs = t(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.expr(X.tokens("text"))).alias("token"))
    counts = tok.groupBy("doc_id", "token").agg(F.count("*").alias("c"))
    per_doc = counts.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count("*").alias("n_distinct"),
        F.sum(
            F.round(F.col("c").cast("double") * F.log(F.col("c").cast("double")) * F.lit(1e6))
            .cast("long")
        ).alias("_terms"),
    )
    entropy = F.log(F.col("n_tokens").cast("double")) - (
        F.col("_terms").cast("double") / F.lit(1e6)
    ) / F.col("n_tokens").cast("double")
    return per_doc.select(
        "doc_id", "n_tokens", "n_distinct", F.round(entropy, 6).alias("entropy_nats")
    ).orderBy("doc_id")


QUERIES["text_token_entropy"] = QuerySpec(
    text_token_entropy,
    f"""
    WITH tok AS (
      SELECT doc_id, unnest({X.tokens('text', DUCKDB)}) AS token
      FROM documents
    ),
    counts AS (
      SELECT doc_id, token, COUNT(*) AS c FROM tok GROUP BY 1, 2
    ),
    per_doc AS (
      SELECT doc_id,
             CAST(SUM(c) AS BIGINT) AS n_tokens,
             COUNT(*) AS n_distinct,
             CAST(SUM(CAST(ROUND(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)) * 1e6)
                           AS BIGINT)) AS BIGINT) AS _terms
      FROM counts GROUP BY 1
    )
    SELECT doc_id, n_tokens, n_distinct,
           ROUND(ln(CAST(n_tokens AS DOUBLE))
                 - (CAST(_terms AS DOUBLE) / 1e6) / CAST(n_tokens AS DOUBLE), 6)
             AS entropy_nats
    FROM per_doc ORDER BY doc_id
    """,
    "per-doc Shannon token entropy (vocabulary-diversity quality signal, micro-nat exact)",
    ("text", "quality"),
)


# ---------------------------------------------------------------------------
# embedding-space benchmark contamination
# ---------------------------------------------------------------------------

_CONTAM_EMB_THRESHOLD = 0.35


def contamination_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space contamination screen: for every corpus vector,
    the maximum cosine similarity to any *benchmark* vector (stand-in:
    ``vec_id % 100 == 0``, same convention as the n-gram screen) and a
    flag at >= ``_CONTAM_EMB_THRESHOLD`` — the semantic-leakage
    complement of :func:`contamination_ngram_overlap` (catches eval
    paraphrases that share no 5-gram).

    Scale shape: benchmark suites are tiny by construction, so the
    bench side (vectors + norms) is BROADCAST and the 100 TB corpus
    side is scanned exactly ONCE — a broadcast nested-loop over a
    constant-size bench table, never a data-by-data cartesian.  The
    per-vector argmax is a struct-max groupBy keyed on vec_id (the
    broadcast join leaves all of a vector's candidates in one
    partition, so partial aggregation collapses them map-side).
    """
    n = with_norms(t(spark, sf_dir, "embeddings"))
    bench = n.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("bench_id"),
        F.col("v").alias("bv"),
        F.col("sq_norm").alias("bn"),
    )
    corpus = n.filter(F.col("vec_id") % 100 != 0).select("vec_id", "v", "sq_norm")
    sim = cosine(F.col("v"), F.col("bv"), F.col("sq_norm"), F.col("bn"), 4)
    best = (
        corpus.crossJoin(F.broadcast(bench))
        .select("vec_id", F.col("bench_id"), sim.alias("cos_sim"))
        .groupBy("vec_id")
        .agg(
            F.max(
                F.struct(
                    F.col("cos_sim"), (-F.col("bench_id")).alias("neg_bench")
                )
            ).alias("m")
        )
    )
    return best.select(
        "vec_id",
        (-F.col("m.neg_bench")).alias("bench_id"),
        F.col("m.cos_sim").alias("max_cos"),
        (F.col("m.cos_sim") >= F.lit(_CONTAM_EMB_THRESHOLD)).alias("is_contaminated"),
    ).orderBy("vec_id")


QUERIES["contamination_embedding_cosine"] = QuerySpec(
    contamination_embedding_cosine,
    f"""
    WITH n AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             list_dot_product(CAST(embedding AS DOUBLE[]),
                              CAST(embedding AS DOUBLE[])) AS sq_norm
      FROM embeddings
    ),
    bench AS (
      SELECT vec_id AS bench_id, v AS bv, sq_norm AS bn
      FROM n WHERE vec_id % 100 = 0
    ),
    corpus AS (SELECT * FROM n WHERE vec_id % 100 <> 0),
    scored AS (
      SELECT c.vec_id, b.bench_id,
             ROUND(list_dot_product(c.v, b.bv)
                   / (SQRT(c.sq_norm) * SQRT(b.bn)), 4) AS cos_sim
      FROM corpus c CROSS JOIN bench b
    ),
    best AS (
      SELECT vec_id, bench_id, cos_sim FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY vec_id ORDER BY cos_sim DESC, bench_id) AS rn
        FROM scored) x
      WHERE rn = 1
    )
    SELECT vec_id, bench_id, cos_sim AS max_cos,
           cos_sim >= {_CONTAM_EMB_THRESHOLD} AS is_contaminated
    FROM best ORDER BY vec_id
    """,
    "embedding-space benchmark-contamination screen (broadcast bench, max-cosine per vector)",
    ("llm", "contamination"),
)


def _fp_payload(d: Dialect) -> str:
    """The checksummed per-doc payload: ``doc_id|fingerprint``."""
    return f"CAST(doc_id AS STRING) || '|' || coalesce({X.fingerprint('text', d)}, '')"


def training_shard_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent content checksum per training shard: each doc
    contributes two independently-salted ``h60`` hashes of its
    (id, content-fingerprint) pair, combined per shard by bitwise XOR —
    a commutative, overflow-free fold at any shard size, so the
    checksum is independent of partitioning, task order,
    and file layout.  This is the reproducibility audit of a corpus
    build: re-exporting the same corpus must reproduce these checksums
    byte-independent-of-layout, and any doc added/dropped/mutated flips
    them.  Same shard rule as :func:`shard_assignment`; one groupBy.
    """
    docs = t(spark, sf_dir, "documents")
    shard = F.expr(_shard()).alias("shard")
    payload = _fp_payload(SPARK)
    # two independent 60-bit xor folds (different salts): commutative and
    # overflow-free at any shard size, ~120-bit collision strength
    return (
        docs.select(
            shard,
            F.expr(h60("chk:", payload)).alias("h1"),
            F.expr(h60("chk2:", payload)).alias("h2"),
        )
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.expr("bit_xor(h1)").alias("xor_check1"),
            F.expr("bit_xor(h2)").alias("xor_check2"),
        )
        .orderBy("shard")
    )



QUERIES["training_shard_checksums"] = QuerySpec(
    training_shard_checksums,
    f"""
    WITH h AS (
      SELECT {_shard(DUCKDB)} AS shard,
             {h60('chk:', _fp_payload(DUCKDB), DUCKDB)} AS h1,
             {h60('chk2:', _fp_payload(DUCKDB), DUCKDB)} AS h2
      FROM documents
    )
    SELECT shard, COUNT(*) AS n_docs,
           CAST(BIT_XOR(h1) AS BIGINT) AS xor_check1,
           CAST(BIT_XOR(h2) AS BIGINT) AS xor_check2
    FROM h GROUP BY 1 ORDER BY 1
    """,
    "order-independent per-shard content checksums (dual xor folds — the reproducibility audit)",
    ("pipeline", "governance"),
)


# ---------------------------------------------------------------------------
# collocation mining (bigram PMI)
# ---------------------------------------------------------------------------

def text_collocations_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 bigram collocations by pointwise mutual information —
    the phrase-mining pass that finds multi-word units ("new york",
    "machine learning") worth treating as single tokens in a tokenizer
    or index.  PMI = ln(P(w1,w2) / (P(w1)·P(w2))) with bigram and
    unigram probabilities from corpus counts; a minimum pair count
    (≥10) guards the low-frequency PMI explosion.

    Shape: one explode per granularity (unigram, adjacent-pair), two
    count aggregations, two key joins of the bigram table against the
    unigram table, two 1-row lazy totals broadcast in-plan, and a
    TakeOrderedAndProject top-20 — all map-combinable shuffles on token
    keys; at 100 TB the unigram side is Zipf-heavy but both joins key
    on the SAME token domain, so AQE skew splitting applies directly.

    Exactness: counts are exact integers, the probability ratio is a
    fixed left-associative chain of IEEE ops, and the natural log is
    micro-rounded (1e6) before ordering/output — the same cross-libm
    discipline as corpus_drift_report / sample_weighted_reservoir.
    """
    docs = t(spark, sf_dir, "documents")
    toks = docs.select(F.expr(X.tokens("text")).alias("l"))
    uni = (
        toks.select(F.explode("l").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    # size guard: sequence(1, stop) descends through index 0 for stop < 1
    pairs = toks.filter(F.size("l") >= 2).select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(l) - 1),"
                " i -> struct(element_at(l, i) AS w1, element_at(l, i + 1) AS w2))"
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    bic = pairs.groupBy("w1", "w2").agg(F.count("*").alias("n_pair"))
    tot = uni.agg(F.sum("c").alias("_T"))
    btot = bic.agg(F.sum("n_pair").alias("_B"))
    j = (
        bic.filter(F.col("n_pair") >= 10)
        .join(uni.select(F.col("w").alias("w1"), F.col("c").alias("c1")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("c").alias("c2")), "w2")
        .join(F.broadcast(tot))
        .join(F.broadcast(btot))
    )
    ratio = (
        F.col("n_pair").cast("double")
        * F.col("_T").cast("double")
        * F.col("_T").cast("double")
    ) / (
        F.col("_B").cast("double")
        * F.col("c1").cast("double")
        * F.col("c2").cast("double")
    )
    pmi_micro = F.round(F.log(ratio) * F.lit(1e6)).cast("long")
    return (
        j.select(
            "w1", "w2", "n_pair",
            (pmi_micro.cast("double") / F.lit(1e6)).alias("pmi"),
            pmi_micro.alias("_pm"),
        )
        .orderBy(F.col("_pm").desc(), "w1", "w2")
        .limit(20)
        .drop("_pm")
    )


QUERIES["text_collocations_pmi"] = QuerySpec(
    text_collocations_pmi,
    f"""
    WITH tk AS (SELECT {X.tokens('text', DUCKDB)} AS l FROM documents),
    uni AS (
      SELECT w, COUNT(*) AS c
      FROM (SELECT unnest(l) AS w FROM tk) u GROUP BY 1
    ),
    pr AS (
      SELECT l[i] AS w1, l[i + 1] AS w2
      FROM (SELECT l, unnest(range(1, len(l))) AS i FROM tk) x
    ),
    bic AS (SELECT w1, w2, COUNT(*) AS n_pair FROM pr GROUP BY 1, 2),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS T FROM uni),
    btot AS (SELECT CAST(SUM(n_pair) AS BIGINT) AS B FROM bic),
    j AS (
      SELECT b.w1, b.w2, b.n_pair,
             CAST(ROUND(LN(
               (CAST(b.n_pair AS DOUBLE) * CAST(T AS DOUBLE) * CAST(T AS DOUBLE))
               / (CAST(B AS DOUBLE) * CAST(u1.c AS DOUBLE) * CAST(u2.c AS DOUBLE))
             ) * 1e6) AS BIGINT) AS pmi_micro
      FROM bic b
      JOIN uni u1 ON u1.w = b.w1
      JOIN uni u2 ON u2.w = b.w2, tot, btot
      WHERE b.n_pair >= 10
    )
    SELECT w1, w2, n_pair, CAST(pmi_micro AS DOUBLE) / 1e6 AS pmi
    FROM j ORDER BY pmi_micro DESC, w1, w2 LIMIT 20
    """,
    "top-20 bigram collocations by micro-rounded PMI (phrase mining)",
    ("text", "training"),
)


# ---------------------------------------------------------------------------
# BPE tokenizer training (merge induction)
# ---------------------------------------------------------------------------

def training_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn the first 12 BPE merge rules from the corpus — tokenizer
    *training*, complementing the BPE-ish token *counting* surface
    (text_bpe_token_stats).  One corpus-scale word-frequency
    aggregation, then vocabulary-bounded merge rounds (see
    operators/bpe.py for the scale argument and the greedy-fold merge
    semantics).  Verified two ways: the driver hash-oracle replays the
    iteration as 12 unrolled MATERIALIZED CTE rounds in DuckDB
    (``_bpe_merges_sql``, registered on this QuerySpec since r10), and
    tests/test_bpe.py cross-checks against a pure-Python reference
    implementation."""
    from columnar_analytics_engine_spark.operators.bpe import bpe_merges_df

    docs = t(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(F.expr(X.tokens("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )
    return bpe_merges_df(words, n_merges=12)


def _bpe_learn_ctes(n_merges: int, words_cte: str) -> str:
    """Unrolled ``n_merges``-round SQL replay of the iterative
    ``learn_bpe_merges`` loop (operators/bpe.py) — the same
    full-pipeline-replay evaluation the IVF/LSH ANN oracles use for
    data-dependent intermediates: each round r has pair counts
    ``p{{r}}``, the argmax rule ``b{{r}}`` (count desc, (l, r)
    lexicographic tie-break), and the merged vocabulary ``v{{r}}``.
    The greedy left-to-right non-overlapping merge is a
    ``list_reduce`` fold whose accumulator carries the pending symbol
    as a trailing ``''``-sentinel element — byte-for-byte the
    ``_merge_pair_fold`` carry semantics."""
    fold = """list_filter(
            list_reduce(list_transform(syms, s -> [s]),
              (acc, x) -> CASE
                WHEN acc[-1] = '' THEN list_concat(acc[1:len(acc)-1], x)
                WHEN acc[-1] = bl AND x[1] = br
                  THEN list_concat(acc[1:len(acc)-1], [bl || br, ''])
                ELSE list_concat(acc, x) END),
            s -> s != '')"""
    # AS MATERIALIZED on every v{r}: DuckDB inlines single-reference
    # CTEs, and each v{r-1} feeds BOTH p{r} and v{r} — inlined, the
    # plan doubles per round (2^n_merges blowup); materialized, each
    # round evaluates once, like the Spark loop's localCheckpoint.
    parts = [f"""
    {words_cte},
    v0 AS MATERIALIZED (
      SELECT word, list_filter(str_split(word, ''), s -> s != '') AS syms, n
      FROM wq
    )"""]
    for r in range(1, n_merges + 1):
        parts.append(f""",
    p{r} AS (
      SELECT x.p.lf AS l, x.p.rt AS r, CAST(SUM(x.n) AS BIGINT) AS c
      FROM (SELECT n, unnest(list_transform(range(1, len(syms)),
                    i -> {{'lf': syms[i], 'rt': syms[i + 1]}})) AS p
            FROM v{r - 1} WHERE len(syms) >= 2) x
      GROUP BY 1, 2
    ),
    b{r} AS (SELECT l AS bl, r AS br, c FROM p{r} ORDER BY c DESC, l, r LIMIT 1),
    v{r} AS MATERIALIZED (
      SELECT word,
             CASE WHEN bl IS NULL OR len(syms) < 2 THEN syms
                  ELSE {fold} END AS syms,
             n
      FROM v{r - 1} LEFT JOIN b{r} ON TRUE
    )""")
    return "".join(parts)


_BPE_WORDS_CTE = f"""wq AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS n
      FROM (SELECT unnest({X.tokens('text', DUCKDB)}) AS word
            FROM documents)
      GROUP BY word
    )"""


def _bpe_merges_sql(n_merges: int) -> str:
    rounds = "\n      UNION ALL\n      ".join(
        f'SELECT CAST({r} AS BIGINT) AS merge_rank, bl AS "left", '
        f"br AS \"right\", c AS pair_count FROM b{r}"
        for r in range(1, n_merges + 1)
    )
    return f"""
    WITH {_bpe_learn_ctes(n_merges, _BPE_WORDS_CTE)}
    SELECT * FROM (
      {rounds}
    ) ORDER BY merge_rank
    """


QUERIES["training_bpe_merges"] = QuerySpec(
    training_bpe_merges,
    _bpe_merges_sql(12),
    "first 12 BPE merge rules from the corpus word-frequency table",
    ("text", "training"),
)


def training_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLY: learn 12 BPE merges, segment the corpus with
    them, and report per-document subword statistics — the fertility
    report (subwords per word) a tokenizer rollout produces before
    committing a vocabulary.

    Two-stage shape (the production batch-encode pattern):

    1. ONE corpus pass aggregates the token stream to (doc, word,
       count) — every later stage works on this memoized table, never
       the raw stream;
    2. merges are learned on the word-frequency table derived from it
       (:func:`operators.bpe.learn_bpe_merges` — vocabulary-bounded
       driver loop) and APPLIED to the distinct-word table as k
       chained JVM folds (:func:`operators.bpe.bpe_encode_words` — no
       shuffle, no UDF);
    3. the segmented vocabulary joins back on the word key at
       (doc, word) granularity — join input is DISTINCT doc-word
       pairs, not token instances (a "the"-heavy 100 TB corpus ships
       one row per document through the join, not millions) — and a
       doc-key aggregation weights by count to emit
       n_tokens / n_subwords / n_chars / fertility.

    Verification: the learn loop is iterative (rows-only in the
    driver); the full learn+encode chain is replayed from scratch in
    pure Python in tests/test_bpe.py, and segmentation invariants
    (concat(subwords) == word, n_subwords bounds) are property-checked.
    """
    from columnar_analytics_engine_spark.operators.bpe import (
        bpe_encode_words,
        learn_bpe_merges,
    )

    docs = t(spark, sf_dir, "documents")
    doc_words = _persist_once(
        docs.select(
            "doc_id", F.explode(F.expr(X.tokens("text"))).alias("word")
        )
        # split('') yields one empty token: an empty/whitespace doc
        # would otherwise count 1 token segmenting to 0 subwords
        .filter(F.col("word") != "")
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("c"))
    )
    words = doc_words.groupBy("word").agg(F.sum("c").alias("n"))
    rules = learn_bpe_merges(words, n_merges=12)
    seg = bpe_encode_words(words.select("word"), rules)
    per_doc = (
        doc_words.join(seg, "word")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.sum(F.col("c") * F.col("n_subwords")).cast("long").alias("n_subwords"),
            F.sum(F.col("c") * F.length("word")).cast("long").alias("n_chars"),
        )
    )
    fert = F.col("n_subwords").cast("double") / F.col("n_tokens").cast("double")
    return per_doc.select(
        "doc_id",
        "n_tokens",
        "n_subwords",
        "n_chars",
        fert.alias("fertility"),
    ).orderBy("doc_id")


_BPE_ENCODE_WORDS_CTE = f"""dw AS (
      SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT doc_id,
                   unnest({X.tokens('text', DUCKDB)}) AS word
            FROM documents)
      WHERE word != ''
      GROUP BY 1, 2
    ),
    wq AS (SELECT word, CAST(SUM(c) AS BIGINT) AS n FROM dw GROUP BY word)"""


def _bpe_encode_sql(n_merges: int) -> str:
    return f"""
    WITH {_bpe_learn_ctes(n_merges, _BPE_ENCODE_WORDS_CTE)},
    seg AS (SELECT word, len(syms) AS n_subwords FROM v{n_merges}),
    per AS (
      SELECT dw.doc_id,
             CAST(SUM(dw.c) AS BIGINT) AS n_tokens,
             CAST(SUM(dw.c * seg.n_subwords) AS BIGINT) AS n_subwords,
             CAST(SUM(dw.c * len(dw.word)) AS BIGINT) AS n_chars
      FROM dw JOIN seg USING (word)
      GROUP BY 1
    )
    SELECT doc_id, n_tokens, n_subwords, n_chars,
           CAST(n_subwords AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS fertility
    FROM per ORDER BY doc_id
    """


QUERIES["training_bpe_encode"] = QuerySpec(
    training_bpe_encode,
    _bpe_encode_sql(12),
    "per-doc subword fertility after encoding with 12 learned BPE merges",
    ("text", "training"),
)


# ---------------------------------------------------------------------------
# Zipf-law fit over the vocabulary
# ---------------------------------------------------------------------------

def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLS fit of ln(frequency) on ln(rank) over the whole vocabulary —
    the Zipf-law health check: natural language sits near slope −1;
    templated/generated corpora and tokenizer bugs bend the curve (a
    shallow slope means a fat head of repeated boilerplate).

    The global frequency rank is assembled DISTRIBUTED (the
    window_ntile_percent / stats_ks_test shape): range-repartition the
    vocabulary on (−freq, token), rank locally per partition, add
    broadcast per-partition offsets.  Regression inputs are
    10⁻⁴-quantized logs (exact integers; the log itself is the only
    cross-libm term and 1e-4 quantization dwarfs ulp differences);
    sufficient sums are exact int64 (|x| ≤ 1.4e5 ⇒ Σxy safe past 10⁹
    vocabulary terms) and the closed-form slope/intercept/r² combine
    them in double exactly like the oracle.
    """
    docs = t(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(F.expr(X.tokens("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    part = vocab.repartitionByRange(F.col("c").desc(), F.col("w")).withColumn(
        "_pid", F.spark_partition_id()
    )
    w_local = W.partitionBy("_pid").orderBy(F.col("c").desc(), "w")
    local = part.withColumn("_lrn", F.row_number().over(w_local).cast("long"))
    counts = local.groupBy("_pid").agg(F.count("*").alias("_n"))
    w_off = W.orderBy("_pid").rowsBetween(W.unboundedPreceding, -1)
    offsets = counts.select(
        "_pid", F.coalesce(F.sum("_n").over(w_off), F.lit(0)).cast("long").alias("_off")
    )
    ranked = local.join(F.broadcast(offsets), "_pid").select(
        (F.col("_off") + F.col("_lrn")).alias("rank"), "c"
    )
    x = F.round(F.log(F.col("rank").cast("double")) * F.lit(1e4)).cast("long")
    y = F.round(F.log(F.col("c").cast("double")) * F.lit(1e4)).cast("long")
    s = ranked.select(x.alias("x"), y.alias("y")).agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    nd, sxd, syd, sxyd, sxxd, syyd = (
        F.col(c).cast("double") for c in ("n", "sx", "sy", "sxy", "sxx", "syy")
    )
    slope = (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd)
    intercept = (syd - slope * sxd) / nd / F.lit(1e4)
    r_num = nd * sxyd - sxd * syd
    r2 = (r_num * r_num) / ((nd * sxxd - sxd * sxd) * (nd * syyd - syd * syd))
    mr = lambda col: F.round(col * F.lit(1e6)).cast("long").cast("double") / F.lit(1e6)  # noqa: E731
    return s.select(
        F.col("n").alias("n_vocab"),
        mr(slope).alias("zipf_slope"),
        mr(intercept).alias("ln_intercept"),
        mr(r2).alias("r2"),
    )


QUERIES["text_zipf_fit"] = QuerySpec(
    text_zipf_fit,
    f"""
    WITH vocab AS (
      SELECT w, COUNT(*) AS c
      FROM (SELECT unnest({X.tokens('text', DUCKDB)}) AS w FROM documents) u GROUP BY 1
    ),
    ranked AS (
      SELECT ROW_NUMBER() OVER (ORDER BY c DESC, w) AS rnk, c FROM vocab
    ),
    pts AS (
      SELECT CAST(ROUND(LN(CAST(rnk AS DOUBLE)) * 1e4) AS BIGINT) AS x,
             CAST(ROUND(LN(CAST(c AS DOUBLE)) * 1e4) AS BIGINT) AS y
      FROM ranked
    ),
    s AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy
      FROM pts
    ),
    d AS (
      SELECT CAST(n AS BIGINT) AS n,
             CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd,
             CAST(sy AS DOUBLE) AS syd, CAST(sxy AS DOUBLE) AS sxyd,
             CAST(sxx AS DOUBLE) AS sxxd, CAST(syy AS DOUBLE) AS syyd
      FROM s
    )
    SELECT n AS n_vocab,
           CAST(CAST(ROUND(((nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd))
                * 1e6) AS BIGINT) AS DOUBLE) / 1e6 AS zipf_slope,
           CAST(CAST(ROUND(((syd - ((nd * sxyd - sxd * syd)
                                    / (nd * sxxd - sxd * sxd)) * sxd) / nd / 1e4)
                * 1e6) AS BIGINT) AS DOUBLE) / 1e6 AS ln_intercept,
           CAST(CAST(ROUND((((nd * sxyd - sxd * syd) * (nd * sxyd - sxd * syd))
                / ((nd * sxxd - sxd * sxd) * (nd * syyd - syd * syd)))
                * 1e6) AS BIGINT) AS DOUBLE) / 1e6 AS r2
    FROM d
    """,
    "Zipf-law OLS fit over the vocabulary (distributed global rank; slope≈-1 healthy)",
    ("text", "stats", "quality"),
)


def text_stopword_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-adaptive stopword discovery: tokens appearing in ≥ 40% of
    documents, ranked by document frequency — the data-derived list a
    multilingual curation pipeline uses instead of hand-curated
    English-only stopwords (feeds quality scoring and index pruning;
    CCNet-style).  One explode + distinct + groupBy (doc-frequency
    table), one lazy 1-row total broadcast, exact integer ratio."""
    docs = t(spark, sf_dir, "documents")
    dfreq = (
        docs.select("doc_id", F.explode(F.array_distinct(F.expr(X.tokens("text")))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("doc_freq"))
    )
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    return (
        dfreq.join(F.broadcast(n_docs))
        .filter(F.col("doc_freq") * 5 >= F.col("n_docs") * 2)  # df/N >= 0.4 exact
        .select(
            "token",
            "doc_freq",
            (F.col("doc_freq").cast("double") / F.col("n_docs").cast("double")).alias(
                "doc_frac"
            ),
        )
        .orderBy(F.col("doc_freq").desc(), "token")
    )


QUERIES["text_stopword_discovery"] = QuerySpec(
    text_stopword_discovery,
    f"""
    WITH dfreq AS (
      SELECT token, COUNT(*) AS doc_freq
      FROM (SELECT doc_id, unnest({X.distinct_tokens('text', DUCKDB)}) AS token
            FROM documents) u
      GROUP BY 1
    ),
    nd AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT token, doc_freq,
           CAST(doc_freq AS DOUBLE) / CAST(n_docs AS DOUBLE) AS doc_frac
    FROM dfreq, nd
    WHERE doc_freq * 5 >= n_docs * 2
    ORDER BY doc_freq DESC, token
    """,
    "corpus-adaptive stopwords: tokens in >=40% of docs (exact integer gate)",
    ("text", "training"),
)
