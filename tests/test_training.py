"""Semantic invariants of the training-corpus packaging operators.

The DuckDB oracle sweep (test_oracle.py) proves cross-engine equality;
these tests pin the *meaning*: partitions cover, fractions bound,
gates agree with their definitions, k-means is a true partition of the
vector set.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from columnar_analytics_engine_spark.queries import training as T
from columnar_analytics_engine_spark.queries._util import t


def test_kmeans_partitions_all_vectors(spark, sf_small):
    out = T.kmeans_embeddings(spark, sf_small).collect()
    n_total = t(spark, sf_small, "embeddings").count()
    assert sum(r.n_vectors for r in out) == n_total
    assert len(out) <= T._KM_K and len(out) >= 2
    assert all(r.inertia > 0 for r in out)
    # deterministic: a rebuilt plan yields the identical result
    again = T.kmeans_embeddings(spark, sf_small).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_shard_assignment_covers_corpus(spark, sf_small):
    out = T.shard_assignment(spark, sf_small).collect()
    n_docs = t(spark, sf_small, "documents").count()
    assert sum(r.n_docs for r in out) == n_docs
    assert all(0 <= r.shard < T._N_SHARDS for r in out)
    # hash sharding should be reasonably balanced (no shard > 4x mean)
    mean = n_docs / len(out)
    assert max(r.n_docs for r in out) < 4 * mean


def test_sequence_packing_conserves_tokens(spark, sf_small):
    packs = T.sequence_packing(spark, sf_small)
    shards = T.shard_assignment(spark, sf_small)
    per_shard = (
        packs.groupBy("shard").agg(F.sum("seq_tokens").alias("tok")).collect()
    )
    expect = {r.shard: r.total_tokens for r in shards.collect()}
    assert {r.shard: r.tok for r in per_shard} == expect
    rows = packs.collect()
    # sequence ids start at 0 per shard and fill fractions are positive
    first = {}
    for r in rows:
        first.setdefault(r.shard, r.seq_id)
        assert r.fill_frac == r.seq_tokens / float(T._SEQ_LEN)
    assert all(v == 0 for v in first.values())


def test_contamination_bounds_and_exclusion(spark, sf_small):
    rows = T.contamination_ngram_overlap(spark, sf_small).collect()
    assert rows, "no corpus docs scored"
    for r in rows:
        assert r.doc_id % T._CONTAM_BENCH_MOD != 0  # benchmark excluded
        assert 0 <= r.n_contaminated <= r.n_shingles
        assert (r.contamination_frac >= 0.2) == r.is_contaminated


def test_stratified_sample_respects_gates(spark, sf_small):
    rows = T.stratified_sample(spark, sf_small).collect()
    assert rows
    for r in rows:
        assert r.gate < T._STRATA_RATES[r.lang]
    # a high-rate stratum must keep more of its base than a low-rate one
    docs = t(spark, sf_small, "documents")
    base = {r.lang: r.c for r in docs.groupBy("lang").agg(F.count("*").alias("c")).collect()}
    kept = {}
    for r in rows:
        kept[r.lang] = kept.get(r.lang, 0) + 1
    assert kept["zh"] / base["zh"] > kept["en"] / base["en"]


def test_quality_fractions_bounded(spark, sf_small):
    rows = T.quality_repetition_filters(spark, sf_small).collect()
    n_docs = t(spark, sf_small, "documents").count()
    assert len(rows) == n_docs  # fixture docs all have >= 2 tokens
    keeps = 0
    for r in rows:
        assert 0.0 <= r.dup_token_frac <= 1.0
        assert 0.0 < r.top_token_frac <= 1.0
        assert 0.0 <= r.dup_bigram_frac <= 1.0
        if r.keep:
            keeps += 1
            assert r.n_tokens >= 20 and r.top_token_frac <= 0.12
    assert 0 < keeps < n_docs  # thresholds actually discriminate


def test_pq_codes_shape_and_determinism(spark, sf_small):
    out = T.pq_codes(spark, sf_small).collect()
    n_vec = t(spark, sf_small, "embeddings").count()
    assert len(out) == n_vec * T._PQ_M  # every vector gets M codes
    assert all(0 <= r.code < T._PQ_K and 0 <= r.subspace < T._PQ_M for r in out)
    assert all(r.d >= 0 for r in out)
    # codes actually use the codebook (not everything collapsed to one code)
    assert len({(r.subspace, r.code) for r in out}) > T._PQ_M * 2
    again = T.pq_codes(spark, sf_small).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_pq_adc_recall_beats_random(spark, sf_small):
    """ADC over 4×16 codebooks is a coarse approximation; it must still
    land far above chance against the exact L2 top-10."""
    import numpy as np

    out = T.pq_adc_topk(spark, sf_small).collect()
    emb = t(spark, sf_small, "embeddings").orderBy("vec_id").collect()
    mat = np.array([r.embedding for r in emb], dtype=np.float64)
    ids = np.array([r.vec_id for r in emb])
    recalls = []
    for q in range(T._PQ_NQ):
        d = ((mat - mat[q]) ** 2).sum(axis=1)
        d[q] = np.inf
        exact = set(ids[np.argsort(d, kind="stable")[: T._PQ_TOPK]])
        got = {r.neighbor_id for r in out if r.query_id == q}
        assert len(got) == T._PQ_TOPK
        recalls.append(len(got & exact) / T._PQ_TOPK)
    assert sum(recalls) / len(recalls) > 0.25  # chance is 10/500 = 0.02


def test_ivfpq_returns_topk_within_probed_cells(spark, sf_small):
    """IVF-PQ must (a) return exactly top-k rows per query, (b) only
    return neighbors that truly live in the query's probed cells, and
    (c) agree with global PQ-ADC wherever the global winner is inside a
    probed cell — IVF only restricts the candidate set, never rescores."""
    out = T.similarity_ivfpq_topk(spark, sf_small).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == set(range(T._PQ_NQ))
    for q, rows in by_q.items():
        assert len(rows) == T._PQ_TOPK
        assert [r.rank for r in sorted(rows, key=lambda r: r.rank)] == list(
            range(1, T._PQ_TOPK + 1)
        )

    adc = {(r.query_id, r.neighbor_id): r.adc_dist
           for r in T.pq_adc_topk(spark, sf_small).collect()}
    # shared (query, neighbor) pairs carry identical ADC distances
    for r in out:
        if (r.query_id, r.neighbor_id) in adc:
            assert adc[(r.query_id, r.neighbor_id)] == r.adc_dist
    # the restriction is real: IVF-PQ scans a strict candidate subset,
    # so per query it can differ from global ADC but never add distances
    # smaller than the global minimum
    for q, rows in by_q.items():
        global_best = min(d for (qq, _n), d in adc.items() if qq == q)
        assert min(r.adc_dist for r in rows) >= global_best


def test_ivfpq_probe_matches_replay_and_trains_once(spark, sf_small, tmp_path, monkeypatch):
    """The persisted-index probe path must reproduce the replay query
    bit-for-bit, and a second probe must serve from the artifact without
    retraining (train-once/probe-many)."""
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path))
    probe = sorted(map(tuple, T.similarity_ivfpq_probe(spark, sf_small).collect()))
    replay = sorted(map(tuple, T.similarity_ivfpq_topk(spark, sf_small).collect()))
    assert probe == replay
    # second invocation must not rebuild: poison the builder
    def boom(*a, **k):
        raise AssertionError("index was rebuilt on the probe-many path")
    monkeypatch.setattr(T, "build_ivfpq_index", boom)
    again = sorted(map(tuple, T.similarity_ivfpq_probe(spark, sf_small).collect()))
    assert again == probe


def test_ivfpq_probe_plan_prunes_partitions(spark, sf_small, tmp_path, monkeypatch):
    """The probe join against the probed-cell table must reach the
    list_id-partitioned code scan as a (dynamic) partition filter — the
    at-scale property that a probe touches ~probe/lists of the index."""
    from columnar_analytics_engine_spark.plans.explain import formatted_plan

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path))
    df = T.similarity_ivfpq_probe(spark, sf_small)
    plan = formatted_plan(df)
    assert "dynamicpruning" in plan.lower(), plan


def test_ivfpq_bucketed_codes_probe_join_no_code_side_shuffle(spark, sf_small, tmp_path, monkeypatch):
    """Index codes stored bucketed by list id join the probe table with
    NO Exchange on the code side: the bucketed scan already satisfies
    the join partitioning, so only the tiny probe side shuffles — the
    shuffle-free probe shape a deployed ANN index relies on."""
    from columnar_analytics_engine_spark.io import write_bucketed
    from columnar_analytics_engine_spark.plans.explain import formatted_plan

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path))
    index_dir = T.ensure_ivfpq_index(spark, sf_small)
    entries = spark.read.parquet(f"{index_dir}/codes.parquet").select(
        "vec_id", "subspace", "code", F.col("list_id").cast("long").alias("list_id")
    )
    write_bucketed(entries, "b_ivfpq_codes", "list_id", 8)
    probes = spark.createDataFrame(
        [(q, l) for q in range(2) for l in range(2)], "query_id long, list_id long"
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("b_ivfpq_codes").join(probes, "list_id")
        plan = formatted_plan(joined)
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        # exactly one Exchange node: the probe side; the bucketed code
        # scan must feed the join directly
        import re

        assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS b_ivfpq_codes")


def test_semantic_dedup_pairs_are_within_cluster_cosine_pairs(spark, sf_small):
    """Every SemDeDup pair must (a) share a k-means cluster and (b) appear
    in the exact all-pairs cosine screen at the same threshold — the
    cluster partitioning may only REMOVE cross-cluster pairs, never
    invent or rescore one."""
    from columnar_analytics_engine_spark.functions.similarity import cosine, with_norms

    sem = {
        (r.d1, r.d2): r.cos_sim
        for r in T.dedup_semantic_clusters(spark, sf_small).collect()
    }
    assert sem, "fixture should contain at least one semantic near-dup pair"

    emb = with_norms(t(spark, sf_small, "embeddings"), "embedding")
    a = emb.select(
        F.col("vec_id").alias("d1"), F.col("v").alias("av"), F.col("sq_norm").alias("an")
    )
    b = emb.select(
        F.col("vec_id").alias("d2"), F.col("v").alias("bv"), F.col("sq_norm").alias("bn")
    )
    full = {
        (r.d1, r.d2): r.cos_sim
        for r in a.join(b, F.col("d1") < F.col("d2"))
        .select(
            "d1",
            "d2",
            cosine(F.col("av"), F.col("bv"), F.col("an"), F.col("bn"), 4).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= T._SEM_THRESHOLD)
        .collect()
    }
    for pair, sim in sem.items():
        assert pair in full and full[pair] == sim


def test_cluster_balanced_sample_bounds_and_centrality(spark, sf_small):
    rows = T.sample_cluster_balanced(spark, sf_small).collect()
    by_cluster: dict[int, list] = {}
    for r in rows:
        by_cluster.setdefault(r.cluster_id, []).append(r)
    assert len(by_cluster) >= 2
    sizes = T.kmeans_embeddings(spark, sf_small).collect()
    cluster_n = {r.cluster_id: r.n_vectors for r in sizes}
    for cid, members in by_cluster.items():
        assert len(members) == min(T._CB_PER_CLUSTER, cluster_n[cid])
        ranks = sorted(m.rn for m in members)
        assert ranks == list(range(1, len(members) + 1))
        # rows come back rank-ordered by distance: rn order == d order
        by_rn = sorted(members, key=lambda m: m.rn)
        assert all(
            x.d < y.d or (x.d == y.d and x.vec_id < y.vec_id)
            for x, y in zip(by_rn, by_rn[1:])
        )


def test_gopher_rules_each_boundary(spark, tmp_path):
    from columnar_analytics_engine_spark.queries.training import quality_gopher_rules

    good = "the and " + " ".join(f"word{i:03d}" for i in range(60))  # 62 tokens, 2 stopwords, alpha
    docs = spark.createDataFrame(
        [
            (1, good),                                   # passes everything
            (2, "the and " + " ".join("ab" for _ in range(58))),   # mean len < 3
            (3, "the short doc"),                        # too few tokens
            (4, "the " + " ".join("123" for _ in range(60))),      # alpha frac < 0.8
            (5, good + " ###### ... ... ... ... ..."),   # symbol ratio high
            (6, " ".join(f"word{i:03d}" for i in range(60))),      # no stopwords
        ],
        "doc_id long, text string",
    ).withColumn("lang", F.lit("en")).withColumn("source", F.lit("s")).withColumn(
        "n_chars", F.length("text")
    )
    sf = str(tmp_path)
    docs.write.parquet(f"{sf}/documents.parquet")
    out = {r["doc_id"]: r.asDict() for r in quality_gopher_rules(spark, sf).collect()}
    assert out[1]["keep"] is True
    assert out[2]["keep"] is False and out[2]["mean_word_len"] < 3.0
    assert out[3]["keep"] is False and out[3]["n_tokens"] < 50
    assert out[4]["keep"] is False and out[4]["alpha_word_frac"] < 0.8
    assert out[5]["keep"] is False and out[5]["symbol_ratio"] > 0.1
    assert out[6]["keep"] is False and out[6]["stop_hits"] < 2


def test_kmeans_mllib_twin_matches_exact_shape(spark, sf_small):
    """The MLlib twin must produce the same k full clusters over the
    same data as the exact quantized-Lloyd entry (float centroids
    differ; partitioning quality must be comparable)."""
    from columnar_analytics_engine_spark.queries.training import (
        _KM_K,
        kmeans_embeddings,
        kmeans_embeddings_mllib,
    )

    exact = {r["cluster_id"]: r["n_vectors"] for r in kmeans_embeddings(spark, sf_small).collect()}
    ml = {r["cluster_id"]: r["n_vectors"] for r in kmeans_embeddings_mllib(spark, sf_small).collect()}
    assert set(ml) == set(range(_KM_K))
    assert sum(ml.values()) == sum(exact.values())  # every vector assigned once
    assert all(n > 0 for n in ml.values())


def test_weighted_reservoir_exact_k_and_weight_bias(spark, sf_oracle):
    """A-ES draws exactly k distinct documents, and char-weighting
    overrepresents long documents vs the corpus mean."""
    from columnar_analytics_engine_spark.queries.training import (
        _WRS_K,
        sample_weighted_reservoir,
    )

    sample = sample_weighted_reservoir(spark, sf_oracle).collect()
    assert len(sample) == _WRS_K
    assert len({r["doc_id"] for r in sample}) == _WRS_K
    docs = t(spark, sf_oracle, "documents")
    corpus_avg = docs.agg(F.avg("n_chars")).first()[0]
    sample_avg = sum(r["n_chars"] for r in sample) / _WRS_K
    assert sample_avg > corpus_avg  # heavier docs likelier, as designed


def test_weighted_reservoir_stable_across_partitioning(spark, sf_oracle):
    """The selected set is a pure function of the data — repartitioning
    (a different cluster layout) must not change it."""
    from columnar_analytics_engine_spark.queries._util import t as t_
    from columnar_analytics_engine_spark.queries.training import (
        sample_weighted_reservoir,
    )

    base = {r["doc_id"] for r in sample_weighted_reservoir(spark, sf_oracle).collect()}
    from columnar_analytics_engine_spark.functions.hashing import h60
    docs = t_(spark, sf_oracle, "documents").repartition(17)
    u_int = F.expr(f"({h60('wrs:', 'CAST(doc_id AS STRING)')} % 1000000) + 1")
    u = u_int.cast("double") / F.lit(1_000_000.0)
    w = F.greatest(F.col("n_chars"), F.lit(1)).cast("double")
    key = F.round((-F.log(u) / w) * F.lit(1e12)).cast("long")
    again = {
        r["doc_id"]
        for r in docs.select("doc_id", key.alias("k"))
        .orderBy("k", "doc_id")
        .limit(100)
        .collect()
    }
    assert again == base


def test_token_entropy_bounds(spark, sf_small):
    """0 <= H <= ln(n_distinct); a one-token doc scores exactly 0 and a
    uniform doc exactly ln(n_distinct)."""
    import math
    import os
    import tempfile

    from columnar_analytics_engine_spark.queries.training import text_token_entropy

    rows = text_token_entropy(spark, sf_small).collect()
    assert rows
    for r in rows:
        assert -1e-6 <= r["entropy_nats"] <= math.log(r["n_distinct"]) + 1e-6

    tiny = spark.createDataFrame(
        [(1, "same same same same"), (2, "a b c d")],
        "doc_id long, text string",
    )
    d = tempfile.mkdtemp()
    tiny.write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    out = {r["doc_id"]: r["entropy_nats"] for r in text_token_entropy(spark, d).collect()}
    assert out[1] == 0.0
    assert abs(out[2] - round(math.log(4), 6)) < 2e-6


def test_shard_checksums_partition_invariant_and_mutation_sensitive(spark, tmp_path):
    from columnar_analytics_engine_spark.queries.training import (
        training_shard_checksums,
    )

    docs = spark.createDataFrame(
        [(i, f"text body {i}", "en", "s", 10) for i in range(200)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    sf_a, sf_b, sf_c = (str(tmp_path / x) for x in "abc")
    docs.coalesce(1).write.parquet(f"{sf_a}/documents.parquet")
    docs.repartition(7).write.parquet(f"{sf_b}/documents.parquet")  # same content, new layout
    mutated = docs.withColumn(
        "text",
        F.when(F.col("doc_id") == 123, F.lit("tampered")).otherwise(F.col("text")),
    )
    mutated.coalesce(1).write.parquet(f"{sf_c}/documents.parquet")

    a = [tuple(r) for r in training_shard_checksums(spark, sf_a).collect()]
    b = [tuple(r) for r in training_shard_checksums(spark, sf_b).collect()]
    c = [tuple(r) for r in training_shard_checksums(spark, sf_c).collect()]
    assert a == b           # layout/partitioning cannot move the checksum
    assert a != c           # one mutated doc flips its shard's checksum
    diff = [(x, y) for x, y in zip(a, c) if x != y]
    assert len(diff) == 1   # ...and ONLY its shard


def test_leakage_safe_split_never_straddles_clusters(spark, sf_small):
    """Every near-dup cluster lands wholly inside one split, and the
    assignment is total (one row per document) and deterministic."""
    from columnar_analytics_engine_spark.queries.llm import (
        training_leakage_safe_split,
    )

    df = training_leakage_safe_split(spark, sf_small).toPandas()
    n_docs = spark.read.parquet(f"{sf_small}/documents.parquet").count()
    assert len(df) == n_docs
    assert df["doc_id"].is_unique
    assert set(df["split"].unique()) <= {"train", "validation", "test"}
    # the leakage guard: no cluster spans two splits
    assert df.groupby("cluster_id")["split"].nunique().max() == 1
    # deterministic across invocations
    df2 = training_leakage_safe_split(spark, sf_small).toPandas()
    assert df.sort_values("doc_id").reset_index(drop=True).equals(
        df2.sort_values("doc_id").reset_index(drop=True)
    )
