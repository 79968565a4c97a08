"""End-to-end training-data pipeline over the documents corpus.

The composition a 100 TB curation job runs: quality-filter → exact +
near-dedup keeper collapse → deterministic sampling — all pure
DataFrame transformations, one driver program, no collect() until the
final preview.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from columnar_analytics_engine_spark import get_spark, read_table
from columnar_analytics_engine_spark.functions import text as X
from columnar_analytics_engine_spark.functions.hashing import h60
from columnar_analytics_engine_spark.operators import dedup as D

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def main() -> None:
    spark = get_spark(app_name="cae-llm-pipeline")
    docs = read_table(spark, SF_DIR, "documents")
    n0 = docs.count()

    # 1. quality filter: enough tokens, some lexical diversity
    n_tokens = F.expr(X.token_count("text"))
    diversity = F.expr(X.distinct_token_count("text")).cast("double") / n_tokens.cast("double")
    quality = docs.filter((n_tokens >= 10) & (diversity >= 0.2))
    n1 = quality.count()

    # 2. near-dedup: MinHash-LSH pairs → greedy keeper collapse
    pairs = D.minhash_near_duplicates(quality, threshold=0.8)
    dropped = pairs.select(F.col("d2").alias("doc_id")).distinct()
    deduped = quality.join(dropped, "doc_id", "left_anti")
    n2 = deduped.count()

    # 3. stable 80% train split by content hash (survives reshards/reruns).
    # NOTE the subtle eval-leakage bug this simple split carries: two
    # NEAR-duplicates hash differently and can land on opposite sides of
    # the split — training_leakage_safe_split (step 6) is the fix.
    train = deduped.filter(F.expr(h60("split:", "text")) % 100 < 80)
    n3 = train.count()

    print(f"corpus {n0} -> quality {n1} -> deduped {n2} -> train {n3}")
    train.select("doc_id", "lang", "n_chars").show(5)

    # 4. governance reports over the surviving corpus (round-6 operators)
    from columnar_analytics_engine_spark.queries.curation import (
        corpus_drift_by_source,
    )
    from columnar_analytics_engine_spark.queries.llm import (
        dedup_cluster_size_histogram,
        dedup_lsh_quality_report,
    )

    print("near-dup cluster size distribution:")
    dedup_cluster_size_histogram(spark, SF_DIR).show()
    print("LSH recall vs exact Jaccard (tune bands/rows on a sample):")
    dedup_lsh_quality_report(spark, SF_DIR).show()
    print("most-atypical ingestion sources (KL vs rest):")
    corpus_drift_by_source(spark, SF_DIR).show(5)

    # 5. round-6 second-session operators: model-based curation +
    # reproducibility audit
    from columnar_analytics_engine_spark.queries.classify import (
        classifier_nb_confusion,
    )
    from columnar_analytics_engine_spark.queries.curation import (
        dedup_passage_removal,
    )
    from columnar_analytics_engine_spark.queries.training import (
        training_shard_checksums,
    )

    print("trained NB language classifier, held-out confusion matrix:")
    classifier_nb_confusion(spark, SF_DIR).show(5)
    print("duplicated-passage removal (keep-one-copy rewrite), sample:")
    dedup_passage_removal(spark, SF_DIR).filter(F.col("n_removed") > 0).show(3)
    print("per-shard content checksums (reproducibility audit):")
    training_shard_checksums(spark, SF_DIR).show(4)

    # 6. round-6 third-session operators: leakage-safe splits + corpus
    # health diagnostics
    from columnar_analytics_engine_spark.queries.llm import (
        corpus_ngram_diversity,
        dedup_cross_source_matrix,
        training_leakage_safe_split,
    )
    from columnar_analytics_engine_spark.queries.training import text_zipf_fit

    print("cluster-aware train/val/test split (near-dups never straddle):")
    split = training_leakage_safe_split(spark, SF_DIR)
    split.groupBy("split").count().show()
    print("near-dup flow between sources (mirror/recrawl matrix), top cells:")
    dedup_cross_source_matrix(spark, SF_DIR).orderBy(
        F.col("n_dup_pairs").desc()
    ).show(5)
    print("per-source n-gram diversity (low distinct_2 = templated):")
    corpus_ngram_diversity(spark, SF_DIR).show(5)
    print("Zipf fit over the vocabulary (slope near -1 = healthy):")
    text_zipf_fit(spark, SF_DIR).show()


if __name__ == "__main__":
    main()
