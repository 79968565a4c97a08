"""Streaming incremental dedup: a ``foreachBatch`` sink that classifies
each arriving micro-batch of documents against a persistent fingerprint
index — the continuously-updated-corpus shape (every crawl drop dedups
against ALL history without ever rescanning it).

Contract per micro-batch (same precedence as the batch twin,
queries/curation.dedup_incremental):

  * ``dup_of_history`` — fingerprint already in the index (matched to
    the id that first brought it);
  * ``dup_in_batch``   — first occurrence within this batch wins;
  * ``new``            — first sighting ever; its fingerprint is
    appended to the index so LATER batches see it as history.

Scale shape: the index is a (fingerprint → first doc_id) parquet table
keyed on a 32-byte digest — at 100 TB this is the maintained index a
production pipeline keeps (optionally bucketed on the digest for a
shuffle-free probe join); the per-batch work is one digest join + one
window over the batch, never a history rescan.

Exactly-once: both sinks are partitioned by ``batch_id`` and written
with dynamic partition OVERWRITE, so a foreachBatch retry of the same
micro-batch (Spark replays the batch_id after a failure) replaces its
own partition instead of appending a duplicate — the classified output
and the index stay exact under retries without a driver-side commit
log.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from columnar_analytics_engine_spark.functions.text import fingerprint
from columnar_analytics_engine_spark.artifacts import resolve_artifact


def read_index(spark: SparkSession, index_path: str) -> DataFrame:
    """The fingerprint index, or an empty frame if none exists yet.

    Only the path-not-found miss is treated as "no index"; a genuine
    read failure (corrupt footer, permissions, transient FS error) must
    propagate — swallowing it would reclassify every historical
    duplicate as ``new`` and corrupt the index.
    """
    try:
        return spark.read.parquet(resolve_artifact(index_path)).select("fp", "hist_id")
    except AnalysisException as exc:
        if "PATH_NOT_FOUND" in str(exc) or "Path does not exist" in str(exc):
            return spark.createDataFrame([], "fp string, hist_id long")
        raise


def classify_batch(
    spark: SparkSession, batch: DataFrame, index_path: str
) -> DataFrame:
    """Classify one batch of (doc_id, text) rows against the index."""
    fp = batch.select("doc_id", F.expr(fingerprint("text")).alias("fp"))
    hist = read_index(spark, index_path)
    w = W.partitionBy("fp").orderBy("doc_id")
    ranked = fp.withColumn("rn", F.row_number().over(w))
    j = ranked.join(hist, "fp", "left")
    status = (
        F.when(F.col("hist_id").isNotNull(), F.lit("dup_of_history"))
        .when(F.col("rn") > 1, F.lit("dup_in_batch"))
        .otherwise(F.lit("new"))
    )
    keeper = F.coalesce(
        F.col("hist_id"), F.min("doc_id").over(W.partitionBy("fp"))
    )
    return j.select(
        "doc_id", "fp", status.alias("status"), keeper.alias("matched_id")
    )


def incremental_dedup_query(
    spark: SparkSession,
    docs_stream: DataFrame,
    state_dir: str,
):
    """Build the streaming query: classify every micro-batch, write the
    classified rows to ``{state_dir}/classified`` and the new
    fingerprints to ``{state_dir}/index``, both partitioned by batch id
    (dynamic-overwrite per partition ⇒ retry-idempotent).

    Returns the (not-yet-started) ``DataStreamWriter``; callers pick the
    trigger (tests use ``availableNow`` to drain a bounded source).
    """
    index_path = f"{state_dir}/index"
    out_path = f"{state_dir}/classified"

    def process(batch_df: DataFrame, batch_id: int) -> None:
        classified = classify_batch(spark, batch_df, index_path).withColumn(
            "batch_id", F.lit(batch_id)
        )
        # persist before the two writes: classification reads the index,
        # and the index append below must not see its own batch
        classified.persist()
        try:
            (
                classified.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("batch_id")
                .parquet(out_path)
            )
            (
                classified.filter(F.col("status") == "new")
                .select("fp", F.col("doc_id").alias("hist_id"), "batch_id")
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("batch_id")
                .parquet(resolve_artifact(index_path))
            )
        finally:
            classified.unpersist()

    return (
        docs_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", f"{state_dir}/_checkpoint")
    )
