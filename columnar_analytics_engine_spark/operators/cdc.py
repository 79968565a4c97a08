"""Content-defined chunking (CDC) over token streams.

Fixed-window passage dedup (operators/… duplicated-passage detection)
breaks when shared content shifts position: inserting one token ahead of
a copied paragraph changes every window.  CDC places chunk boundaries
where a *content* hash fires — a token whose keyed hash is ≡ 0 modulo
2^boundary_bits ends the current chunk — so boundaries travel with the
content, and a passage copied into a different document (at any offset)
produces the **same chunks with the same hashes**.  This is the
rolling-hash chunking used by large-scale dedup/storage systems (LBFS,
restic, data-pipeline fuzzy dedup), expressed as a pure DataFrame plan.

Scale shape: one posexplode (rows = total tokens), one per-document
window (partitioned by doc_id — no global ordering), one groupBy
(doc_id, chunk_id) with a map-side-combinable sorted collect of ≤ the
expected 2^boundary_bits tokens, then a chunk_hash groupBy whose shuffle
key is a 32-byte digest.  Nothing is quadratic; hot chunk hashes (the
boilerplate being hunted) collapse in map-side partial aggregation.

Expected chunk length is 2^boundary_bits tokens (geometric); pick
boundary_bits ≈ log2(target passage size).  All hashing is md5-derived
(functions/hashing.h60) so the DuckDB oracle replays every stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from columnar_analytics_engine_spark.functions.dialect import SPARK
from columnar_analytics_engine_spark.functions.hashing import h60
from columnar_analytics_engine_spark.functions.text import tokens

CDC_SEED_PREFIX = "cdc:"


def cdc_chunks(
    docs: DataFrame,
    boundary_bits: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Chunk every document at content-defined boundaries.

    Output: (doc_id, chunk_id, start_pos, n_tokens, chunk_hash) — one row
    per chunk, chunk_id counting from 0 within each doc in token order.
    ``chunk_hash`` is md5 of the space-joined token run, so equal content
    ⇒ equal hash across documents and positions.
    """
    modulus = 1 << boundary_bits
    tok = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.expr(tokens(SPARK.quote(text_col)))).alias("pos", "token"),
    )
    # a token whose hash fires ENDS its chunk: the chunk id of a token is
    # the number of boundary tokens strictly before it
    flag = F.expr(f"CAST(pmod({h60(CDC_SEED_PREFIX, 'token')}, {modulus}) = 0 AS BIGINT)")
    w_prev = (
        W.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    chunked = tok.withColumn(
        "chunk_id", F.coalesce(F.sum(flag).over(w_prev), F.lit(0)).cast("long")
    )
    ordered = F.transform(
        F.array_sort(F.collect_list(F.struct(F.col("pos"), F.col("token")))),
        lambda s: s["token"],
    )
    return (
        chunked.groupBy("doc_id", "chunk_id")
        .agg(
            F.min("pos").cast("long").alias("start_pos"),
            F.count("*").alias("n_tokens"),
            F.md5(F.array_join(ordered, " ")).alias("chunk_hash"),
        )
    )


def shared_chunks(
    docs: DataFrame,
    boundary_bits: int = 4,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cross-document shared-content report: every chunk whose exact
    token run appears in ≥ ``min_docs`` distinct documents.

    Output: (chunk_hash, n_docs, n_occurrences, first_doc, n_tokens).
    The shuffle key is the chunk digest — boilerplate shared by millions
    of documents still costs one group, with partial aggregation
    collapsing occurrences map-side.
    """
    chunks = cdc_chunks(
        docs, boundary_bits=boundary_bits, id_col=id_col, text_col=text_col
    )
    return (
        chunks.groupBy("chunk_hash")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_occurrences"),
            F.min("doc_id").alias("first_doc"),
            F.min("n_tokens").alias("n_tokens"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )
