"""Scalar/array function helpers: text analysis, similarity, hashing.

The cross-engine formulas return SQL text for a dialect
(``functions/dialect.py``): wrap in ``F.expr`` for Spark, interpolate
into query SQL for the DuckDB oracle.
"""

from columnar_analytics_engine_spark.functions.dialect import DUCKDB, SPARK, Dialect
from columnar_analytics_engine_spark.functions.hashing import (
    affine_hash_array,
    gram_hash_array,
    h60,
    token_hash_structs,
)
from columnar_analytics_engine_spark.functions.text import (
    distinct_tokens,
    fingerprint,
    predict_language,
    stopword_hits,
    tokens,
)

__all__ = [
    "DUCKDB",
    "SPARK",
    "Dialect",
    "affine_hash_array",
    "distinct_tokens",
    "fingerprint",
    "gram_hash_array",
    "h60",
    "predict_language",
    "stopword_hits",
    "token_hash_structs",
    "tokens",
]
