"""Bloom semi-join reduction: cut a big side down BEFORE its shuffle.

The 100 TB problem this solves: a fact-side shuffle join against a
filtered dimension moves the entire fact table even though most rows
can never match.  Spark's own runtime row-filtering covers some shapes;
this operator is the explicit, engine-owned version:

  1. build a Bloom bitmap of the small side's join keys as ONE
     aggregation — each key sets k bit positions, partial aggregation
     OR-combines bitmap words map-side, so 1000 executors build partial
     bitmaps and the reduce merges ``n_bits/64`` longs, not keys;
  2. broadcast the (single-row) bitmap and pre-filter the big side with
     pure bit arithmetic (element_at + shift + AND — whole-stage
     codegen, no Python, no join);
  3. run the real join on the survivors.

False positives pass the pre-filter and are then dropped by the actual
join, so the OUTPUT IS BIT-IDENTICAL to the plain join — which is why
the query entry carries an exact SQL oracle (the plain join), while the
plan test asserts the bitmap stage exists.  Hashing is the engine's
md5-derived h60 family — deterministic, engine-independent.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from columnar_analytics_engine_spark.functions.dialect import SPARK
from columnar_analytics_engine_spark.functions.hashing import h60

BLOOM_BITS = 4096  # bitmap size (64 longs); size for n_keys*k/ln2 bits
BLOOM_K = 4        # hash functions per key


def _positions(key_col: str, n_bits: int, k: int) -> list[Column]:
    s = f"CAST({SPARK.quote(key_col)} AS STRING)"
    return [F.expr(f"pmod({h60(f'bl{i}:', s)}, {n_bits})") for i in range(k)]


# 2^j as a signed long for j = 0..63 (bit 63 is the sign bit); a literal
# array lookup sidesteps shiftleft's Python-int-only shift argument and
# stays inside whole-stage codegen.  Built lazily — Column construction
# touches the JVM, so a module-level literal would require an active
# SparkContext at import time.
def _pow2() -> Column:
    return F.array(
        *[F.lit((1 << j) if j < 63 else -(1 << 63)).cast("long") for j in range(64)]
    )


def _bit_value(pos: Column) -> Column:
    """The single-bit long for bit ``pos % 64``."""
    return F.element_at(_pow2(), F.pmod(pos, F.lit(64)).cast("int") + 1)


def bloom_bitmap(
    small: DataFrame, key_col: str, n_bits: int = BLOOM_BITS, k: int = BLOOM_K
) -> DataFrame:
    """One-row DataFrame with a dense ``array<long>`` Bloom bitmap of
    the small side's keys (column ``_bloom``).

    Shape: explode each key into its k bit positions, reduce to
    per-word OR masks (``bit_or`` — partial-agg combinable), then
    assemble the dense word array from the sparse map.  The shuffle
    carries at most ``n_bits/64`` rows regardless of key count.
    """
    n_words = n_bits // 64
    pos = small.select(
        F.explode(F.array(*_positions(key_col, n_bits, k))).alias("p")
    )
    words = (
        pos.select(
            (F.col("p") / 64).cast("int").alias("w"),
            _bit_value(F.col("p")).alias("b"),
        )
        .groupBy("w")
        .agg(F.bit_or("b").alias("bits"))
    )
    sparse = words.agg(
        F.map_from_entries(F.collect_list(F.struct("w", "bits"))).alias("m")
    )
    dense = F.transform(
        F.sequence(F.lit(0), F.lit(n_words - 1)),
        lambda i: F.coalesce(F.element_at(F.col("m"), i.cast("int")), F.lit(0).cast("long")),
    )
    return sparse.select(dense.alias("_bloom"))


def bloom_might_contain(key_col: str, bitmap_col: Column, n_bits: int = BLOOM_BITS, k: int = BLOOM_K) -> Column:
    """True iff all k bit positions of column ``key_col`` are set in the bitmap."""
    tests = []
    for p in _positions(key_col, n_bits, k):
        word = F.element_at(bitmap_col, (p / 64).cast("int") + 1)
        tests.append(word.bitwiseAND(_bit_value(p)) != 0)
    return reduce(lambda a, b: a & b, tests)


def bloom_prefiltered_join(
    big: DataFrame,
    small: DataFrame,
    key_col: str,
    n_bits: int = BLOOM_BITS,
    k: int = BLOOM_K,
) -> DataFrame:
    """Inner join with the big side Bloom-reduced first.

    Output is identical to ``big.join(small, key_col)`` — the bitmap
    only removes rows that cannot match; false positives are dropped by
    the join itself.
    """
    bitmap = bloom_bitmap(small, key_col, n_bits, k)
    reduced = (
        big.join(F.broadcast(bitmap))
        .filter(bloom_might_contain(key_col, F.col("_bloom"), n_bits, k))
        .drop("_bloom")
    )
    return reduced.join(small, key_col)
