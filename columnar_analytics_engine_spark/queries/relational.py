"""Relational extension surface: joins, windows, sorts, set ops, scalars.

The reference has none of these (SURVEY.md §2.4-§2.8 — confirmed absent,
/root/reference/README.md "No joins: Only single-table queries"); Spark
provides them natively.  Scale design notes per query family:

  * Dimension joins broadcast (``F.broadcast``) — no shuffle of the fact
    table; AQE converts sort-merge→broadcast at runtime when a filtered
    side turns out small.
  * Fact-fact joins shuffle on the join key; AQE skew-join splits hot
    keys.
  * Windows shuffle once on the partition key, then sort within
    partitions — no driver materialization.
  * Top-k = orderBy().limit(k) plans as TakeOrderedAndProject: per
    partition heap + driver merge of k rows, never a full global sort.

Float determinism: all money sums use exact integer-scaled arithmetic
(queries/_util.py) so values hash-match DuckDB bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from columnar_analytics_engine_spark.queries._util import (
    REVENUE,
    QuerySpec,
    exact_avg,
    exact_sum,
    sql_exact_avg,
    sql_exact_sum,
    t,
)


# -- joins --------------------------------------------------------------------

def join_broadcast_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⋈dim with an explicit broadcast of the small side: the orders
    fact never shuffles; each task joins against a replicated customer
    hash map. At 100 TB the dim (1.5M rows/SF) still broadcasts."""
    orders = t(spark, sf_dir, "orders")
    customer = t(spark, sf_dir, "customer")
    return (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey, "inner")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_orders"), exact_sum("o_totalprice", "sum_price"))
        .orderBy("c_mktsegment")
    )


def join_bloom_prefiltered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner join with Bloom semi-join reduction of the fact side
    (operators/bloomjoin.py): the high-balance customer keys are folded
    into a 4096-bit bitmap by one mergeable aggregation, the bitmap is
    broadcast, and orders that cannot match are dropped by bit tests
    BEFORE any join — the shuffle-cutting pattern for fact⋈filtered-dim
    when the dim is too big to broadcast but its key set fits a bitmap.
    Output is bit-identical to the plain join (false positives die in
    the real join), so the oracle is the plain join SQL.
    """
    from columnar_analytics_engine_spark.operators.bloomjoin import (
        bloom_prefiltered_join,
    )

    orders = t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"), "o_totalprice"
    )
    rich = (
        t(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9000.0)
        .select(F.col("c_custkey").alias("custkey"), "c_mktsegment")
    )
    return (
        bloom_prefiltered_join(orders, rich, "custkey")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_orders"), exact_sum("o_totalprice", "sum_price"))
        .orderBy("c_mktsegment")
    )


def join_star_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 (local-supplier revenue): 6-table star join.  lineitem
    shuffles once on l_orderkey; every dimension side is broadcast."""
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    customer = t(spark, sf_dir, "customer")
    supplier = t(spark, sf_dir, "supplier")
    nation = t(spark, sf_dir, "nation")
    region = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(supplier), (li.l_suppkey == supplier.s_suppkey) & (customer.c_nationkey == supplier.s_nationkey))
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(exact_sum(REVENUE, "revenue", scale=10_000))
        .orderBy(F.col("revenue").desc(), F.col("n_name"))
    )


def join_left_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join preserving customers with zero orders."""
    customer = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI (EXISTS): customers having at least one high-value order."""
    customer = t(spark, sf_dir, "customer")
    big = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 200_000.0)
    return customer.join(big, customer.c_custkey == big.o_custkey, "left_semi").select(
        "c_custkey", "c_mktsegment"
    )


def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI (NOT EXISTS): customers with no orders at all."""
    customer = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    return customer.join(orders, customer.c_custkey == orders.o_custkey, "left_anti").select(
        "c_custkey", "c_acctbal"
    )


def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join over two aggregated key sets (nation-level order
    vs supplier counts) — exercises null-producing both sides."""
    cust_nations = (
        t(spark, sf_dir, "customer").groupBy("c_nationkey").agg(F.count("*").alias("n_cust"))
    )
    supp_nations = (
        t(spark, sf_dir, "supplier").groupBy("s_nationkey").agg(F.count("*").alias("n_supp"))
    )
    return (
        cust_nations.join(supp_nations, cust_nations.c_nationkey == supp_nations.s_nationkey, "full")
        .select(
            F.coalesce("c_nationkey", "s_nationkey").alias("nationkey"),
            F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
            F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
        )
    )


# -- windows ------------------------------------------------------------------

def window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer by price: row_number over a per-key
    window — the distributed top-k-per-group idiom (one shuffle on the
    partition key, no global sort)."""
    w = W.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        t(spark, sf_dir, "orders")
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative per-customer spend ordered by date — frame-spec window
    aggregate; the cents-integer cumsum keeps every prefix sum exact."""
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cents = F.round(F.col("o_totalprice") * F.lit(100.0)).cast("long")
    return t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        (F.sum(cents).over(w).cast("double") / F.lit(100.0)).alias("running_spend"),
    )


def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag(): days between consecutive orders of a customer."""
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    prev = F.lag(F.col("o_orderdate")).over(w)
    return t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.datediff(F.col("o_orderdate").cast("date"), prev.cast("date"))
        .cast("long")
        .alias("days_since_prev"),
    )


def window_rank_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank / dense_rank over part retail prices within a brand."""
    w = W.partitionBy("p_brand").orderBy(F.col("p_retailprice").desc(), F.col("p_partkey"))
    return t(spark, sf_dir, "part").select(
        "p_brand",
        "p_partkey",
        F.rank().over(w).cast("long").alias("price_rank"),
        F.dense_rank().over(w).cast("long").alias("price_dense_rank"),
    )


# -- sorts / limits / top-k ---------------------------------------------------

def sort_limit_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-100 by price: plans as TakeOrderedAndProject (per-
    partition heaps + driver merge), not a full sort — the 100 TB-safe
    form of ORDER BY … LIMIT."""
    return (
        t(spark, sf_dir, "lineitem")
        .orderBy(F.col("l_extendedprice").desc(), F.col("l_orderkey"), F.col("l_linenumber"))
        .limit(100)
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
    )


# -- set operations -----------------------------------------------------------

def set_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = (
        t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("custkey"))
    )
    b = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 300_000.0)
        .select(F.col("o_custkey").alias("custkey"))
    )
    return a.union(b).distinct()


def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = (
        t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("custkey"))
    )
    b = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 100_000.0)
        .select(F.col("o_custkey").alias("custkey"))
    )
    return a.intersect(b)


def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = (
        t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("custkey"))
    )
    b = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 100_000.0)
        .select(F.col("o_custkey").alias("custkey"))
    )
    # subtract == SQL EXCEPT (distinct set difference); exceptAll would be
    # the bag variant and diverges whenever a key survives with higher
    # left multiplicity.
    return a.subtract(b)


# -- distinct / grouping sets -------------------------------------------------

def distinct_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 40.0)
    return df.agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
    )


def rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP(l_returnflag, l_linestatus) with subtotal rows COALESCEd to
    'ALL' (data is null-free so the sentinel is unambiguous)."""
    return (
        t(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n_rows"), exact_sum("l_quantity", "sum_qty"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "n_rows",
            "sum_qty",
        )
        .orderBy("returnflag", "linestatus")
    )


def cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n_rows"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n_rows",
        )
        .orderBy("status", "priority")
    )


def pivot_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT l_linestatus into columns (values pinned so the plan is
    static — required both for determinism and for single-pass
    execution)."""
    out = (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(exact_sum("l_quantity", "q"))
        .orderBy("l_returnflag")
    )
    return out.select(
        "l_returnflag",
        F.col("O").alias("qty_open"),
        F.col("F").alias("qty_filled"),
    )


# -- TPC-H classics -----------------------------------------------------------

def tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 pricing summary — the flagship: scan + pushdown filter +
    8 aggregates + 2-key group + sort, all exact-arithmetic."""
    df = t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    charge = f"({REVENUE}) * (1D + l_tax)"
    return (
        df.groupBy("l_returnflag", "l_linestatus")
        .agg(
            exact_sum("l_quantity", "sum_qty"),
            exact_sum("l_extendedprice", "sum_base_price"),
            exact_sum(REVENUE, "sum_disc_price", scale=10_000),
            exact_sum(charge, "sum_charge", scale=1_000_000),
            exact_avg("l_quantity", "avg_qty"),
            exact_avg("l_extendedprice", "avg_price"),
            exact_avg("l_discount", "avg_disc", scale=10_000),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def tpch_q3_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shipping priority (adapted: fixture has no o_shippriority
    column): top-10 unshipped orders by revenue."""
    cutoff = F.lit("1997-06-01").cast("timestamp")
    customer = t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(exact_sum(REVENUE, "revenue", scale=10_000))
        .select(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "revenue",
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


def tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 forecast revenue change: pure scan+filter+agg — entirely
    pushed to the Parquet reader."""
    df = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24.0)
    )
    return df.agg(
        exact_sum("l_extendedprice * l_discount", "revenue", scale=10_000),
        F.count("*").alias("n_rows"),
    )


def tpch_q10_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 returned-item reporting (adapted to fixture columns):
    top-20 customers by revenue lost on returned items."""
    orders = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    customer = t(spark, sf_dir, "customer")
    nation = t(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(exact_sum(REVENUE, "revenue", scale=10_000))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


# -- scalar functions ---------------------------------------------------------

def scalar_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = t(spark, sf_dir, "part")
    return df.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_upper"),
        F.length("p_name").cast("long").alias("name_len"),
        F.substring("p_type", 1, 5).alias("type_prefix"),
        F.concat(F.col("p_brand"), F.lit("/"), F.col("p_type")).alias("brand_type"),
        F.regexp_replace(F.col("p_type"), " ", "_").alias("type_snake"),
        F.col("p_name").contains("green").alias("has_green"),
    )


def scalar_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = t(spark, sf_dir, "orders")
    return df.select(
        "o_orderkey",
        F.year("o_orderdate").cast("long").alias("order_year"),
        F.month("o_orderdate").cast("long").alias("order_month"),
        F.dayofmonth("o_orderdate").cast("long").alias("order_day"),
        F.date_format(F.date_trunc("month", F.col("o_orderdate")), "yyyy-MM-dd").alias(
            "month_start"
        ),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate_str"),
    )


def scalar_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = t(spark, sf_dir, "customer")
    return df.select(
        "c_custkey",
        F.abs("c_acctbal").alias("abs_bal"),
        F.ceil("c_acctbal").cast("long").alias("ceil_bal"),
        F.floor("c_acctbal").cast("long").alias("floor_bal"),
        F.sqrt(F.abs("c_acctbal")).alias("sqrt_abs_bal"),
        (F.col("c_custkey") % F.lit(7)).alias("mod7"),
        (F.col("c_acctbal") * F.col("c_acctbal")).alias("bal_sq"),
    )


def case_when_bucketing(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = t(spark, sf_dir, "lineitem")
    bucket = (
        F.when(F.col("l_quantity") < 10.0, "low")
        .when(F.col("l_quantity") < 30.0, "mid")
        .otherwise("high")
    )
    return (
        df.select(bucket.alias("qty_bucket"))
        .groupBy("qty_bucket")
        .agg(F.count("*").alias("n_rows"))
        .orderBy("qty_bucket")
    )


QUERIES: dict[str, QuerySpec] = {
    "join_broadcast_inner": QuerySpec(
        join_broadcast_inner,
        f"""
        SELECT c_mktsegment, COUNT(*) AS n_orders,
               {sql_exact_sum('o_totalprice', 'sum_price')}
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment ORDER BY c_mktsegment
        """,
        "broadcast inner join fact⋈dim",
        ("join",),
    ),
    "join_bloom_prefiltered": QuerySpec(
        join_bloom_prefiltered,
        f"""
        SELECT c_mktsegment, COUNT(*) AS n_orders,
               {sql_exact_sum('o_totalprice', 'sum_price')}
        FROM orders JOIN customer ON o_custkey = c_custkey
        WHERE c_acctbal > 9000.0
        GROUP BY c_mktsegment ORDER BY c_mktsegment
        """,
        "inner join with Bloom semi-join reduction of the fact side",
        ("join", "scale"),
    ),
    "join_star_tpch_q5": QuerySpec(
        join_star_tpch_q5,
        f"""
        SELECT n_name,
               {sql_exact_sum(REVENUE, 'revenue', 10_000)}
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY n_name ORDER BY revenue DESC, n_name
        """,
        "TPC-H Q5 six-table star join",
        ("join", "tpch"),
    ),
    "join_left_count": QuerySpec(
        join_left_count,
        """
        SELECT c_custkey, COUNT(o_orderkey) AS n_orders
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        GROUP BY c_custkey
        """,
        "left outer join keeping zero-order customers",
        ("join",),
    ),
    "join_semi": QuerySpec(
        join_semi,
        """
        SELECT c_custkey, c_mktsegment FROM customer
        WHERE EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_totalprice > 200000.0)
        """,
        "left semi join (EXISTS)",
        ("join",),
    ),
    "join_anti": QuerySpec(
        join_anti,
        """
        SELECT c_custkey, c_acctbal FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        """,
        "left anti join (NOT EXISTS)",
        ("join",),
    ),
    "join_full_outer": QuerySpec(
        join_full_outer,
        """
        WITH c AS (SELECT c_nationkey, COUNT(*) AS n_cust FROM customer GROUP BY c_nationkey),
             s AS (SELECT s_nationkey, COUNT(*) AS n_supp FROM supplier GROUP BY s_nationkey)
        SELECT COALESCE(c_nationkey, s_nationkey) AS nationkey,
               COALESCE(n_cust, 0) AS n_cust,
               COALESCE(n_supp, 0) AS n_supp
        FROM c FULL OUTER JOIN s ON c_nationkey = s_nationkey
        """,
        "full outer join of aggregated key sets",
        ("join",),
    ),
    "window_topk_per_group": QuerySpec(
        window_topk_per_group,
        """
        SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
          SELECT o_custkey, o_orderkey, o_totalprice,
                 ROW_NUMBER() OVER (PARTITION BY o_custkey
                                    ORDER BY o_totalprice DESC, o_orderkey) AS rn
          FROM orders) sub
        WHERE rn <= 3
        """,
        "top-k per group via row_number window",
        ("window",),
    ),
    "window_running_sum": QuerySpec(
        window_running_sum,
        """
        SELECT o_custkey, o_orderkey,
               CAST(SUM(CAST(ROUND(o_totalprice * CAST(100 AS DOUBLE)) AS BIGINT))
                    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                          ROWS UNBOUNDED PRECEDING) AS DOUBLE)
               / CAST(100 AS DOUBLE) AS running_spend
        FROM orders
        """,
        "running cumulative sum window",
        ("window",),
    ),
    "window_lag_lead": QuerySpec(
        window_lag_lead,
        """
        SELECT o_custkey, o_orderkey,
               date_diff('day',
                         CAST(LAG(o_orderdate) OVER (PARTITION BY o_custkey
                              ORDER BY o_orderdate, o_orderkey) AS DATE),
                         CAST(o_orderdate AS DATE)) AS days_since_prev
        FROM orders
        """,
        "lag window: days between consecutive orders",
        ("window",),
    ),
    "window_rank_dense": QuerySpec(
        window_rank_dense,
        """
        SELECT p_brand, p_partkey,
               RANK() OVER w AS price_rank,
               DENSE_RANK() OVER w AS price_dense_rank
        FROM part
        WINDOW w AS (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey)
        """,
        "rank and dense_rank windows",
        ("window",),
    ),
    "sort_limit_topk": QuerySpec(
        sort_limit_topk,
        """
        SELECT l_orderkey, l_linenumber, l_extendedprice
        FROM lineitem
        ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
        LIMIT 100
        """,
        "global top-k (TakeOrderedAndProject)",
        ("sort",),
    ),
    "set_union": QuerySpec(
        set_union,
        """
        SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        UNION
        SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 300000.0
        """,
        "UNION (distinct)",
        ("setop",),
    ),
    "set_intersect": QuerySpec(
        set_intersect,
        """
        SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        INTERSECT
        SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 100000.0
        """,
        "INTERSECT",
        ("setop",),
    ),
    "set_except": QuerySpec(
        set_except,
        """
        SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        EXCEPT
        SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 100000.0
        """,
        "EXCEPT",
        ("setop",),
    ),
    "distinct_count": QuerySpec(
        distinct_count,
        """
        SELECT COUNT(DISTINCT l_partkey) AS n_parts,
               COUNT(DISTINCT l_suppkey) AS n_supps
        FROM lineitem WHERE l_quantity > 40.0
        """,
        "multi COUNT(DISTINCT)",
        ("agg",),
    ),
    "rollup_agg": QuerySpec(
        rollup_agg,
        f"""
        SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
               COALESCE(l_linestatus, 'ALL') AS linestatus,
               COUNT(*) AS n_rows,
               {sql_exact_sum('l_quantity', 'sum_qty')}
        FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        ORDER BY returnflag, linestatus
        """,
        "ROLLUP grouping sets",
        ("agg",),
    ),
    "cube_agg": QuerySpec(
        cube_agg,
        """
        SELECT COALESCE(o_orderstatus, 'ALL') AS status,
               COALESCE(o_orderpriority, 'ALL') AS priority,
               COUNT(*) AS n_rows
        FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        ORDER BY status, priority
        """,
        "CUBE grouping sets",
        ("agg",),
    ),
    "pivot_agg": QuerySpec(
        pivot_agg,
        f"""
        SELECT l_returnflag,
               {sql_exact_sum("CASE WHEN l_linestatus = 'O' THEN l_quantity END", 'qty_open')},
               {sql_exact_sum("CASE WHEN l_linestatus = 'F' THEN l_quantity END", 'qty_filled')}
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
        """,
        "PIVOT via conditional aggregation",
        ("agg",),
    ),
    "tpch_q1": QuerySpec(
        tpch_q1,
        f"""
        SELECT l_returnflag, l_linestatus,
               {sql_exact_sum('l_quantity', 'sum_qty')},
               {sql_exact_sum('l_extendedprice', 'sum_base_price')},
               {sql_exact_sum(REVENUE, 'sum_disc_price', 10_000)},
               {sql_exact_sum(f'({REVENUE}) * (1.0 + l_tax)', 'sum_charge', 1_000_000)},
               {sql_exact_avg('l_quantity', 'avg_qty')},
               {sql_exact_avg('l_extendedprice', 'avg_price')},
               {sql_exact_avg('l_discount', 'avg_disc', 10_000)},
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
        """,
        "TPC-H Q1 pricing summary (flagship)",
        ("tpch", "agg"),
    ),
    "tpch_q3_adapted": QuerySpec(
        tpch_q3_adapted,
        f"""
        SELECT l_orderkey,
               strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
               {sql_exact_sum(REVENUE, 'revenue', 10_000)}
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1997-06-01 00:00:00'
          AND l_shipdate  > TIMESTAMP '1997-06-01 00:00:00'
        GROUP BY l_orderkey, o_orderdate
        ORDER BY revenue DESC, l_orderkey
        LIMIT 10
        """,
        "TPC-H Q3 (adapted) top unshipped orders",
        ("tpch", "join"),
    ),
    "tpch_q6": QuerySpec(
        tpch_q6,
        f"""
        SELECT {sql_exact_sum('l_extendedprice * l_discount', 'revenue', 10_000)},
               COUNT(*) AS n_rows
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
          AND l_discount >= 0.05 AND l_discount <= 0.07
          AND l_quantity < 24.0
        """,
        "TPC-H Q6 pure scan-filter-agg",
        ("tpch", "filter"),
    ),
    "tpch_q10_adapted": QuerySpec(
        tpch_q10_adapted,
        f"""
        SELECT c_custkey, c_name, n_name,
               {sql_exact_sum(REVENUE, 'revenue', 10_000)}
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY c_custkey, c_name, n_name
        ORDER BY revenue DESC, c_custkey
        LIMIT 20
        """,
        "TPC-H Q10 (adapted) returned-item revenue",
        ("tpch", "join"),
    ),
    "scalar_string_funcs": QuerySpec(
        scalar_string_funcs,
        """
        SELECT p_partkey,
               UPPER(p_brand) AS brand_upper,
               CAST(LENGTH(p_name) AS BIGINT) AS name_len,
               SUBSTRING(p_type, 1, 5) AS type_prefix,
               CONCAT(p_brand, '/', p_type) AS brand_type,
               REPLACE(p_type, ' ', '_') AS type_snake,
               (p_name LIKE '%green%') AS has_green
        FROM part
        """,
        "string scalar functions",
        ("scalar",),
    ),
    "scalar_date_funcs": QuerySpec(
        scalar_date_funcs,
        """
        SELECT o_orderkey,
               CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS order_year,
               CAST(EXTRACT(MONTH FROM o_orderdate) AS BIGINT) AS order_month,
               CAST(EXTRACT(DAY FROM o_orderdate) AS BIGINT) AS order_day,
               strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
               strftime(o_orderdate, '%Y-%m-%d') AS orderdate_str
        FROM orders
        """,
        "date scalar functions",
        ("scalar",),
    ),
    "scalar_math_funcs": QuerySpec(
        scalar_math_funcs,
        """
        SELECT c_custkey,
               ABS(c_acctbal) AS abs_bal,
               CAST(CEIL(c_acctbal) AS BIGINT) AS ceil_bal,
               CAST(FLOOR(c_acctbal) AS BIGINT) AS floor_bal,
               SQRT(ABS(c_acctbal)) AS sqrt_abs_bal,
               c_custkey % 7 AS mod7,
               c_acctbal * c_acctbal AS bal_sq
        FROM customer
        """,
        "math scalar functions",
        ("scalar",),
    ),
    "case_when_bucketing": QuerySpec(
        case_when_bucketing,
        """
        SELECT CASE WHEN l_quantity < 10.0 THEN 'low'
                    WHEN l_quantity < 30.0 THEN 'mid'
                    ELSE 'high' END AS qty_bucket,
               COUNT(*) AS n_rows
        FROM lineitem GROUP BY 1 ORDER BY qty_bucket
        """,
        "CASE WHEN conditional bucketing",
        ("scalar",),
    ),
}


# ---------------------------------------------------------------------------
# fuzzy join / entity resolution (blocked edit distance)
# ---------------------------------------------------------------------------

_FUZZY_BLOCK_LEN = 16  # name prefix = all but the last 2 digits
_FUZZY_MAX_DIST = 1


def fuzzy_join_customer_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution fuzzy self-join: customer pairs whose names are
    within Levenshtein distance 1, found with PREFIX BLOCKING — the
    classic record-linkage recipe (candidate pairs only within a block,
    never all-pairs).

    Scale shape: the block key (name minus its last 2 characters) is an
    equality shuffle key, so cost is sum over blocks of |block|^2, with
    block size bounded by the key design — the same quadratic-in-a-
    constant contract as the LSH band join.  Like any blocking scheme
    it trades recall for that bound (a pair differing inside the
    blocking prefix is never compared — documented, standard).  The
    edit distance runs ONLY on in-block candidates, JVM-side
    (``levenshtein``, identical algorithm in DuckDB).
    """
    cust = t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    blocked = cust.withColumn(
        "_blk", F.substring(F.col("c_name"), 1, _FUZZY_BLOCK_LEN)
    )
    a = blocked.select(
        F.col("c_custkey").alias("c1"), F.col("c_name").alias("name1"), "_blk"
    )
    b = blocked.select(
        F.col("c_custkey").alias("c2"), F.col("c_name").alias("name2"), "_blk"
    )
    dist = F.levenshtein(F.col("name1"), F.col("name2"))
    return (
        a.join(b, "_blk")
        .filter(F.col("c1") < F.col("c2"))
        .select("c1", "c2", "name1", "name2", dist.alias("distance"))
        .filter(F.col("distance") <= _FUZZY_MAX_DIST)
        .orderBy("c1", "c2")
    )


QUERIES["fuzzy_join_customer_names"] = QuerySpec(
    fuzzy_join_customer_names,
    f"""
    WITH blocked AS (
      SELECT c_custkey, c_name,
             substr(c_name, 1, {_FUZZY_BLOCK_LEN}) AS blk
      FROM customer
    )
    SELECT a.c_custkey AS c1, b.c_custkey AS c2,
           a.c_name AS name1, b.c_name AS name2,
           CAST(levenshtein(a.c_name, b.c_name) AS INT) AS distance
    FROM blocked a JOIN blocked b
      ON a.blk = b.blk AND a.c_custkey < b.c_custkey
    WHERE levenshtein(a.c_name, b.c_name) <= {_FUZZY_MAX_DIST}
    ORDER BY c1, c2
    """,
    "blocked edit-distance fuzzy self-join (entity resolution / record linkage)",
    ("join", "fuzzy"),
)
