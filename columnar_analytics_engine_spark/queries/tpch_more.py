"""Further TPC-H adaptations (Q4/Q7/Q9/Q14/Q18/Q19 shapes).

Adapted where the driver fixture lacks columns (no l_commitdate /
l_receiptdate / ps_supplycost / c_phone): each docstring states the
adaptation.  Collectively these cover: EXISTS with correlated date
arithmetic, dual-aliased dimension joins, disjunctive multi-conjunct
predicates, conditional-aggregate ratios, and having-gated semi joins —
the relational shapes the simpler queries don't reach.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from columnar_analytics_engine_spark.functions.caching import persist_once
from columnar_analytics_engine_spark.queries._util import (
    REVENUE,
    QuerySpec,
    exact_sum,
    round_to_long_sql,
    sql_exact_sum,
    t,
)


def tpch_q4_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 order-priority checking (adapted: no l_commitdate — 'late'
    means shipped >60 days after the order date)."""
    orders = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    li = t(spark, sf_dir, "lineitem")
    late = orders.join(
        li,
        (li.l_orderkey == orders.o_orderkey)
        & (li.l_shipdate > F.expr("o_orderdate + INTERVAL 60 DAYS")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


def tpch_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7: revenue shipped between NATION_1 and NATION_2 in either
    direction, by year — dual-aliased nation dimension."""
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    orders = t(spark, sf_dir, "orders")
    customer = t(spark, sf_dir, "customer")
    supplier = t(spark, sf_dir, "supplier")
    n1 = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nkey"))
        .filter(pair)
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("l_year")
        )
        .agg(exact_sum(REVENUE, "revenue", scale=10_000))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


def tpch_q9_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 product-type profit (adapted: no ps_supplycost — profit is
    discounted revenue), for parts with 'red' in the name, by supplier
    nation and order year."""
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part").filter(F.col("p_name").contains("red"))
    supplier = t(spark, sf_dir, "supplier")
    orders = t(spark, sf_dir, "orders")
    nation = t(spark, sf_dir, "nation")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(exact_sum(REVENUE, "sum_profit", scale=10_000))
        .orderBy(F.col("nation"), F.col("o_year").desc())
    )


def tpch_q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14 promotion effect: promo revenue share in one month.  The
    ratio divides two exact scaled-integer sums, so it is bit-stable."""
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    part = t(spark, sf_dir, "part")
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    cents = F.expr(round_to_long_sql(f"({REVENUE}) * 10000.0D"))
    promo = F.sum(F.when(F.col("p_type").startswith("PROMO"), cents).otherwise(F.lit(0)))
    total = F.sum(cents)
    return joined.agg(
        ((promo.cast("double") / total.cast("double")) * F.lit(100.0)).alias(
            "promo_revenue_pct"
        ),
        F.count("*").alias("n_rows"),
    )


def tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18 large-volume customers: orders whose total quantity exceeds
    300, with customer detail, top-100."""
    li = t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(exact_sum("l_quantity", "total_qty"))
        .filter(F.col("total_qty") > 300.0)
    )
    orders = t(spark, sf_dir, "orders")
    customer = t(spark, sf_dir, "customer")
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .select(
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_totalprice",
            "total_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
    )


def tpch_q19_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19 discounted revenue under an OR of three brand/size/quantity
    conjunct groups — the disjunctive-pushdown stress case."""
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    c1 = (
        (F.col("p_brand") == "Brand#23")
        & (F.col("p_size").between(1, 5))
        & (F.col("l_quantity").between(1.0, 11.0))
    )
    c2 = (
        (F.col("p_brand") == "Brand#15")
        & (F.col("p_size").between(1, 10))
        & (F.col("l_quantity").between(10.0, 20.0))
    )
    c3 = (
        (F.col("p_brand") == "Brand#6")
        & (F.col("p_size").between(1, 15))
        & (F.col("l_quantity").between(20.0, 30.0))
    )
    return j.filter(c1 | c2 | c3).agg(
        exact_sum(REVENUE, "revenue", scale=10_000), F.count("*").alias("n_rows")
    )


QUERIES: dict[str, QuerySpec] = {
    "tpch_q4_adapted": QuerySpec(
        tpch_q4_adapted,
        """
        SELECT o_orderpriority, COUNT(*) AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1996-10-01 00:00:00'
          AND EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey
                        AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        GROUP BY o_orderpriority ORDER BY o_orderpriority
        """,
        "TPC-H Q4 (adapted): late-shipping order counts by priority",
        ("tpch", "join"),
    ),
    "tpch_q7_volume_shipping": QuerySpec(
        tpch_q7_volume_shipping,
        f"""
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(EXTRACT(YEAR FROM l_shipdate) AS BIGINT) AS l_year,
               {sql_exact_sum(REVENUE, 'revenue', 10_000)}
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
          AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
            OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        GROUP BY 1, 2, 3 ORDER BY supp_nation, cust_nation, l_year
        """,
        "TPC-H Q7: bilateral shipping volume by year",
        ("tpch", "join"),
    ),
    "tpch_q9_adapted": QuerySpec(
        tpch_q9_adapted,
        f"""
        SELECT n_name AS nation,
               CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
               {sql_exact_sum(REVENUE, 'sum_profit', 10_000)}
        FROM lineitem
        JOIN part     ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN nation   ON s_nationkey = n_nationkey
        WHERE p_name LIKE '%red%'
        GROUP BY 1, 2 ORDER BY nation, o_year DESC
        """,
        "TPC-H Q9 (adapted): nation profit by year",
        ("tpch", "join"),
    ),
    "tpch_q14_promo_revenue": QuerySpec(
        tpch_q14_promo_revenue,
        f"""
        SELECT (CAST(SUM(CASE WHEN p_type LIKE 'PROMO%'
                         THEN CAST(ROUND(({REVENUE}) * CAST(10000 AS DOUBLE)) AS BIGINT)
                         ELSE 0 END) AS DOUBLE)
                / CAST(SUM(CAST(ROUND(({REVENUE}) * CAST(10000 AS DOUBLE)) AS BIGINT)) AS DOUBLE))
               * 100.0 AS promo_revenue_pct,
               COUNT(*) AS n_rows
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1997-10-01 00:00:00'
        """,
        "TPC-H Q14: promo revenue share (exact-ratio)",
        ("tpch", "agg"),
    ),
    "tpch_q18_large_orders": QuerySpec(
        tpch_q18_large_orders,
        f"""
        WITH big AS (
          SELECT l_orderkey, {sql_exact_sum('l_quantity', 'total_qty')}
          FROM lineitem GROUP BY l_orderkey
          HAVING CAST(SUM(CAST(ROUND(l_quantity * CAST(100 AS DOUBLE)) AS BIGINT)) AS DOUBLE)
                 / CAST(100 AS DOUBLE) > 300.0
        )
        SELECT c_custkey, o_orderkey,
               strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
               o_totalprice, total_qty
        FROM big
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 100
        """,
        "TPC-H Q18: large-volume orders top-100",
        ("tpch", "join"),
    ),
    "tpch_q19_disjunctive": QuerySpec(
        tpch_q19_disjunctive,
        f"""
        SELECT {sql_exact_sum(REVENUE, 'revenue', 10_000)},
               COUNT(*) AS n_rows
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 5
               AND l_quantity BETWEEN 1.0 AND 11.0)
           OR (p_brand = 'Brand#15' AND p_size BETWEEN 1 AND 10
               AND l_quantity BETWEEN 10.0 AND 20.0)
           OR (p_brand = 'Brand#6' AND p_size BETWEEN 1 AND 15
               AND l_quantity BETWEEN 20.0 AND 30.0)
        """,
        "TPC-H Q19: disjunctive predicate revenue",
        ("tpch", "filter"),
    ),
}


def tpch_q13_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13 customer distribution: histogram of orders-per-customer
    (left join keeps zero-order customers; adapted: the order filter is
    on priority instead of the absent o_comment)."""
    customer = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15 top supplier: supplier(s) with maximum quarterly revenue —
    the revenue-view + scalar-max pattern, exact-arithmetic so the max
    comparison is deterministic."""
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    supplier = t(spark, sf_dir, "supplier")
    revenue = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(exact_sum(REVENUE, "total_revenue", scale=10_000))
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("m"))
    return (
        revenue.join(F.broadcast(max_rev), revenue.total_revenue == F.col("m"))
        .join(supplier, F.col("supplier_no") == supplier.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


def tpch_q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17 small-quantity-order revenue: lineitems of one brand whose
    quantity is below 20% of that part's average quantity; correlated
    average decorrelated into a per-part aggregate join."""
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23")
    qty_cents = F.round(F.col("l_quantity") * F.lit(100.0)).cast("long")
    per_part = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        (
            (F.sum(qty_cents).cast("double") / F.count("*").cast("double"))
            / F.lit(100.0)
        ).alias("avg_qty")
    )
    joined = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(per_part, li.l_partkey == F.col("pk"))
        .filter(F.col("l_quantity") < F.lit(0.2) * F.col("avg_qty"))
    )
    price_cents = F.round(F.col("l_extendedprice") * F.lit(100.0)).cast("long")
    return joined.agg(
        ((F.sum(price_cents).cast("double") / F.lit(100.0)) / F.lit(7.0)).alias(
            "avg_yearly"
        ),
        F.count("*").alias("n_rows"),
    )


QUERIES["tpch_q13_custdist"] = QuerySpec(
    tpch_q13_custdist,
    """
    SELECT c_count, COUNT(*) AS custdist FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority != '1-URGENT'
      GROUP BY c_custkey) pc
    GROUP BY c_count ORDER BY custdist DESC, c_count DESC
    """,
    "TPC-H Q13: orders-per-customer distribution",
    ("tpch", "join"),
)

QUERIES["tpch_q15_top_supplier"] = QuerySpec(
    tpch_q15_top_supplier,
    f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             {sql_exact_sum(REVENUE, 'total_revenue', 10_000)}
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM revenue JOIN supplier ON supplier_no = s_suppkey
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    ORDER BY s_suppkey
    """,
    "TPC-H Q15: top revenue supplier",
    ("tpch", "join"),
)

QUERIES["tpch_q17_small_quantity"] = QuerySpec(
    tpch_q17_small_quantity,
    """
    WITH per_part AS (
      SELECT l_partkey AS pk,
             (CAST(SUM(CAST(ROUND(l_quantity * CAST(100 AS DOUBLE)) AS BIGINT)) AS DOUBLE)
              / CAST(COUNT(*) AS DOUBLE)) / CAST(100 AS DOUBLE) AS avg_qty
      FROM lineitem GROUP BY l_partkey
    )
    SELECT (CAST(SUM(CAST(ROUND(l_extendedprice * CAST(100 AS DOUBLE)) AS BIGINT)) AS DOUBLE)
            / CAST(100 AS DOUBLE)) / 7.0 AS avg_yearly,
           COUNT(*) AS n_rows
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    JOIN per_part ON l_partkey = pk
    WHERE p_brand = 'Brand#23'
      AND l_quantity < 0.2 * avg_qty
    """,
    "TPC-H Q17: small-quantity-order revenue",
    ("tpch", "agg"),
)


def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 national market share: one nation's revenue share of its
    region's total per order year — conditional-aggregate ratio of two
    exact integer sums."""
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    customer = t(spark, sf_dir, "customer")
    nation = t(spark, sf_dir, "nation")
    region = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    cents4 = F.expr(round_to_long_sql(f"({REVENUE}) * 10000.0D"))
    target = F.sum(F.when(F.col("n_name") == "NATION_5", cents4).otherwise(F.lit(0)))
    total = F.sum(cents4)
    return (
        j.groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            (target.cast("double") / total.cast("double")).alias("mkt_share"),
            F.count("*").alias("n_rows"),
        )
        .orderBy("o_year")
    )


def tpch_q16_supplier_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 parts/supplier relationship (adapted: supplier-part pairs come
    from lineitem instead of the absent partsupp table): distinct
    supplier count per (brand, type-prefix, size)."""
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1") & (F.col("p_size").isin(1, 5, 9, 13, 17))
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(
            "p_brand",
            F.substring("p_type", 1, 3).alias("type_prefix"),
            F.col("p_size").cast("long").alias("p_size"),
        )
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "type_prefix", "p_size")
    )


def tpch_q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22 global sales opportunity (adapted: country code is the
    customer key modulo 7 — the fixture has no phone column): customers
    with above-average positive balance and no urgent orders, per code
    (the fixture has no fully order-less customers)."""
    customer = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    cents = F.round(F.col("c_acctbal") * F.lit(100.0)).cast("long")
    avg_pos = (
        customer.filter(F.col("c_acctbal") > 0.0)
        .agg(
            (
                (F.sum(cents).cast("double") / F.count("*").cast("double"))
                / F.lit(100.0)
            ).alias("avg_bal")
        )
    )
    rich = (
        customer.join(F.broadcast(avg_pos))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(
            orders.filter(F.col("o_orderpriority") == "1-URGENT"),
            customer.c_custkey == orders.o_custkey,
            "left_anti",
        )
    )
    return (
        rich.groupBy((F.col("c_custkey") % 7).alias("cntrycode"))
        .agg(F.count("*").alias("numcust"), exact_sum("c_acctbal", "totacctbal"))
        .orderBy("cntrycode")
    )


QUERIES["tpch_q8_market_share"] = QuerySpec(
    tpch_q8_market_share,
    f"""
    SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
           CAST(SUM(CASE WHEN n_name = 'NATION_5'
                    THEN CAST(ROUND(({REVENUE}) * CAST(10000 AS DOUBLE)) AS BIGINT)
                    ELSE 0 END) AS DOUBLE)
           / CAST(SUM(CAST(ROUND(({REVENUE}) * CAST(10000 AS DOUBLE)) AS BIGINT)) AS DOUBLE)
             AS mkt_share,
           COUNT(*) AS n_rows
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY 1 ORDER BY o_year
    """,
    "TPC-H Q8: national market share per year",
    ("tpch", "join"),
)

QUERIES["tpch_q16_supplier_count"] = QuerySpec(
    tpch_q16_supplier_count,
    """
    SELECT p_brand, SUBSTRING(p_type, 1, 3) AS type_prefix,
           CAST(p_size AS BIGINT) AS p_size,
           COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_brand != 'Brand#1' AND p_size IN (1, 5, 9, 13, 17)
    GROUP BY 1, 2, 3
    ORDER BY supplier_cnt DESC, p_brand, type_prefix, p_size
    """,
    "TPC-H Q16 (adapted): supplier counts per part attribute",
    ("tpch", "agg"),
)

QUERIES["tpch_q22_idle_customers"] = QuerySpec(
    tpch_q22_idle_customers,
    f"""
    WITH avg_pos AS (
      SELECT (CAST(SUM(CAST(ROUND(c_acctbal * CAST(100 AS DOUBLE)) AS BIGINT)) AS DOUBLE)
              / CAST(COUNT(*) AS DOUBLE)) / CAST(100 AS DOUBLE) AS avg_bal
      FROM customer WHERE c_acctbal > 0.0
    )
    SELECT c_custkey % 7 AS cntrycode,
           COUNT(*) AS numcust,
           {sql_exact_sum('c_acctbal', 'totacctbal')}
    FROM customer, avg_pos
    WHERE c_acctbal > avg_bal
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
    GROUP BY 1 ORDER BY cntrycode
    """,
    "TPC-H Q22 (adapted): idle high-balance customers",
    ("tpch", "join"),
)


def tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 minimum-cost supplier (adapted: no partsupp table — the supply
    relation is distilled from lineitem as MIN(l_extendedprice) per
    (part, supplier); no region filter column constraints otherwise).
    Keeps Q2's defining shape: a correlated-minimum subquery over a
    supplier×part supply relation joined to the supplier dimension
    chain, ordered by account balance.  MIN of doubles is exact, so no
    scaling is needed."""
    li = t(spark, sf_dir, "lineitem")
    ps = li.groupBy(
        F.col("l_partkey").alias("partkey"), F.col("l_suppkey").alias("suppkey")
    ).agg(F.min("l_extendedprice").alias("supply_cost"))
    supplier = t(spark, sf_dir, "supplier")
    nation = t(spark, sf_dir, "nation")
    region = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    sreg = (
        supplier.join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    ps_r = ps.join(F.broadcast(sreg), F.col("suppkey") == F.col("s_suppkey"))
    part = t(spark, sf_dir, "part").filter(
        (F.col("p_size").between(10, 20)) & (F.col("p_type") == "STANDARD")
    )
    # correlated minimum as a partkey window over ONE pass of the
    # supply relation: the aggregate-then-self-join form re-runs the
    # lineitem reduce per branch (duplicate_join_subtrees class); the
    # window costs the same single partkey shuffle
    w_min = W.partitionBy("partkey")
    return (
        ps_r.withColumn("min_cost", F.min("supply_cost").over(w_min))
        .filter(F.col("supply_cost") == F.col("min_cost"))
        .join(F.broadcast(part), F.col("partkey") == F.col("p_partkey"))
        .select(
            "s_acctbal", "s_name", "n_name", "p_partkey", "p_name", "supply_cost"
        )
        .orderBy(
            F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey"
        )
        .limit(100)
    )


def tpch_q12_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 shipping-mode / order-priority matrix (adapted: no
    l_shipmode / l_commitdate / l_receiptdate — classes are return
    flags, and 'late' means shipped after the order month ends).
    Keeps Q12's shape: fact join + conditional two-bucket counts per
    class."""
    li = t(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag").isin("R", "A")
        & (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    orders = t(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(F.col("l_shipdate") >= F.expr("o_orderdate + INTERVAL 30 DAYS"))
        .groupBy(F.col("l_returnflag").alias("ship_class"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).cast("long").alias("low_line_count"),
        )
        .orderBy("ship_class")
    )


def tpch_q20_excess_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 dominant-share suppliers (adapted: no partsupp — 'supply'
    is 1997 shipped quantity, and the stock-excess predicate becomes
    supplier share > 30% of the part's total).  Keeps Q20's shape:
    nested semi-join chain gated by a correlated aggregate threshold.
    The share compare is integer (10×sum > 3×total) so it is exact."""
    li97 = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    red = t(spark, sf_dir, "part").filter(F.col("p_name").startswith("red"))
    li_red = li97.join(
        F.broadcast(red.select("p_partkey")),
        li97.l_partkey == F.col("p_partkey"),
        "left_semi",
    )
    qcents = F.round(F.col("l_quantity") * F.lit(100.0)).cast("long")
    sp = li_red.groupBy("l_suppkey", "l_partkey").agg(F.sum(qcents).alias("sq"))
    # the part total is a partkey-window sum over sp — ONE pass; a
    # second groupBy over li_red would re-run the lineitem semi-join
    # per branch (duplicate_join_subtrees class).  Integer sums are
    # associative, so the window total equals the separate reduce.
    excess = (
        sp.withColumn("tq", F.sum("sq").over(W.partitionBy("l_partkey")))
        .filter(F.col("sq") * 10 > F.col("tq") * 3)
        .select("l_suppkey")
        .distinct()
    )
    supplier = t(spark, sf_dir, "supplier")
    nation = t(spark, sf_dir, "nation")
    return (
        supplier.join(excess, supplier.s_suppkey == excess.l_suppkey, "left_semi")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_name", F.col("n_name").alias("nation"), "s_acctbal")
        .orderBy("s_name")
    )


def tpch_q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 suppliers who kept orders waiting (adapted: no l_commitdate /
    l_receiptdate — 'failed the order' means l_returnflag = 'R').
    Keeps Q21's shape: fact self-joins with EXISTS (another supplier
    participated) and NOT EXISTS (no other supplier failed), counted
    per supplier, top-100."""
    li = t(spark, sf_dir, "lineitem")
    orders_f = t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    l1 = (
        li.filter(F.col("l_returnflag") == "R")
        .join(
            orders_f.select("o_orderkey"), li.l_orderkey == F.col("o_orderkey"), "left_semi"
        )
        .select("l_orderkey", "l_suppkey")
    )
    l2 = li.select(
        F.col("l_orderkey").alias("k2"), F.col("l_suppkey").alias("s2")
    )
    l3 = li.filter(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("k3"), F.col("l_suppkey").alias("s3")
    )
    waiting = (
        l1.join(
            l2,
            (F.col("l_orderkey") == F.col("k2")) & (F.col("l_suppkey") != F.col("s2")),
            "left_semi",
        ).join(
            l3,
            (F.col("l_orderkey") == F.col("k3")) & (F.col("l_suppkey") != F.col("s3")),
            "left_anti",
        )
    )
    supplier = t(spark, sf_dir, "supplier")
    return (
        waiting.join(F.broadcast(supplier), waiting.l_suppkey == supplier.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(100)
    )


QUERIES["tpch_q2_min_cost_supplier"] = QuerySpec(
    tpch_q2_min_cost_supplier,
    """
    WITH ps AS (
      SELECT l_partkey AS partkey, l_suppkey AS suppkey,
             MIN(l_extendedprice) AS supply_cost
      FROM lineitem GROUP BY 1, 2
    ),
    sreg AS (
      SELECT s_suppkey, s_name, s_acctbal, n_name
      FROM supplier
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
    ),
    ps_r AS (
      SELECT * FROM ps JOIN sreg ON suppkey = s_suppkey
    )
    SELECT s_acctbal, s_name, n_name, p_partkey, p_name, supply_cost
    FROM ps_r
    JOIN part ON partkey = p_partkey
    WHERE p_size BETWEEN 10 AND 20 AND p_type = 'STANDARD'
      AND supply_cost = (SELECT MIN(supply_cost) FROM ps_r i
                         WHERE i.partkey = ps_r.partkey)
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 100
    """,
    "TPC-H Q2 (adapted): min-cost supplier via correlated minimum",
    ("tpch", "join", "subquery"),
)

QUERIES["tpch_q12_shipmode_priority"] = QuerySpec(
    tpch_q12_shipmode_priority,
    """
    SELECT l_returnflag AS ship_class,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_returnflag IN ('R', 'A')
      AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND l_shipdate >= o_orderdate + INTERVAL 30 DAY
    GROUP BY 1 ORDER BY ship_class
    """,
    "TPC-H Q12 (adapted): late-line priority counts by return class",
    ("tpch", "join", "agg"),
)

QUERIES["tpch_q20_excess_suppliers"] = QuerySpec(
    tpch_q20_excess_suppliers,
    """
    WITH li_red AS (
      SELECT l_suppkey, l_partkey,
             CAST(ROUND(l_quantity * CAST(100 AS DOUBLE)) AS BIGINT) AS qc
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
        AND l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
    ),
    sp AS (SELECT l_suppkey, l_partkey, SUM(qc) AS sq FROM li_red GROUP BY 1, 2),
    tot AS (SELECT l_partkey AS tk, SUM(qc) AS tq FROM li_red GROUP BY 1)
    SELECT s_name, n_name AS nation, s_acctbal
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    WHERE s_suppkey IN (
      SELECT l_suppkey FROM sp JOIN tot ON l_partkey = tk
      WHERE sp.sq * 10 > tot.tq * 3
    )
    ORDER BY s_name
    """,
    "TPC-H Q20 (adapted): suppliers with >30% share of a part's volume",
    ("tpch", "join", "subquery"),
)

QUERIES["tpch_q21_waiting_suppliers"] = QuerySpec(
    tpch_q21_waiting_suppliers,
    """
    SELECT s_name, COUNT(*) AS numwait
    FROM lineitem l1
    JOIN orders   ON l1.l_orderkey = o_orderkey AND o_orderstatus = 'F'
    JOIN supplier ON l1.l_suppkey = s_suppkey
    WHERE l1.l_returnflag = 'R'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 100
    """,
    "TPC-H Q21 (adapted): suppliers who alone failed multi-supplier orders",
    ("tpch", "join", "subquery"),
)


def tpch_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 important stock identification (adapted: no partsupp — a
    part's 'stock value' is its total shipped extended price from
    suppliers of one nation group).  Keeps Q11's shape: grouped value
    sum filtered by HAVING against a scalar global-fraction subquery.
    Both sums use the exact integer-scaled accumulator and the HAVING
    compare is integer (1000×part > total), so it is bit-stable."""
    li = t(spark, sf_dir, "lineitem")
    supplier = t(spark, sf_dir, "supplier")
    nation = t(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2", "NATION_3")
    )
    sn = supplier.join(
        F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey, "left_semi"
    ).select("s_suppkey")
    liv = li.join(F.broadcast(sn), li.l_suppkey == sn.s_suppkey, "left_semi")
    cents = F.round(F.col("l_extendedprice") * F.lit(100.0)).cast("long")
    # parts-sized reduce persisted; the global total re-aggregates IT
    # (associative integer sum) — a second pass over liv would re-run
    # the lineitem semi-join per branch (duplicate_join_subtrees class)
    per_part = persist_once(liv.groupBy("l_partkey").agg(F.sum(cents).alias("vc")))
    total = per_part.agg(F.sum("vc").alias("tc"))
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("vc") * 1000 > F.col("tc"))
        .select(
            F.col("l_partkey").alias("partkey"),
            (F.col("vc").cast("double") / F.lit(100.0)).alias("part_value"),
        )
        .orderBy(F.col("part_value").desc(), "partkey")
    )


QUERIES["tpch_q11_important_stock"] = QuerySpec(
    tpch_q11_important_stock,
    """
    WITH sn AS (
      SELECT s_suppkey FROM supplier JOIN nation ON s_nationkey = n_nationkey
      WHERE n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
    ),
    liv AS (
      SELECT l_partkey,
             CAST(ROUND(l_extendedprice * CAST(100 AS DOUBLE)) AS BIGINT) AS pc
      FROM lineitem WHERE l_suppkey IN (SELECT s_suppkey FROM sn)
    )
    SELECT l_partkey AS partkey,
           CAST(SUM(pc) AS DOUBLE) / CAST(100 AS DOUBLE) AS part_value
    FROM liv
    GROUP BY l_partkey
    HAVING SUM(pc) * 1000 > (SELECT SUM(pc) FROM liv)
    ORDER BY part_value DESC, partkey
    """,
    "TPC-H Q11 (adapted): parts above 0.1% of national supply value",
    ("tpch", "subquery", "agg"),
)
