"""Advanced relational surface: subqueries, HAVING, string/array/JSON
functions, analytic windows (ntile/percent_rank/range frames), unpivot,
exact percentiles.

All absent from the reference (SURVEY.md §2.5, §2.8 — confirmed absent);
each is a built-in Spark capability expressed declaratively, with the
oracle SQL shaped to be arithmetic-identical (see queries/_util.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from columnar_analytics_engine_spark.functions.caching import persist_once
from columnar_analytics_engine_spark.functions.dialect import DUCKDB
from columnar_analytics_engine_spark.functions.hashing import h60
from columnar_analytics_engine_spark.queries._util import (
    QuerySpec,
    exact_sum,
    sql_exact_sum,
    t,
)


def subquery_scalar_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders above their customer's average order value (scalar
    subquery, decorrelated into an aggregate + broadcast-able join)."""
    orders = t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * F.lit(100.0)).cast("long")
    per_cust = orders.groupBy(F.col("o_custkey").alias("k")).agg(
        ((F.sum(cents).cast("double") / F.count("*").cast("double")) / F.lit(100.0)).alias(
            "avg_price"
        )
    )
    return (
        orders.join(per_cust, orders.o_custkey == per_cust.k)
        .filter(F.col("o_totalprice") > F.col("avg_price"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


def having_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY … HAVING over aggregate values."""
    return (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_suppkey")
        .agg(F.count("*").alias("n_items"), exact_sum("l_quantity", "sum_qty"))
        .filter((F.col("n_items") > 50) & (F.col("sum_qty") > 1500.0))
    )


def string_aggregation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation: nation list per region."""
    nation = t(spark, sf_dir, "nation")
    region = t(spark, sf_dir, "region")
    return (
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations"),
            F.count("*").alias("n_nations"),
        )
        .orderBy("r_name")
    )


def array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array ops over the embedding column (size/min/max/first/slice-sum)."""
    df = t(spark, sf_dir, "embeddings")
    return df.select(
        "vec_id",
        F.size("embedding").cast("long").alias("n_dims"),
        F.array_max("embedding").alias("max_val"),
        F.array_min("embedding").alias("min_val"),
        F.element_at("embedding", 1).alias("first_val"),
    )


def json_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON field extraction from the events props column."""
    df = t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        df.select("event_id", k.alias("k_val"))
        .groupBy((F.col("k_val") % 10).alias("k_mod10"))
        .agg(F.count("*").alias("n_events"), F.sum("k_val").alias("sum_k"))
        .orderBy("k_mod10")
    )


def window_ntile_percent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile / percent_rank / cume_dist analytics over order values.

    Global ranking without a global window: a single-partition Window
    over the whole table is the classic scale killer, so the global row
    number is assembled distributed — range-repartition on the sort key,
    rank locally per partition, then add each partition's starting
    offset (a #partitions-row cumulative sum, broadcast back).  The
    ordering key (o_totalprice, o_orderkey) is unique, so rank == row
    number and the ntile/percent_rank/cume_dist arithmetic reduces to
    exact integer/double formulas identical to the oracle's window
    functions.
    """
    orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    part = orders.repartitionByRange("o_totalprice", "o_orderkey").withColumn(
        "_pid", F.spark_partition_id()
    )
    w_local = W.partitionBy("_pid").orderBy("o_totalprice", "o_orderkey")
    local = part.withColumn("_lrn", F.row_number().over(w_local).cast("long"))
    counts = local.groupBy("_pid").agg(F.count("*").alias("_n"))
    # cumulative offsets over #partitions rows — bounded by cluster
    # size, not data size, so this tiny window is scale-safe
    w_off = W.orderBy("_pid").rowsBetween(W.unboundedPreceding, -1)
    offsets = counts.withColumn(
        "_off", F.coalesce(F.sum("_n").over(w_off), F.lit(0)).cast("long")
    ).select("_pid", "_off")
    total = orders.agg(F.count("*").alias("_N"))
    ranked = (
        local.join(F.broadcast(offsets), "_pid")
        .join(F.broadcast(total))
        .withColumn("_rn", F.col("_off") + F.col("_lrn"))
    )
    # NTILE(4): the first (N mod 4) buckets hold ceil(N/4) rows — exact
    # integer div; PERCENT_RANK = (rn-1)/(N-1); CUME_DIST = rn/N (unique
    # ordering key ⇒ rank == rn and no peer groups)
    quartile = F.expr(
        "CASE WHEN _rn <= (_N % 4) * (_N div 4 + 1) "
        "THEN (_rn + (_N div 4 + 1) - 1) div (_N div 4 + 1) "
        "ELSE (_N % 4) + ((_rn - (_N % 4) * (_N div 4 + 1)) + (_N div 4) - 1) div (_N div 4) END"
    )
    pct_rank = F.when(F.col("_N") == 1, F.lit(0.0)).otherwise(
        (F.col("_rn") - 1).cast("double") / (F.col("_N") - 1).cast("double")
    )
    cume = F.col("_rn").cast("double") / F.col("_N").cast("double")
    return ranked.select(
        "o_orderkey",
        quartile.cast("long").alias("quartile"),
        pct_rank.alias("pct_rank"),
        cume.alias("cume"),
    )


def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame: per customer, orders in the trailing 30 days
    (value-based window frame, not row-based)."""
    day_num = F.datediff(
        F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
    )
    w = (
        W.partitionBy("o_custkey")
        .orderBy(day_num)
        .rangeBetween(-30, 0)
    )
    return t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.count("*").over(w).alias("orders_trailing_30d"),
    )


def window_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value / last_value over the full partition frame."""
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    return t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.first("o_orderkey").over(w).alias("first_order"),
        F.last("o_orderkey").over(w).alias("last_order"),
    )


def unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT part metrics into (metric, value) rows via stack()."""
    return t(spark, sf_dir, "part").select(
        "p_partkey",
        F.expr(
            "stack(2, 'size', CAST(p_size AS DOUBLE), 'retail', p_retailprice)"
        ).alias("metric", "value"),
    )


def union_all_bag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL (bag semantics, duplicates preserved)."""
    a = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select(F.col("o_custkey").alias("custkey"))
    )
    b = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 250_000.0)
        .select(F.col("o_custkey").alias("custkey"))
    )
    return a.unionAll(b).groupBy("custkey").agg(F.count("*").alias("n_rows"))


def grouping_sets_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS via the SQL API (the DataFrame API only
    exposes rollup/cube; arbitrary set lists need SQL — same Catalyst
    plan either way)."""
    t(spark, sf_dir, "orders").createOrReplaceTempView("orders_gs")
    return spark.sql(
        """
        SELECT COALESCE(o_orderstatus, 'ALL') AS status,
               COALESCE(o_orderpriority, 'ALL') AS priority,
               COUNT(*) AS n_rows
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY status, priority
        """
    )


def set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = (
        t(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "A")
        .select(F.col("l_suppkey").alias("suppkey"))
    )
    b = (
        t(spark, sf_dir, "lineitem")
        .filter(F.col("l_linestatus") == "F")
        .select(F.col("l_suppkey").alias("suppkey"))
    )
    return a.intersectAll(b).groupBy("suppkey").agg(F.count("*").alias("n_copies"))


def set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = (
        t(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "A")
        .select(F.col("l_suppkey").alias("suppkey"))
    )
    b = (
        t(spark, sf_dir, "lineitem")
        .filter(F.col("l_linestatus") == "F")
        .select(F.col("l_suppkey").alias("suppkey"))
    )
    return a.exceptAll(b).groupBy("suppkey").agg(F.count("*").alias("n_copies"))


def percentile_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (median/p90) per order status."""
    df = t(spark, sf_dir, "orders")
    return (
        df.groupBy("o_orderstatus")
        .agg(
            F.round(F.expr("percentile(o_totalprice, 0.5)"), 2).alias("median_price"),
            F.round(F.expr("percentile(o_totalprice, 0.9)"), 2).alias("p90_price"),
            F.count("*").alias("n_orders"),
        )
        .orderBy("o_orderstatus")
    )


QUERIES: dict[str, QuerySpec] = {
    "subquery_scalar_avg": QuerySpec(
        subquery_scalar_avg,
        """
        WITH pc AS (
          SELECT o_custkey AS k,
                 (CAST(SUM(CAST(ROUND(o_totalprice * CAST(100 AS DOUBLE)) AS BIGINT)) AS DOUBLE)
                  / CAST(COUNT(*) AS DOUBLE)) / CAST(100 AS DOUBLE) AS avg_price
          FROM orders GROUP BY o_custkey
        )
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders JOIN pc ON o_custkey = pc.k
        WHERE o_totalprice > pc.avg_price
        """,
        "scalar subquery: orders above customer average",
        ("subquery",),
    ),
    "having_filter": QuerySpec(
        having_filter,
        f"""
        SELECT l_suppkey, COUNT(*) AS n_items,
               {sql_exact_sum('l_quantity', 'sum_qty')}
        FROM lineitem GROUP BY l_suppkey
        HAVING COUNT(*) > 50
           AND CAST(SUM(CAST(ROUND(l_quantity * CAST(100 AS DOUBLE)) AS BIGINT)) AS DOUBLE)
               / CAST(100 AS DOUBLE) > 1500.0
        """,
        "GROUP BY with HAVING",
        ("agg",),
    ),
    "string_aggregation": QuerySpec(
        string_aggregation,
        """
        SELECT r_name,
               string_agg(n_name, ',' ORDER BY n_name) AS nations,
               COUNT(*) AS n_nations
        FROM nation JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name ORDER BY r_name
        """,
        "ordered string aggregation",
        ("agg", "scalar"),
    ),
    "array_functions": QuerySpec(
        array_functions,
        """
        SELECT vec_id,
               CAST(len(embedding) AS BIGINT) AS n_dims,
               list_max(embedding) AS max_val,
               list_min(embedding) AS min_val,
               embedding[1] AS first_val
        FROM embeddings
        """,
        "array scalar functions",
        ("scalar", "array"),
    ),
    "json_functions": QuerySpec(
        json_functions,
        """
        SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_mod10,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
        FROM events
        GROUP BY 1 ORDER BY k_mod10
        """,
        "JSON extraction + aggregation",
        ("scalar", "json"),
    ),
    "window_ntile_percent": QuerySpec(
        window_ntile_percent,
        """
        SELECT o_orderkey,
               CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
               PERCENT_RANK() OVER w AS pct_rank,
               CUME_DIST() OVER w AS cume
        FROM orders
        WINDOW w AS (ORDER BY o_totalprice, o_orderkey)
        """,
        "ntile / percent_rank / cume_dist",
        ("window",),
    ),
    "window_range_frame": QuerySpec(
        window_range_frame,
        """
        SELECT o_custkey, o_orderkey,
               COUNT(*) OVER (PARTITION BY o_custkey
                              ORDER BY date_diff('day', DATE '1970-01-01',
                                                 CAST(o_orderdate AS DATE))
                              RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
                 AS orders_trailing_30d
        FROM orders
        """,
        "value-based RANGE window frame",
        ("window",),
    ),
    "window_first_last": QuerySpec(
        window_first_last,
        """
        SELECT o_custkey, o_orderkey,
               FIRST_VALUE(o_orderkey) OVER w AS first_order,
               LAST_VALUE(o_orderkey) OVER w AS last_order
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        """,
        "first_value / last_value full-frame window",
        ("window",),
    ),
    "unpivot_metrics": QuerySpec(
        unpivot_metrics,
        """
        SELECT p_partkey, 'size' AS metric, CAST(p_size AS DOUBLE) AS value FROM part
        UNION ALL
        SELECT p_partkey, 'retail' AS metric, p_retailprice AS value FROM part
        """,
        "UNPIVOT via stack()",
        ("setop", "scalar"),
    ),
    "union_all_bag": QuerySpec(
        union_all_bag,
        """
        SELECT custkey, COUNT(*) AS n_rows FROM (
          SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
          UNION ALL
          SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 250000.0
        ) u GROUP BY custkey
        """,
        "UNION ALL bag semantics",
        ("setop",),
    ),
    "grouping_sets_agg": QuerySpec(
        grouping_sets_agg,
        """
        SELECT COALESCE(o_orderstatus, 'ALL') AS status,
               COALESCE(o_orderpriority, 'ALL') AS priority,
               COUNT(*) AS n_rows
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY status, priority
        """,
        "explicit GROUPING SETS (SQL API)",
        ("agg",),
    ),
    "set_intersect_all": QuerySpec(
        set_intersect_all,
        """
        SELECT suppkey, COUNT(*) AS n_copies FROM (
          SELECT l_suppkey AS suppkey FROM lineitem WHERE l_returnflag = 'A'
          INTERSECT ALL
          SELECT l_suppkey AS suppkey FROM lineitem WHERE l_linestatus = 'F'
        ) x GROUP BY suppkey
        """,
        "INTERSECT ALL bag semantics",
        ("setop",),
    ),
    "set_except_all": QuerySpec(
        set_except_all,
        """
        SELECT suppkey, COUNT(*) AS n_copies FROM (
          SELECT l_suppkey AS suppkey FROM lineitem WHERE l_returnflag = 'A'
          EXCEPT ALL
          SELECT l_suppkey AS suppkey FROM lineitem WHERE l_linestatus = 'F'
        ) x GROUP BY suppkey
        """,
        "EXCEPT ALL bag semantics",
        ("setop",),
    ),
    "percentile_exact": QuerySpec(
        percentile_exact,
        """
        SELECT o_orderstatus,
               ROUND(quantile_cont(o_totalprice, 0.5), 2) AS median_price,
               ROUND(quantile_cont(o_totalprice, 0.9), 2) AS p90_price,
               COUNT(*) AS n_orders
        FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
        """,
        "exact interpolated percentiles",
        ("agg",),
    ),
}


def approx_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate aggregates: HLL distinct + quantile sketch — delivers
    the capability the reference only declared (PageStats.
    distinct_count_estimate, include/format.h:44, always written 0).
    Sketch internals differ between engines, so this is a rows-only
    check; accuracy is asserted against exact values in
    tests/test_approx.py instead.
    """
    df = t(spark, sf_dir, "lineitem")
    return df.agg(
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
        F.approx_count_distinct("l_suppkey").alias("approx_supps"),
        F.percentile_approx("l_extendedprice", 0.5).alias("approx_median_price"),
        F.count("*").alias("n_rows"),
    )


QUERIES["approx_aggregates"] = QuerySpec(
    approx_aggregates,
    None,
    "HLL approx distinct + approximate percentile (rows-only; accuracy in pytest)",
    ("agg", "approx"),
)


def histogram_value_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of order values (floor-arithmetic binning —
    portable, unlike engine-specific width_bucket variants)."""
    df = t(spark, sf_dir, "orders")
    bin_id = F.floor(F.col("o_totalprice") / F.lit(25_000.0)).cast("long")
    return (
        df.groupBy(bin_id.alias("bin_id"))
        .agg(F.count("*").alias("n_orders"))
        .withColumn("bin_lo", (F.col("bin_id") * 25_000).cast("double"))
        .orderBy("bin_id")
    )


def stats_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation of quantity vs discount via exact integer
    moment sums — the textbook formula over order-free BIGINT
    accumulators, so the result is bit-identical across engines (the
    built-in corr() sums doubles and is partition-order-dependent)."""
    df = t(spark, sf_dir, "lineitem")
    x = F.round(F.col("l_quantity") * F.lit(100.0)).cast("long")     # ≤ 5000
    y = F.round(F.col("l_discount") * F.lit(10_000.0)).cast("long")  # ≤ 1000
    agg = df.agg(
        F.count("*").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"),
    )
    n = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, syy, sxy = F.col("sxx").cast("double"), F.col("syy").cast("double"), F.col("sxy").cast("double")
    corr = (n * sxy - sx * sy) / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    return agg.select(F.round(corr, 8).alias("qty_disc_corr"), F.col("n").alias("n_rows"))


def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view → click → purchase: per-user first
    timestamps per stage, sequenced; one shuffle on user_id."""
    df = t(spark, sf_dir, "events")
    first_of = lambda et: F.min(F.when(F.col("event_type") == et, F.col("ts")))
    per_user = df.groupBy("user_id").agg(
        first_of("view").alias("t_view"),
        first_of("click").alias("t_click"),
        first_of("purchase").alias("t_purchase"),
    )
    viewed = F.col("t_view").isNotNull()
    clicked = viewed & F.col("t_click").isNotNull() & (F.col("t_click") > F.col("t_view"))
    purchased = clicked & F.col("t_purchase").isNotNull() & (F.col("t_purchase") > F.col("t_click"))
    return per_user.agg(
        F.count("*").alias("n_users"),
        F.sum(viewed.cast("long")).alias("n_viewed"),
        F.sum(clicked.cast("long")).alias("n_clicked_after_view"),
        F.sum(purchased.cast("long")).alias("n_purchased_after_click"),
    )


_FUNNEL_WINDOW_DAYS = 7


def events_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timeout-bounded conversion funnel (windowFunnel semantics):
    view → click within 7 days of the first view → purchase within
    7 days of that click.  Each stage takes the FIRST qualifying event
    after the previous stage's timestamp, so a click that happens
    before any view never counts.

    Scale shape: ONE scan and ONE user_id shuffle.  The three stage
    timestamps are per-user window minima layered over the same
    partitioning (t2's predicate references t1, t3's references t2 —
    each is a plain column by the time the next window evaluates), so
    Catalyst plans a single Exchange followed by in-partition window
    passes; a chained-join formulation would scan events once per stage.
    The final counts are one conditional distinct-aggregation.  No
    per-user arrays — a hot user costs window state, not memory.
    """
    df = t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    step = F.expr(f"INTERVAL {_FUNNEL_WINDOW_DAYS} DAYS")
    w = W.partitionBy("user_id")
    is_ = lambda et: F.col("event_type") == et  # noqa: E731
    staged = (
        df.withColumn("t1", F.min(F.when(is_("view"), F.col("ts"))).over(w))
        .withColumn(
            "t2",
            F.min(
                F.when(
                    is_("click")
                    & (F.col("ts") > F.col("t1"))
                    & (F.col("ts") <= F.col("t1") + step),
                    F.col("ts"),
                )
            ).over(w),
        )
        .withColumn(
            "t3",
            F.min(
                F.when(
                    is_("purchase")
                    & (F.col("ts") > F.col("t2"))
                    & (F.col("ts") <= F.col("t2") + step),
                    F.col("ts"),
                )
            ).over(w),
        )
    )
    reached = lambda c: F.when(F.col(c).isNotNull(), F.col("user_id"))  # noqa: E731
    return staged.agg(
        F.countDistinct("user_id").alias("n_users"),
        F.countDistinct(reached("t1")).alias("n_viewed"),
        F.countDistinct(reached("t2")).alias("n_clicked_in_window"),
        F.countDistinct(reached("t3")).alias("n_purchased_in_window"),
    )


QUERIES["events_funnel_windowed"] = QuerySpec(
    events_funnel_windowed,
    f"""
    WITH e AS (SELECT user_id, event_type, ts FROM events),
    s1 AS (
      SELECT user_id, MIN(ts) AS t1 FROM e WHERE event_type = 'view'
      GROUP BY user_id
    ),
    s2 AS (
      SELECT e.user_id, MIN(ts) AS t2
      FROM e JOIN s1 USING (user_id)
      WHERE event_type = 'click' AND ts > t1
        AND ts <= t1 + INTERVAL {_FUNNEL_WINDOW_DAYS} DAY
      GROUP BY e.user_id
    ),
    s3 AS (
      SELECT e.user_id, MIN(ts) AS t3
      FROM e JOIN s2 USING (user_id)
      WHERE event_type = 'purchase' AND ts > t2
        AND ts <= t2 + INTERVAL {_FUNNEL_WINDOW_DAYS} DAY
      GROUP BY e.user_id
    )
    SELECT (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM e) AS n_users,
           (SELECT COUNT(*) FROM s1) AS n_viewed,
           (SELECT COUNT(*) FROM s2) AS n_clicked_in_window,
           (SELECT COUNT(*) FROM s3) AS n_purchased_in_window
    """,
    "timeout-bounded view->click->purchase funnel (windowFunnel semantics)",
    ("events", "agg"),
)


QUERIES["histogram_value_dist"] = QuerySpec(
    histogram_value_dist,
    """
    SELECT CAST(FLOOR(o_totalprice / CAST(25000 AS DOUBLE)) AS BIGINT) AS bin_id,
           COUNT(*) AS n_orders,
           CAST(CAST(FLOOR(o_totalprice / CAST(25000 AS DOUBLE)) AS BIGINT) * 25000 AS DOUBLE) AS bin_lo
    FROM orders
    GROUP BY 1, 3 ORDER BY bin_id
    """,
    "fixed-width value histogram",
    ("agg",),
)

QUERIES["stats_correlation"] = QuerySpec(
    stats_correlation,
    """
    WITH m AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(CAST(ROUND(l_quantity * CAST(100 AS DOUBLE)) AS BIGINT)) AS BIGINT) AS sx,
             CAST(SUM(CAST(ROUND(l_discount * CAST(10000 AS DOUBLE)) AS BIGINT)) AS BIGINT) AS sy,
             CAST(SUM(CAST(ROUND(l_quantity * CAST(100 AS DOUBLE)) AS BIGINT)
                      * CAST(ROUND(l_quantity * CAST(100 AS DOUBLE)) AS BIGINT)) AS BIGINT) AS sxx,
             CAST(SUM(CAST(ROUND(l_discount * CAST(10000 AS DOUBLE)) AS BIGINT)
                      * CAST(ROUND(l_discount * CAST(10000 AS DOUBLE)) AS BIGINT)) AS BIGINT) AS syy,
             CAST(SUM(CAST(ROUND(l_quantity * CAST(100 AS DOUBLE)) AS BIGINT)
                      * CAST(ROUND(l_discount * CAST(10000 AS DOUBLE)) AS BIGINT)) AS BIGINT) AS sxy
      FROM lineitem
    )
    SELECT ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / SQRT((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 8)
             AS qty_disc_corr,
           n AS n_rows
    FROM m
    """,
    "exact-moment Pearson correlation",
    ("agg", "stats"),
)

QUERIES["events_funnel"] = QuerySpec(
    events_funnel,
    """
    WITH per_user AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
             MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
      FROM events GROUP BY user_id
    )
    SELECT COUNT(*) AS n_users,
           CAST(SUM(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_viewed,
           CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click IS NOT NULL
                          AND t_click > t_view THEN 1 ELSE 0 END) AS BIGINT) AS n_clicked_after_view,
           CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click IS NOT NULL
                          AND t_click > t_view AND t_purchase IS NOT NULL
                          AND t_purchase > t_click THEN 1 ELSE 0 END) AS BIGINT) AS n_purchased_after_click
    FROM per_user
    """,
    "ordered conversion funnel view→click→purchase",
    ("streaming", "agg"),
)


def table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level table profiling (ANALYZE-statistics twin, SURVEY
    §1.5): null count, exact distinct count, min/max per column of
    lineitem, long form.  One pass per profile job; values rendered as
    strings so heterogeneous column types share one output schema."""
    df = t(spark, sf_dir, "lineitem")
    profiled = ["l_orderkey", "l_quantity", "l_returnflag", "l_shipdate"]
    parts = []
    for c in profiled:
        is_ts = dict(df.dtypes)[c] == "timestamp"
        as_str = (
            F.date_format(F.col(c), "yyyy-MM-dd HH:mm:ss")
            if is_ts
            else F.col(c).cast("string")
        )
        parts.append(
            df.select(
                F.lit(c).alias("column_name"),
                F.col(c).isNull().cast("long").alias("_null"),
                as_str.alias("_v"),
            )
            .agg(
                F.first(F.lit(c)).alias("column_name"),
                F.sum("_null").alias("n_nulls"),
                F.countDistinct("_v").alias("n_distinct"),
                F.min("_v").alias("min_value"),
                F.max("_v").alias("max_value"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("column_name")


def skew_key_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic: the hottest 20 user_ids on the events
    stream with each key's share of all rows — the measurement that
    decides between a plain shuffle join, AQE skew splitting, and an
    explicit salted join (operators/skew.salted_join).

    Scale shape: one map-combinable groupBy on the key; the top-20 is
    TakeOrderedAndProject (per-partition heaps), the total rides along
    as an in-plan 1-row broadcast, and rank is a window over the ≤20
    surviving rows — bounded by the report size, never by data.
    ``share`` is one exact IEEE division of two exact longs, so the
    oracle reproduces it bit-for-bit.
    """
    events = t(spark, sf_dir, "events")
    counts = events.groupBy(F.col("user_id").alias("key")).agg(
        F.count("*").alias("n_rows")
    )
    total = counts.agg(F.sum("n_rows").alias("_total"))
    top = counts.orderBy(F.desc("n_rows"), "key").limit(20)
    w = W.orderBy(F.desc("n_rows"), "key")
    # rank BEFORE the total join: the window then sits directly above
    # its TakeOrderedAndProject bound (plan-provably <=20 rows for the
    # global_windows lint) instead of above the 1-row-broadcast join
    ranked = top.withColumn("rank", F.row_number().over(w).cast("long"))
    return (
        ranked.join(F.broadcast(total))
        .select(
            "key",
            "n_rows",
            (F.col("n_rows").cast("double") / F.col("_total").cast("double")).alias("share"),
            "rank",
        )
    )


QUERIES["skew_key_report"] = QuerySpec(
    skew_key_report,
    """
    WITH counts AS (
      SELECT user_id AS key, COUNT(*) AS n_rows FROM events GROUP BY 1
    ),
    tot AS (SELECT SUM(n_rows) AS t FROM counts),
    top AS (SELECT key, n_rows FROM counts ORDER BY n_rows DESC, key LIMIT 20)
    SELECT key, n_rows,
           CAST(n_rows AS DOUBLE) / CAST(t AS DOUBLE) AS share,
           CAST(ROW_NUMBER() OVER (ORDER BY n_rows DESC, key) AS BIGINT) AS "rank"
    FROM top, tot
    """,
    "hottest-join-key report: top-20 keys with row share (salting decision input)",
    ("agg", "metadata", "skew"),
)


QUERIES["table_profile"] = QuerySpec(
    table_profile,
    """
    SELECT * FROM (
      SELECT 'l_orderkey' AS column_name,
             CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
             COUNT(DISTINCT CAST(l_orderkey AS VARCHAR)) AS n_distinct,
             MIN(CAST(l_orderkey AS VARCHAR)) AS min_value,
             MAX(CAST(l_orderkey AS VARCHAR)) AS max_value
      FROM lineitem
      UNION ALL
      SELECT 'l_quantity',
             CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             COUNT(DISTINCT CAST(l_quantity AS VARCHAR)),
             MIN(CAST(l_quantity AS VARCHAR)),
             MAX(CAST(l_quantity AS VARCHAR))
      FROM lineitem
      UNION ALL
      SELECT 'l_returnflag',
             CAST(SUM(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             COUNT(DISTINCT l_returnflag),
             MIN(l_returnflag),
             MAX(l_returnflag)
      FROM lineitem
      UNION ALL
      SELECT 'l_shipdate',
             CAST(SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             COUNT(DISTINCT strftime(l_shipdate, '%Y-%m-%d %H:%M:%S')),
             MIN(strftime(l_shipdate, '%Y-%m-%d %H:%M:%S')),
             MAX(strftime(l_shipdate, '%Y-%m-%d %H:%M:%S'))
      FROM lineitem
    ) profile ORDER BY column_name
    """,
    "per-column statistics profiling (ANALYZE twin)",
    ("agg", "metadata"),
)


def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated dimension join: events (hot user_ids — see
    skew_key_report) joined to the customer dimension through
    operators/skew.salted_join.  The salt scatters each hot key across
    ``salt_factor`` shuffle partitions and replicates only the (small)
    dimension side, so no single task receives a hot key's full row
    mass — the manual fallback when AQE skew splitting can't apply
    (e.g. a skewed aggregate-then-join).  Produces exactly the rows of
    the plain equi-join, which is what the oracle checks.
    """
    from columnar_analytics_engine_spark.operators.skew import salted_join

    events = t(spark, sf_dir, "events").select("event_id", "user_id", "value")
    dim = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_name", "c_mktsegment"
    )
    return salted_join(events, dim, on="user_id").select(
        "event_id", "user_id", "c_name", "c_mktsegment"
    )


QUERIES["join_salted_skew"] = QuerySpec(
    join_salted_skew,
    """
    SELECT e.event_id, e.user_id, c.c_name, c.c_mktsegment
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    """,
    "salted equi-join over a skewed key (result identical to the plain join)",
    ("join", "skew"),
)


_MERGE_CUTOFF = "2024-01-15 00:00:00"


def events_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE/upsert on plain parquet (operators/merge.merge_upsert):
    per-user profile (last event_type, exact-summed value) built from
    the first half of the event log is upserted with profiles rebuilt
    from the second half — users active after the cutoff take the new
    profile, dormant users keep the old one.  This is the batch
    compaction a CDC lake runs without a transactional table format:
    one key shuffle per side, anti-join + union, no driver state.
    """
    from columnar_analytics_engine_spark.operators.merge import merge_upsert

    events = t(spark, sf_dir, "events")

    def profile(df: DataFrame) -> DataFrame:
        w = W.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
        last_type = (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("user_id", F.col("event_type").alias("last_type"))
        )
        totals = df.groupBy("user_id").agg(
            exact_sum("value", "total_value"), F.count("*").alias("n_events")
        )
        return last_type.join(totals, "user_id")

    cutoff = F.lit(_MERGE_CUTOFF).cast("timestamp")
    target = profile(events.filter(F.col("ts") < cutoff))
    source = profile(events.filter(F.col("ts") >= cutoff))
    return merge_upsert(target, source, "user_id").orderBy("user_id")


QUERIES["events_merge_upsert"] = QuerySpec(
    events_merge_upsert,
    f"""
    WITH before AS (SELECT * FROM events WHERE ts < TIMESTAMP '{_MERGE_CUTOFF}'),
    after AS (SELECT * FROM events WHERE ts >= TIMESTAMP '{_MERGE_CUTOFF}'),
    t_last AS (
      SELECT user_id, event_type AS last_type FROM (
        SELECT user_id, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS _rn
        FROM before) x WHERE _rn = 1
    ),
    t_tot AS (
      SELECT user_id, {sql_exact_sum('value', 'total_value')},
             COUNT(*) AS n_events
      FROM before GROUP BY 1
    ),
    target AS (SELECT user_id, last_type, total_value, n_events
               FROM t_last JOIN t_tot USING (user_id)),
    s_last AS (
      SELECT user_id, event_type AS last_type FROM (
        SELECT user_id, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS _rn
        FROM after) x WHERE _rn = 1
    ),
    s_tot AS (
      SELECT user_id, {sql_exact_sum('value', 'total_value')},
             COUNT(*) AS n_events
      FROM after GROUP BY 1
    ),
    source AS (SELECT user_id, last_type, total_value, n_events
               FROM s_last JOIN s_tot USING (user_id))
    SELECT user_id, last_type, total_value, n_events FROM (
      SELECT t.* FROM target t ANTI JOIN source s USING (user_id)
      UNION ALL
      SELECT * FROM source
    ) merged
    ORDER BY user_id
    """,
    "MERGE-style per-user profile upsert across a time cutoff (source wins)",
    ("merge", "events", "cdc"),
)


def orders_backlog_over_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog per month: each order is an interval
    [o_orderdate, max shipdate of its lineitems]; the backlog at month
    m is the number of intervals covering it.  Computed as the classic
    distributed interval-stabbing reduction — +1 at the open month, −1
    after the close month, running-summed — one order-key reduce and a
    window over the ~80-row month table (calendar-bounded), never a
    per-month re-scan of the intervals.  Orders with no lineitems
    close in their opening month.
    """
    orders = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    month = lambda c: F.date_format(F.date_trunc("month", c), "yyyy-MM")
    closes = li.groupBy("l_orderkey").agg(F.max("l_shipdate").alias("close_d"))
    spans = (
        orders.join(closes, orders.o_orderkey == closes.l_orderkey, "left")
        .select(
            month(F.col("o_orderdate")).alias("open_m"),
            month(
                F.coalesce(
                    F.greatest("close_d", "o_orderdate"), F.col("o_orderdate")
                )
            ).alias("close_m"),
        )
    )
    # +1/−1 deltas stacked with inline() in ONE pass over spans — a
    # union of two selects would re-execute the orders⋈closes join per
    # branch (the recompute class duplicate_join_subtrees flags)
    deltas = (
        spans.select(
            F.inline(
                F.array(
                    F.struct(F.col("open_m").alias("month"), F.lit(1).alias("d")),
                    F.struct(
                        F.date_format(
                            F.add_months(F.to_date(F.col("close_m"), "yyyy-MM"), 1),
                            "yyyy-MM",
                        ).alias("month"),
                        F.lit(-1).alias("d"),
                    ),
                )
            )
        )
        .groupBy("month")
        .agg(F.sum("d").alias("net"))
    )
    w = W.orderBy("month").rowsBetween(W.unboundedPreceding, W.currentRow)
    return (
        deltas.select("month", F.sum("net").over(w).alias("open_orders"))
        .filter(F.col("open_orders") > 0)
        .orderBy("month")
    )


QUERIES["orders_backlog_over_time"] = QuerySpec(
    orders_backlog_over_time,
    """
    WITH closes AS (
      SELECT l_orderkey, MAX(l_shipdate) AS close_d FROM lineitem GROUP BY 1
    ),
    spans AS (
      SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS open_m,
             strftime(date_trunc('month',
                      COALESCE(GREATEST(close_d, o_orderdate), o_orderdate)),
                      '%Y-%m') AS close_m
      FROM orders o LEFT JOIN closes c ON o.o_orderkey = c.l_orderkey
    ),
    deltas AS (
      SELECT month, SUM(d) AS net FROM (
        SELECT open_m AS month, 1 AS d FROM spans
        UNION ALL
        SELECT strftime(date_trunc('month', CAST(close_m || '-01' AS DATE))
                        + INTERVAL 1 MONTH, '%Y-%m') AS month, -1 AS d
        FROM spans
      ) x GROUP BY month
    )
    SELECT month, open_orders FROM (
      SELECT month,
             CAST(SUM(net) OVER (ORDER BY month ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS open_orders
      FROM deltas
    ) y WHERE open_orders > 0
    ORDER BY month
    """,
    "monthly open-order backlog via interval-stabbing running sum",
    ("orders", "timeseries", "window"),
)


def customers_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation, scale-safe: per-customer recency
    (days since last order, relative to the corpus's latest order),
    frequency (order count) and monetary (exact-summed total price) are
    scored 1–5 against global quintile CUTOFFS — a 1-row percentile
    aggregate broadcast back — instead of a global ``ntile`` window,
    which would funnel every customer through one partition.  Cutoffs
    are rounded to 6dp on both engines so boundary assignment is
    bit-identical.
    """
    orders = t(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count("*").alias("frequency"),
        exact_sum("o_totalprice", "monetary"),
    )
    anchor = orders.agg(F.max("o_orderdate").alias("corpus_max"))
    # persisted: base feeds both the quintile cutoffs and the scoring
    # join — unpersisted, each branch re-runs the per-customer reduce
    # over orders (duplicate_join_subtrees class)
    base = persist_once(
        per_cust.join(F.broadcast(anchor)).select(
            "o_custkey",
            F.datediff("corpus_max", "last_order").cast("long").alias("recency_days"),
            "frequency",
            "monetary",
        )
    )
    qs = [0.2, 0.4, 0.6, 0.8]
    cuts = base.agg(
        *[
            F.round(F.expr(f"percentile({c}, {q})"), 6).alias(f"{c[0]}c{int(q*100)}")
            for c in ("recency_days", "frequency", "monetary")
            for q in qs
        ]
    )

    def score_asc(col, pfx):  # higher metric => higher score
        c = F.col(col).cast("double")
        return (
            F.when(c <= F.col(f"{pfx}c20"), 1)
            .when(c <= F.col(f"{pfx}c40"), 2)
            .when(c <= F.col(f"{pfx}c60"), 3)
            .when(c <= F.col(f"{pfx}c80"), 4)
            .otherwise(5)
        )

    scored = base.join(F.broadcast(cuts))
    r_score = F.lit(6) - score_asc("recency_days", "r")  # recent = high score
    return scored.select(
        "o_custkey",
        "recency_days",
        "frequency",
        "monetary",
        r_score.alias("r_score"),
        score_asc("frequency", "f").alias("f_score"),
        score_asc("monetary", "m").alias("m_score"),
        (
            r_score * 100 + score_asc("frequency", "f") * 10 + score_asc("monetary", "m")
        ).alias("rfm"),
    ).orderBy("o_custkey")


_SQL_RFM_SCORE = lambda col, pfx: (
    f"CASE WHEN CAST({col} AS DOUBLE) <= {pfx}c20 THEN 1 "
    f"WHEN CAST({col} AS DOUBLE) <= {pfx}c40 THEN 2 "
    f"WHEN CAST({col} AS DOUBLE) <= {pfx}c60 THEN 3 "
    f"WHEN CAST({col} AS DOUBLE) <= {pfx}c80 THEN 4 ELSE 5 END"
)

QUERIES["customers_rfm_segments"] = QuerySpec(
    customers_rfm_segments,
    f"""
    WITH per_cust AS (
      SELECT o_custkey, MAX(o_orderdate) AS last_order,
             COUNT(*) AS frequency,
             {sql_exact_sum('o_totalprice', 'monetary')}
      FROM orders GROUP BY 1
    ),
    anchor AS (SELECT MAX(o_orderdate) AS corpus_max FROM orders),
    base AS (
      SELECT o_custkey,
             CAST(date_diff('day', last_order, corpus_max) AS BIGINT) AS recency_days,
             frequency, monetary
      FROM per_cust CROSS JOIN anchor
    ),
    cuts AS (
      SELECT {", ".join(
        f"ROUND(quantile_cont({c}, {q}), 6) AS {c[0]}c{int(q*100)}"
        for c in ("recency_days", "frequency", "monetary")
        for q in (0.2, 0.4, 0.6, 0.8)
      )}
      FROM base
    )
    SELECT o_custkey, recency_days, frequency, monetary,
           6 - {_SQL_RFM_SCORE('recency_days', 'r')} AS r_score,
           {_SQL_RFM_SCORE('frequency', 'f')} AS f_score,
           {_SQL_RFM_SCORE('monetary', 'm')} AS m_score,
           (6 - {_SQL_RFM_SCORE('recency_days', 'r')}) * 100
             + {_SQL_RFM_SCORE('frequency', 'f')} * 10
             + {_SQL_RFM_SCORE('monetary', 'm')} AS rfm
    FROM base CROSS JOIN cuts
    ORDER BY o_custkey
    """,
    "RFM segmentation via broadcast quintile cutoffs (no global ntile)",
    ("orders", "analytics", "agg"),
)


def market_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket affinity: the top-20 part pairs most often bought
    together, with support (co-occurrence count) and lift
    (p(a,b) / (p(a)·p(b)), 6dp).  The pair explosion is bounded by the
    per-basket line count (TPC-H orders hold ≤7 items, so ≤21 pairs
    per order) — an equi-join on the basket key, never an all-parts
    cross product; part frequencies broadcast back as 1-row-per-part
    dims.  Lift's divisions are single IEEE ops on exact counts.
    """
    # the distinct basket table feeds four consumers (both pair-join
    # sides, part frequencies, basket count): persist so the lineitem
    # scan + distinct shuffle run once
    li = persist_once(
        t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    )
    a, b = li.alias("a"), li.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count("*").alias("support"))
    )
    # freq (|parts| rows) joins in twice (fa/fb): persist so the second
    # consumer doesn't re-aggregate the full cached basket table
    freq = persist_once(
        li.groupBy("l_partkey").agg(F.count("*").alias("n_orders_with"))
    )
    n_orders = li.select("l_orderkey").distinct().agg(
        F.count("*").alias("n_orders")
    )
    lift = (
        F.col("support").cast("double") * F.col("n_orders").cast("double")
    ) / (
        F.col("fa.n_orders_with").cast("double")
        * F.col("fb.n_orders_with").cast("double")
    )
    return (
        pairs.join(freq.alias("fa"), F.col("part_a") == F.col("fa.l_partkey"))
        .join(freq.alias("fb"), F.col("part_b") == F.col("fb.l_partkey"))
        .join(F.broadcast(n_orders))
        .select("part_a", "part_b", "support", F.round(lift, 6).alias("lift"))
        .orderBy(F.desc("support"), "part_a", "part_b")
        .limit(20)
    )


QUERIES["market_basket_pairs"] = QuerySpec(
    market_basket_pairs,
    """
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS support
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    ),
    freq AS (SELECT l_partkey, COUNT(*) AS n_orders_with FROM li GROUP BY 1),
    tot AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM li)
    SELECT part_a, part_b, support,
           ROUND((CAST(support AS DOUBLE) * CAST(n_orders AS DOUBLE))
                 / (CAST(fa.n_orders_with AS DOUBLE)
                    * CAST(fb.n_orders_with AS DOUBLE)), 6) AS lift
    FROM pairs
    JOIN freq fa ON part_a = fa.l_partkey
    JOIN freq fb ON part_b = fb.l_partkey
    CROSS JOIN tot
    ORDER BY support DESC, part_a, part_b
    LIMIT 20
    """,
    "top-20 co-purchased part pairs with lift (basket-bounded pair join)",
    ("orders", "analytics", "join"),
)


# ---------------------------------------------------------------------------
# data-quality constraint validation (dbt-test / Deequ-style report)
# ---------------------------------------------------------------------------


def dq_validation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality validation report: PK uniqueness, FK
    integrity, not-null, accepted-values, and value-range constraints
    over the orders/lineitem/customer tables, one row per check with
    exact violation counts — the dbt-test/Deequ-style gate a production
    pipeline runs before publishing a table.

    Scale shape: ONE scan per fact table computes every check on it —
    the FK probe is a left join against the distinct dimension keys
    (Catalyst/AQE picks broadcast vs shuffle by size) and all violation
    counters ride the same aggregate; per-table results are 1-row
    frames combined by broadcast join and exploded into the report.
    Two single-partition exchanges total, both 1-row (allowlisted in
    test_plan_lint).
    """
    orders = t(spark, sf_dir, "orders")
    lineitem = t(spark, sf_dir, "lineitem")
    customer = t(spark, sf_dir, "customer")

    ckeys = customer.select(F.col("c_custkey").alias("_ck")).distinct()
    o = orders.join(
        F.broadcast(ckeys), orders["o_custkey"] == F.col("_ck"), "left"
    )
    bad_status = F.col("o_orderstatus").isNull() | ~F.col("o_orderstatus").isin(
        "O", "F", "P"
    )
    o_agg = o.agg(
        F.count("*").alias("n_o"),
        (F.count("*") - F.count_distinct("o_orderkey")).alias("v_pk_o"),
        F.count(F.when(F.col("_ck").isNull(), 1)).alias("v_fk_o"),
        F.count(F.when(bad_status, 1)).alias("v_dom_o"),
        F.count(
            F.when(F.col("o_totalprice").isNull() | (F.col("o_totalprice") <= 0), 1)
        ).alias("v_price_o"),
    )

    okeys = orders.select(F.col("o_orderkey").alias("_ok")).distinct()
    li = lineitem.join(okeys, lineitem["l_orderkey"] == F.col("_ok"), "left")
    bad_disc = (
        F.col("l_discount").isNull()
        | (F.col("l_discount") < 0)
        | (F.col("l_discount") > 1)
    )
    bad_ship = (
        F.col("l_shipdate").isNull()
        | (F.year("l_shipdate") < 1992)
        | (F.year("l_shipdate") > 2005)
    )
    li_agg = li.agg(
        F.count("*").alias("n_l"),
        (F.count("*") - F.count_distinct("l_orderkey", "l_linenumber")).alias(
            "v_pk_l"
        ),
        F.count(F.when(F.col("_ok").isNull(), 1)).alias("v_fk_l"),
        F.count(F.when(F.col("l_quantity").isNull(), 1)).alias("v_qty_l"),
        F.count(F.when(bad_disc, 1)).alias("v_disc_l"),
        F.count(F.when(bad_ship, 1)).alias("v_ship_l"),
    )

    row = o_agg.join(F.broadcast(li_agg))
    checks = [
        (1, "pk_orders_orderkey_unique", "orders", "n_o", "v_pk_o"),
        (2, "fk_orders_custkey_in_customer", "orders", "n_o", "v_fk_o"),
        (3, "domain_orders_status_OFP", "orders", "n_o", "v_dom_o"),
        (4, "range_orders_totalprice_positive", "orders", "n_o", "v_price_o"),
        (5, "pk_lineitem_orderkey_linenumber_unique", "lineitem", "n_l", "v_pk_l"),
        (6, "fk_lineitem_orderkey_in_orders", "lineitem", "n_l", "v_fk_l"),
        (7, "notnull_lineitem_quantity", "lineitem", "n_l", "v_qty_l"),
        (8, "range_lineitem_discount_0_1", "lineitem", "n_l", "v_disc_l"),
        (9, "range_lineitem_shipdate_1992_2005", "lineitem", "n_l", "v_ship_l"),
    ]
    entries = F.array(
        *[
            F.struct(
                F.lit(cid).cast("int").alias("check_id"),
                F.lit(name).alias("check_name"),
                F.lit(tbl).alias("table_name"),
                F.col(ncol).cast("long").alias("n_rows"),
                F.col(vcol).cast("long").alias("n_violations"),
            )
            for cid, name, tbl, ncol, vcol in checks
        ]
    )
    return (
        row.select(F.explode(entries).alias("c"))
        .select(
            "c.check_id",
            "c.check_name",
            "c.table_name",
            "c.n_rows",
            "c.n_violations",
            (F.col("c.n_violations") == 0).alias("passed"),
        )
        .orderBy("check_id")
    )


QUERIES["dq_validation_report"] = QuerySpec(
    dq_validation_report,
    """
    WITH o AS (
      SELECT o.*, c._ck FROM orders o
      LEFT JOIN (SELECT DISTINCT c_custkey AS _ck FROM customer) c
        ON o.o_custkey = c._ck
    ),
    oa AS (
      SELECT COUNT(*) AS n_o,
             COUNT(*) - COUNT(DISTINCT o_orderkey) AS v_pk_o,
             SUM(CASE WHEN _ck IS NULL THEN 1 ELSE 0 END) AS v_fk_o,
             SUM(CASE WHEN o_orderstatus IS NULL
                        OR o_orderstatus NOT IN ('O', 'F', 'P')
                      THEN 1 ELSE 0 END) AS v_dom_o,
             SUM(CASE WHEN o_totalprice IS NULL OR o_totalprice <= 0
                      THEN 1 ELSE 0 END) AS v_price_o
      FROM o
    ),
    l AS (
      SELECT l.*, ok._ok FROM lineitem l
      LEFT JOIN (SELECT DISTINCT o_orderkey AS _ok FROM orders) ok
        ON l.l_orderkey = ok._ok
    ),
    la AS (
      SELECT COUNT(*) AS n_l,
             COUNT(*) - COUNT(DISTINCT (l_orderkey, l_linenumber)) AS v_pk_l,
             SUM(CASE WHEN _ok IS NULL THEN 1 ELSE 0 END) AS v_fk_l,
             SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS v_qty_l,
             SUM(CASE WHEN l_discount IS NULL OR l_discount < 0 OR l_discount > 1
                      THEN 1 ELSE 0 END) AS v_disc_l,
             SUM(CASE WHEN l_shipdate IS NULL
                        OR year(l_shipdate) < 1992 OR year(l_shipdate) > 2005
                      THEN 1 ELSE 0 END) AS v_ship_l
      FROM l
    ),
    rpt AS (
      SELECT 1 AS check_id, 'pk_orders_orderkey_unique' AS check_name,
             'orders' AS table_name, n_o AS n_rows, v_pk_o AS n_violations FROM oa
      UNION ALL SELECT 2, 'fk_orders_custkey_in_customer', 'orders', n_o, v_fk_o FROM oa
      UNION ALL SELECT 3, 'domain_orders_status_OFP', 'orders', n_o, v_dom_o FROM oa
      UNION ALL SELECT 4, 'range_orders_totalprice_positive', 'orders', n_o, v_price_o FROM oa
      UNION ALL SELECT 5, 'pk_lineitem_orderkey_linenumber_unique', 'lineitem', n_l, v_pk_l FROM la
      UNION ALL SELECT 6, 'fk_lineitem_orderkey_in_orders', 'lineitem', n_l, v_fk_l FROM la
      UNION ALL SELECT 7, 'notnull_lineitem_quantity', 'lineitem', n_l, v_qty_l FROM la
      UNION ALL SELECT 8, 'range_lineitem_discount_0_1', 'lineitem', n_l, v_disc_l FROM la
      UNION ALL SELECT 9, 'range_lineitem_shipdate_1992_2005', 'lineitem', n_l, v_ship_l FROM la
    )
    SELECT CAST(check_id AS INT) AS check_id, check_name, table_name,
           CAST(n_rows AS BIGINT) AS n_rows,
           CAST(n_violations AS BIGINT) AS n_violations,
           n_violations = 0 AS passed
    FROM rpt ORDER BY check_id
    """,
    "dbt/Deequ-style data-quality validation: PK/FK/not-null/domain/range checks, one scan per table",
    ("quality", "governance"),
)


# ---------------------------------------------------------------------------
# extended distribution statistics (skewness / kurtosis / mode)
# ---------------------------------------------------------------------------


def stats_moments_extended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type distribution shape: exact population variance,
    skewness, kurtosis (non-excess), and the modal value — the
    higher-moment profile a feature-quality monitor tracks beyond
    mean/stddev (``stats_correlation`` covers second-order cross
    moments).

    Cross-engine exactness (two-pass): pass 1 computes the exact mean
    from integer cents; pass 2 computes centered powers (value-mean)^k
    — each a deterministic chain of exactly-rounded IEEE ops on exact
    inputs — ROUNDED TO MICRO-UNITS per row before the associative
    integer sum (the `_util`/KL-term strategy).  The mode ties break to
    the smallest value.  Shape: aggregations keyed on event_type (and
    (event_type, cents) for the mode), the k-row means broadcast back —
    no windows, no single-partition stages beyond none.
    """
    ev = t(spark, sf_dir, "events").select(
        "event_type", F.round(F.col("value") * F.lit(100.0)).cast("long").alias("c")
    )
    means = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        (
            (F.sum("c").cast("double") / F.count("*").cast("double"))
            / F.lit(100.0)
        ).alias("mean_value"),
    )
    d = F.col("c").cast("double") / F.lit(100.0) - F.col("mean_value")
    term = lambda k: F.sum(
        F.round(
            (d ** F.lit(k)) * F.lit(1e6)
        ).cast("long")
    ).alias(f"s{k}")
    cent = (
        ev.join(F.broadcast(means), "event_type")
        .groupBy("event_type")
        .agg(term(2), term(3), term(4))
    )
    m = lambda k: F.col(f"s{k}").cast("double") / F.lit(1e6) / F.col("n").cast("double")
    mode = (
        ev.groupBy("event_type", "c")
        .agg(F.count("*").alias("_cnt"))
        .groupBy("event_type")
        .agg(
            F.max(F.struct(F.col("_cnt"), (-F.col("c")).alias("_negc"))).alias("_m")
        )
        .select(
            "event_type",
            (-F.col("_m._negc")).cast("double").alias("_mode_cents"),
        )
        .select(
            "event_type", (F.col("_mode_cents") / F.lit(100.0)).alias("mode_value")
        )
    )
    return (
        means.join(cent, "event_type")
        .join(mode, "event_type")
        .select(
            "event_type",
            "n",
            "mean_value",
            F.round(m(2), 6).alias("var_pop"),
            # a constant-valued group has m2 = 0: shape moments are
            # undefined there — NULL, never a 0/0 NaN
            F.round(
                F.when(F.col("s2") > 0, m(3) / (m(2) ** F.lit(1.5))), 6
            ).alias("skewness"),
            F.round(
                F.when(F.col("s2") > 0, m(4) / (m(2) ** F.lit(2.0))), 6
            ).alias("kurtosis"),
            "mode_value",
        )
        .orderBy("event_type")
    )


QUERIES["stats_moments_extended"] = QuerySpec(
    stats_moments_extended,
    """
    WITH ev AS (
      SELECT event_type, CAST(ROUND(value * 100.0) AS BIGINT) AS c FROM events
    ),
    means AS (
      SELECT event_type, COUNT(*) AS n,
             (CAST(SUM(c) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) / 100.0 AS mean_value
      FROM ev GROUP BY 1
    ),
    cent AS (
      SELECT e.event_type,
             SUM(CAST(ROUND(POWER(CAST(c AS DOUBLE) / 100.0 - mean_value, 2) * 1e6) AS BIGINT)) AS s2,
             SUM(CAST(ROUND(POWER(CAST(c AS DOUBLE) / 100.0 - mean_value, 3) * 1e6) AS BIGINT)) AS s3,
             SUM(CAST(ROUND(POWER(CAST(c AS DOUBLE) / 100.0 - mean_value, 4) * 1e6) AS BIGINT)) AS s4
      FROM ev e JOIN means USING (event_type)
      GROUP BY 1
    ),
    mode AS (
      SELECT event_type, CAST(c AS DOUBLE) / 100.0 AS mode_value FROM (
        SELECT event_type, c,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY COUNT(*) DESC, c) AS rn
        FROM ev GROUP BY event_type, c) x
      WHERE rn = 1
    )
    SELECT m.event_type, m.n, m.mean_value,
           ROUND(CAST(s2 AS DOUBLE) / 1e6 / n, 6) AS var_pop,
           ROUND(CASE WHEN s2 > 0 THEN (CAST(s3 AS DOUBLE) / 1e6 / n)
                 / POWER(CAST(s2 AS DOUBLE) / 1e6 / n, 1.5) END, 6) AS skewness,
           ROUND(CASE WHEN s2 > 0 THEN (CAST(s4 AS DOUBLE) / 1e6 / n)
                 / POWER(CAST(s2 AS DOUBLE) / 1e6 / n, 2.0) END, 6) AS kurtosis,
           mode_value
    FROM means m JOIN cent USING (event_type) JOIN mode USING (event_type)
    ORDER BY m.event_type
    """,
    "per-type variance/skewness/kurtosis/mode (two-pass, micro-quantized centered powers)",
    ("stats", "analytics"),
)


def stats_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test between document language and
    source — the significance test behind a drift/skew alarm (is the
    lang mix independent of the source, or is some source feeding a
    biased slice?).

    Exactness: observed counts are integers; each expected count is
    (row_total * col_total) / n — one IEEE division of exact longs; each
    cell term (o-e)^2/e is rounded to micro-units before the
    associative integer sum.  Shape: one (lang, source) contingency
    aggregation, two marginal re-aggregations joined back (k-row
    tables), one 1-row total broadcast.
    """
    docs = t(spark, sf_dir, "documents")
    cont = docs.groupBy("lang", "source").agg(F.count("*").alias("o"))
    row_m = cont.groupBy("lang").agg(F.sum("o").alias("_rt"))
    col_m = cont.groupBy("source").agg(F.sum("o").alias("_ct"))
    tot = cont.agg(
        F.sum("o").alias("_n"),
        F.count_distinct("lang").alias("_nr"),
        F.count_distinct("source").alias("_nc"),
    )
    e = (F.col("_rt") * F.col("_ct")).cast("double") / F.col("_n").cast("double")
    term = F.round(
        ((F.col("o").cast("double") - e) ** F.lit(2.0) / e) * F.lit(1e6)
    ).cast("long")
    return (
        cont.join(row_m, "lang")
        .join(col_m, "source")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.sum(term).alias("_chi_micro"),
            F.first("_nr").alias("_fr"),
            F.first("_nc").alias("_fc"),
        )
        .select(
            (F.col("_chi_micro").cast("double") / F.lit(1e6)).alias("chi_square"),
            ((F.col("_fr") - 1) * (F.col("_fc") - 1)).cast("long").alias("dof"),
        )
    )


QUERIES["stats_chi_square"] = QuerySpec(
    stats_chi_square,
    """
    WITH cont AS (
      SELECT lang, source, COUNT(*) AS o FROM documents GROUP BY 1, 2
    ),
    row_m AS (SELECT lang, SUM(o) AS rt FROM cont GROUP BY 1),
    col_m AS (SELECT source, SUM(o) AS ct FROM cont GROUP BY 1),
    tot AS (
      SELECT SUM(o) AS n, COUNT(DISTINCT lang) AS nr,
             COUNT(DISTINCT source) AS nc
      FROM cont
    )
    SELECT CAST(SUM(CAST(ROUND(
             POWER(CAST(o AS DOUBLE) - CAST(rt * ct AS DOUBLE) / CAST(n AS DOUBLE), 2.0)
               / (CAST(rt * ct AS DOUBLE) / CAST(n AS DOUBLE)) * 1e6) AS BIGINT))
             AS DOUBLE) / 1e6 AS chi_square,
           CAST((MIN(nr) - 1) * (MIN(nc) - 1) AS BIGINT) AS dof
    FROM cont JOIN row_m USING (lang) JOIN col_m USING (source), tot
    """,
    "chi-square independence test lang-vs-source (micro-quantized cell terms)",
    ("stats", "quality"),
)


def stats_linear_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-return-flag OLS fit of extended price on quantity: slope,
    intercept, and r² from the closed-form normal equations — the
    distributed-regression primitive (price elasticity per segment).

    Exactness: all five sufficient statistics (n, Σx, Σy, Σxy, Σx²,
    Σy²) are exact integer sums of cents-scaled values (x ≤ 50 units,
    y ≤ ~1e5 cents ⇒ Σxy ≤ ~6e13 per group — far under 2^63), and the
    closed-form combination is a fixed chain of IEEE ops on exact
    integers.  One groupBy; the regression never materializes a matrix
    — this is the map-side-combinable sufficient-statistics shape that
    scales to any row count (switch the accumulators to DECIMAL(38)
    past ~10^15 rows, see queries/_util).
    """
    li = t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.round(F.col("l_quantity")).cast("long").alias("x"),
        F.round(F.col("l_extendedprice") * F.lit(100.0)).cast("long").alias("y"),
    )
    agg = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    syy = F.col("syy").cast("double")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    intercept = (sy - slope * sx) / n
    r_num = n * sxy - sx * sy
    r2 = (r_num * r_num) / ((n * sxx - sx * sx) * (n * syy - sy * sy))
    return agg.select(
        "l_returnflag",
        "n",
        F.round(slope / F.lit(100.0), 6).alias("slope"),
        F.round(intercept / F.lit(100.0), 6).alias("intercept"),
        F.round(r2, 6).alias("r2"),
    ).orderBy("l_returnflag")


QUERIES["stats_linear_regression"] = QuerySpec(
    stats_linear_regression,
    """
    WITH s AS (
      SELECT l_returnflag,
             CAST(ROUND(l_quantity) AS BIGINT) AS x,
             CAST(ROUND(l_extendedprice * 100.0) AS BIGINT) AS y
      FROM lineitem
    ),
    agg AS (
      SELECT l_returnflag, COUNT(*) AS n,
             SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
      FROM s GROUP BY 1
    )
    SELECT l_returnflag, n,
           ROUND(((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                  / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) / 100.0, 6) AS slope,
           ROUND(((CAST(sy AS DOUBLE)
                   - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                      / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                     * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)) / 100.0, 6) AS intercept,
           ROUND(((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                   * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
                 / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS r2
    FROM agg ORDER BY l_returnflag
    """,
    "per-segment OLS regression from exact sufficient statistics (slope/intercept/r2)",
    ("stats", "analytics"),
)


# ---------------------------------------------------------------------------
# privacy governance: k-anonymity audit + DP-noised aggregate release
# ---------------------------------------------------------------------------

_KANON_K = 5
_DP_EPSILON = 1.0
_H60_RANGE = float(1 << 60)


def privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the customer quasi-identifiers
    (market segment × nation): every equivalence class with fewer than
    k=5 members is a re-identification risk the release process must
    suppress or generalize — the standard pre-publication check.

    One groupBy on the quasi-identifier tuple; the summary row count is
    bounded by the QI domain, not the data.
    """
    cust = t(spark, sf_dir, "customer")
    return (
        cust.groupBy("c_mktsegment", "c_nationkey")
        .agg(F.count("*").alias("class_size"))
        .select(
            "c_mktsegment",
            "c_nationkey",
            "class_size",
            (F.col("class_size") < _KANON_K).alias("at_risk"),
        )
        .orderBy("c_mktsegment", "c_nationkey")
    )


def privacy_dp_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private-style noisy release of per-language
    document counts: each count gets Laplace(1/epsilon) noise derived
    from a SEEDED hash uniform (h60 of the group key), so the release
    is reproducible run-to-run and engine-to-engine — the auditable-DP
    recipe (a production system would swap the seeded uniform for a
    vetted DP RNG; the pipeline shape — per-group noise at release
    time, never on raw rows — is identical).

    Laplace inverse-CDF: noise = -sign(u-1/2) * (1/eps) * ln(1-2|u-1/2|)
    with u in (0,1) from the top 60 hash bits; the ln term is rounded
    to micro-units (the `_util` strategy) so both engines agree.
    """
    docs = t(spark, sf_dir, "documents")
    per_lang = docs.groupBy("lang").agg(F.count("*").alias("true_n"))
    u = (F.expr(h60("dp:", "lang")).cast("double") + F.lit(0.5)) / F.lit(_H60_RANGE)
    centered = u - F.lit(0.5)
    sign = F.when(centered >= 0, F.lit(1.0)).otherwise(F.lit(-1.0))
    ln_micro = F.round(
        F.log(F.lit(1.0) - F.lit(2.0) * F.abs(centered)) * F.lit(1e6)
    ).cast("long")
    noise = -sign * (F.lit(1.0) / F.lit(_DP_EPSILON)) * (
        ln_micro.cast("double") / F.lit(1e6)
    )
    released = F.round(F.col("true_n") + noise).cast("long")
    return per_lang.select(
        "lang",
        released.alias("released_n"),
        F.round(noise, 6).alias("noise"),
    ).orderBy("lang")


QUERIES["privacy_k_anonymity"] = QuerySpec(
    privacy_k_anonymity,
    f"""
    SELECT c_mktsegment, c_nationkey, COUNT(*) AS class_size,
           COUNT(*) < {_KANON_K} AS at_risk
    FROM customer GROUP BY 1, 2 ORDER BY 1, 2
    """,
    "k-anonymity audit over quasi-identifier classes (pre-release re-identification check)",
    ("privacy", "governance"),
)

QUERIES["privacy_dp_release"] = QuerySpec(
    privacy_dp_release,
    f"""
    WITH per_lang AS (
      SELECT lang, COUNT(*) AS true_n FROM documents GROUP BY 1
    ),
    n AS (
      SELECT lang, true_n,
             ({h60('dp:', 'lang', DUCKDB)} + 0.5) / {_H60_RANGE} AS u
      FROM per_lang
    ),
    lap AS (
      SELECT lang, true_n,
             (CASE WHEN u - 0.5 >= 0 THEN -1.0 ELSE 1.0 END)
               * (1.0 / {_DP_EPSILON})
               * (CAST(CAST(ROUND(LN(1.0 - 2.0 * ABS(u - 0.5)) * 1e6) AS BIGINT)
                       AS DOUBLE) / 1e6) AS noise
      FROM n
    )
    SELECT lang,
           CAST(ROUND(true_n + noise) AS BIGINT) AS released_n,
           ROUND(noise, 6) AS noise
    FROM lap ORDER BY lang
    """,
    "seeded-Laplace noisy aggregate release (reproducible DP-style publication shape)",
    ("privacy", "governance"),
)


# ---------------------------------------------------------------------------
# snapshot diff (CDC between two table versions)
# ---------------------------------------------------------------------------

def snapshot_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level diff between two snapshots of a keyed table — the
    change-data-capture primitive behind incremental downstream rebuilds
    ("what changed since the last corpus release?").

    The two versions are derived deterministically from ``orders`` so
    both engines see identical snapshots: v1 drops keys ≡0 (mod 11)
    (those appear *added* in v2), v2 drops keys ≡0 (mod 13) (*removed*),
    and v2 bumps the total price by 1.00 for keys ≡0 (mod 7)
    (*changed*).  Output is only the delta rows — added / removed /
    changed with old/new values — never the unchanged bulk.

    Scale: ONE full-outer join keyed on the primary key (AQE handles
    skew); both snapshots stored bucketed by the key
    (``io.write_bucketed``) make it shuffle-free, which is how a
    100 TB nightly diff is actually run.  Prices ride through the diff
    as exact integer cents (queries/_util doc) so the comparison is
    bit-stable.
    """
    orders = t(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * F.lit(100.0)).cast("long").alias("cents"),
    )
    v1 = base.filter(F.col("o_orderkey") % 11 != 0)
    v2 = base.filter(F.col("o_orderkey") % 13 != 0).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 7 == 0, F.col("cents") + 100)
        .otherwise(F.col("cents"))
        .alias("cents"),
    )
    j = (
        v1.withColumnRenamed("cents", "old_c")
        .join(v2.withColumnRenamed("cents", "new_c"), "o_orderkey", "full_outer")
    )
    return (
        j.select(
            "o_orderkey",
            F.when(F.col("old_c").isNull(), F.lit("added"))
            .when(F.col("new_c").isNull(), F.lit("removed"))
            .when(F.col("old_c") != F.col("new_c"), F.lit("changed"))
            .alias("change_type"),
            (F.col("old_c").cast("double") / F.lit(100.0)).alias("old_totalprice"),
            (F.col("new_c").cast("double") / F.lit(100.0)).alias("new_totalprice"),
        )
        .filter(F.col("change_type").isNotNull())
    )


QUERIES["snapshot_table_diff"] = QuerySpec(
    snapshot_table_diff,
    """
    WITH base AS (
      SELECT o_orderkey,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    v1 AS (SELECT * FROM base WHERE o_orderkey % 11 != 0),
    v2 AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 7 = 0 THEN cents + 100 ELSE cents END AS cents
      FROM base WHERE o_orderkey % 13 != 0
    ),
    j AS (
      SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS o_orderkey,
             a.cents AS old_c, b.cents AS new_c
      FROM v1 a FULL OUTER JOIN v2 b ON a.o_orderkey = b.o_orderkey
    )
    SELECT o_orderkey,
           CASE WHEN old_c IS NULL THEN 'added'
                WHEN new_c IS NULL THEN 'removed'
                WHEN old_c != new_c THEN 'changed' END AS change_type,
           CAST(old_c AS DOUBLE) / 100.0 AS old_totalprice,
           CAST(new_c AS DOUBLE) / 100.0 AS new_totalprice
    FROM j
    WHERE old_c IS NULL OR new_c IS NULL OR old_c != new_c
    """,
    "CDC snapshot diff: added/removed/changed rows via one full-outer key join",
    ("cdc", "join", "ops"),
)


# ---------------------------------------------------------------------------
# two-sample Kolmogorov–Smirnov test
# ---------------------------------------------------------------------------

def stats_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov statistic between the value
    distributions of 'click' and 'purchase' events — the
    distribution-shift detector behind drift alarms (are two segments
    drawing from the same distribution?).

    D = max over x of |F1(x) − F2(x)| needs a global CDF, i.e. a global
    running sum — the classic scale killer if done with one unpartitioned
    window.  Same distributed shape as :func:`window_ntile_percent`:
    aggregate per distinct value (ties collapse, so the CDF is evaluated
    exactly at sample points), range-repartition on the value, local
    running counts per partition, then add per-partition offsets (a
    #partitions-row cumulative sum, broadcast back).

    Exactness: D's numerator is max|c1·N2 − c2·N1| over exact integer
    counts; the single final division by N1·N2 is one IEEE op — both
    engines produce the same double.  (Past ~3·10^9 rows per side the
    c·N products need DECIMAL(38) accumulators; counts to 2^31 keep the
    product under 2^62.)
    """
    ev = t(spark, sf_dir, "events")
    s = ev.filter(F.col("event_type").isin("click", "purchase")).select(
        F.col("value").alias("v"),
        F.when(F.col("event_type") == "click", 1).otherwise(0).cast("long").alias("g1"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).cast("long").alias("g2"),
    )
    d = s.groupBy("v").agg(F.sum("g1").alias("n1"), F.sum("g2").alias("n2"))
    part = d.repartitionByRange("v").withColumn("_pid", F.spark_partition_id())
    w_local = W.partitionBy("_pid").orderBy("v").rowsBetween(W.unboundedPreceding, 0)
    local = part.withColumn("c1l", F.sum("n1").over(w_local)).withColumn(
        "c2l", F.sum("n2").over(w_local)
    )
    counts = local.groupBy("_pid").agg(
        F.sum("n1").alias("_s1"), F.sum("n2").alias("_s2")
    )
    # cumulative offsets over #partitions rows — bounded by cluster
    # size, not data size
    w_off = W.orderBy("_pid").rowsBetween(W.unboundedPreceding, -1)
    offsets = counts.select(
        "_pid",
        F.coalesce(F.sum("_s1").over(w_off), F.lit(0)).alias("_o1"),
        F.coalesce(F.sum("_s2").over(w_off), F.lit(0)).alias("_o2"),
    )
    tot = d.agg(F.sum("n1").alias("_N1"), F.sum("n2").alias("_N2"))
    cum = local.join(F.broadcast(offsets), "_pid").join(F.broadcast(tot))
    num = F.abs(
        (F.col("c1l") + F.col("_o1")) * F.col("_N2")
        - (F.col("c2l") + F.col("_o2")) * F.col("_N1")
    )
    return cum.agg(
        F.max(num).alias("_dnum"),
        F.first("_N1").alias("_n1"),
        F.first("_N2").alias("_n2"),
    ).select(
        (
            F.col("_dnum").cast("double")
            / (F.col("_n1") * F.col("_n2")).cast("double")
        ).alias("ks_d"),
        F.col("_n1").alias("n_click"),
        F.col("_n2").alias("n_purchase"),
    )


QUERIES["stats_ks_test"] = QuerySpec(
    stats_ks_test,
    """
    WITH s AS (
      SELECT value AS v,
             CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS g1,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS g2
      FROM events WHERE event_type IN ('click', 'purchase')
    ),
    d AS (SELECT v, SUM(g1) AS n1, SUM(g2) AS n2 FROM s GROUP BY v),
    c AS (
      SELECT v, SUM(n1) OVER (ORDER BY v) AS c1,
             SUM(n2) OVER (ORDER BY v) AS c2
      FROM d
    ),
    t AS (SELECT SUM(n1) AS N1, SUM(n2) AS N2 FROM d)
    SELECT CAST(MAX(ABS(c1 * N2 - c2 * N1)) AS DOUBLE)
             / CAST(MIN(N1) * MIN(N2) AS DOUBLE) AS ks_d,
           CAST(MIN(N1) AS BIGINT) AS n_click,
           CAST(MIN(N2) AS BIGINT) AS n_purchase
    FROM c, t
    """,
    "exact two-sample Kolmogorov-Smirnov D (distributed CDF via range offsets)",
    ("stats", "quality"),
)


# ---------------------------------------------------------------------------
# robust statistics: trimmed mean, Welch's t-test
# ---------------------------------------------------------------------------

def stats_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5% two-sided trimmed mean of event value per event type — the
    robust location estimate that survives the sensor-glitch/outlier
    tails a plain mean is wrecked by.

    Exact, not approximate: rows are ranked per group by (value,
    event_id) — a unique composite, so the rank is deterministic — and
    the floor(n·0.05) smallest and largest rows are dropped before an
    exact integer-cents average of the survivors.  The rank window is
    PARTITIONED by event type (no global window); two shuffles total
    (rank + re-aggregate), map-side combinable.
    """
    ev = t(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.round(F.col("value") * F.lit(100.0)).cast("long").alias("cents"),
        F.col("value").alias("v"),
    )
    w = W.partitionBy("event_type").orderBy("v", "event_id")
    n_w = W.partitionBy("event_type")
    ranked = ev.withColumn("rn", F.row_number().over(w).cast("long")).withColumn(
        "n", F.count("*").over(n_w).cast("long")
    )
    k = F.floor(F.col("n") * F.lit(0.05)).cast("long")
    kept = ranked.filter((F.col("rn") > k) & (F.col("rn") <= F.col("n") - k))
    return (
        kept.groupBy("event_type")
        .agg(
            F.count("*").alias("n_kept"),
            (
                (F.sum("cents").cast("double") / F.count("*").cast("double"))
                / F.lit(100.0)
            ).alias("trimmed_mean"),
        )
        .orderBy("event_type")
    )


QUERIES["stats_trimmed_mean"] = QuerySpec(
    stats_trimmed_mean,
    """
    WITH ranked AS (
      SELECT event_type,
             CAST(ROUND(value * 100) AS BIGINT) AS cents,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY value, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM events
    )
    SELECT event_type,
           COUNT(*) AS n_kept,
           (CAST(SUM(cents) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) / 100.0
             AS trimmed_mean
    FROM ranked
    WHERE rn > CAST(FLOOR(n * 0.05) AS BIGINT)
      AND rn <= n - CAST(FLOOR(n * 0.05) AS BIGINT)
    GROUP BY event_type ORDER BY event_type
    """,
    "exact 5% trimmed mean per event type (deterministic per-group ranks)",
    ("stats", "analytics"),
)


def stats_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test between click and purchase event
    values — "are these two segments' means actually different, or is
    the dashboard delta noise?".

    Sufficient-statistics shape (the only scalable way): one groupBy
    computes n, Σx, Σx² per side as exact integers over cents-quantized
    values; the t statistic and Welch–Satterthwaite degrees of freedom
    are a fixed chain of IEEE ops on those exact integers, micro-rounded
    (1e6) for cross-engine output identity.  Σx² of cents stays under
    2^63 to ~10^6 rows per side at |value| ≤ 10^4 — past that, switch
    the accumulators to DECIMAL(38) (queries/_util doc).
    """
    ev = t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    c = F.round(F.col("value") * F.lit(100.0)).cast("long")
    stats = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(c).alias("s"),
        F.sum(c * c).alias("s2"),
    )

    def side(name, tag):
        return (
            stats.filter(F.col("event_type") == name)
            .select(
                F.col("n").alias(f"n{tag}"),
                F.col("s").alias(f"s{tag}"),
                F.col("s2").alias(f"q{tag}"),
            )
        )

    j = side("click", "1").join(F.broadcast(side("purchase", "2")))
    # mean_i = s_i/n_i (cents); var_i = (n·q − s²)/(n·(n−1)) (cents²).
    # n·q and s² are formed in DOUBLE: the integer inputs are exact, but
    # their products pass 2^63 around sf1 (s ~ 2e10 cents ⇒ s² ~ 4e20);
    # the identical double expression chain keeps both engines bit-equal
    m1 = F.col("s1").cast("double") / F.col("n1").cast("double")
    m2 = F.col("s2").cast("double") / F.col("n2").cast("double")

    def var(n, s, q):
        nd, sd, qd = (F.col(x).cast("double") for x in (n, s, q))
        return (nd * qd - sd * sd) / (nd * (nd - F.lit(1.0)))

    v1 = var("n1", "s1", "q1")
    v2 = var("n2", "s2", "q2")
    se1 = v1 / F.col("n1").cast("double")
    se2 = v2 / F.col("n2").cast("double")
    tstat = (m1 - m2) / F.sqrt(se1 + se2)
    dof = ((se1 + se2) * (se1 + se2)) / (
        se1 * se1 / (F.col("n1") - 1).cast("double")
        + se2 * se2 / (F.col("n2") - 1).cast("double")
    )
    return j.select(
        F.col("n1").alias("n_click"),
        F.col("n2").alias("n_purchase"),
        (F.round(tstat * F.lit(1e6)).cast("long").cast("double") / F.lit(1e6)).alias(
            "t_stat"
        ),
        (F.round(dof * F.lit(1e6)).cast("long").cast("double") / F.lit(1e6)).alias(
            "welch_dof"
        ),
    )


QUERIES["stats_welch_ttest"] = QuerySpec(
    stats_welch_ttest,
    """
    WITH st AS (
      SELECT event_type,
             COUNT(*) AS n,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS s,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)
                      * CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS q
      FROM events WHERE event_type IN ('click', 'purchase')
      GROUP BY 1
    ),
    a AS (SELECT n AS n1, s AS s1, q AS q1 FROM st WHERE event_type = 'click'),
    b AS (SELECT n AS n2, s AS s2, q AS q2 FROM st WHERE event_type = 'purchase'),
    x AS (
      SELECT n1, n2,
             CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS m1,
             CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS m2,
             ((CAST(n1 AS DOUBLE) * CAST(q1 AS DOUBLE)
               - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
              / (CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) - 1.0)))
               / CAST(n1 AS DOUBLE) AS se1,
             ((CAST(n2 AS DOUBLE) * CAST(q2 AS DOUBLE)
               - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE))
              / (CAST(n2 AS DOUBLE) * (CAST(n2 AS DOUBLE) - 1.0)))
               / CAST(n2 AS DOUBLE) AS se2
      FROM a, b
    )
    SELECT n1 AS n_click, n2 AS n_purchase,
           CAST(CAST(ROUND((m1 - m2) / SQRT(se1 + se2) * 1e6) AS BIGINT) AS DOUBLE)
             / 1e6 AS t_stat,
           CAST(CAST(ROUND(((se1 + se2) * (se1 + se2))
                 / (se1 * se1 / CAST(n1 - 1 AS DOUBLE)
                    + se2 * se2 / CAST(n2 - 1 AS DOUBLE)) * 1e6) AS BIGINT) AS DOUBLE)
             / 1e6 AS welch_dof
    FROM x
    """,
    "Welch unequal-variance t-test click-vs-purchase (exact sufficient stats)",
    ("stats", "analytics"),
)


def stats_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U between click and purchase event values — the
    rank-sum complement to :func:`stats_ks_test` (KS asks "same
    distribution?", U asks "does one side stochastically dominate?").

    Fully integer-exact including ties: group by distinct value with
    per-side counts, assemble the global cumulative count with the same
    distributed offsets shape as the KS CDF, then per distinct value the
    DOUBLED average rank 2·r̄ = (c_before + 1) + (c_before + n_v)
    is an exact integer, so the doubled rank sum 2·R₁ = Σ n1(v)·2·r̄(v)
    is exact int64 and U₁ = R₁ − n₁(n₁+1)/2 is a single exact halving.
    (Doubled-rank bookkeeping is how ties stay in integer arithmetic —
    no 0.5 floats until the final division.)
    """
    ev = t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    s = ev.select(
        F.col("value").alias("v"),
        F.when(F.col("event_type") == "click", 1).otherwise(0).cast("long").alias("g1"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).cast("long").alias("g2"),
    )
    d = s.groupBy("v").agg(
        F.sum("g1").alias("n1v"), F.sum("g2").alias("n2v")
    ).withColumn("nv", F.col("n1v") + F.col("n2v"))
    part = d.repartitionByRange("v").withColumn("_pid", F.spark_partition_id())
    w_local = W.partitionBy("_pid").orderBy("v").rowsBetween(W.unboundedPreceding, 0)
    local = part.withColumn("cl", F.sum("nv").over(w_local))
    counts = local.groupBy("_pid").agg(F.sum("nv").alias("_s"))
    w_off = W.orderBy("_pid").rowsBetween(W.unboundedPreceding, -1)
    offsets = counts.select(
        "_pid", F.coalesce(F.sum("_s").over(w_off), F.lit(0)).alias("_o")
    )
    tot = d.agg(F.sum("n1v").alias("_N1"), F.sum("n2v").alias("_N2"))
    cum = local.join(F.broadcast(offsets), "_pid")
    c_before = F.col("cl") + F.col("_o") - F.col("nv")  # count strictly below v
    dbl_rank = (c_before + 1) + (c_before + F.col("nv"))  # 2 * average rank
    sums = cum.agg(
        F.sum(F.col("n1v") * dbl_rank).alias("_2r1"),
    ).join(F.broadcast(tot))
    u1 = (F.col("_2r1") - F.col("_N1") * (F.col("_N1") + 1)) / F.lit(2.0)
    return sums.select(
        F.col("_N1").alias("n_click"),
        F.col("_N2").alias("n_purchase"),
        u1.alias("u_click"),
        ((F.col("_N1") * F.col("_N2")).cast("double") - u1).alias("u_purchase"),
    )


QUERIES["stats_mann_whitney_u"] = QuerySpec(
    stats_mann_whitney_u,
    """
    WITH s AS (
      SELECT value AS v,
             CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS g1,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS g2
      FROM events WHERE event_type IN ('click', 'purchase')
    ),
    d AS (
      SELECT v, SUM(g1) AS n1v, SUM(g2) AS n2v, SUM(g1) + SUM(g2) AS nv
      FROM s GROUP BY v
    ),
    c AS (
      SELECT v, n1v, n2v, nv,
             SUM(nv) OVER (ORDER BY v) - nv AS c_before
      FROM d
    ),
    t AS (SELECT CAST(SUM(n1v) AS BIGINT) AS N1,
                 CAST(SUM(n2v) AS BIGINT) AS N2 FROM d),
    r AS (
      SELECT CAST(SUM(n1v * ((c_before + 1) + (c_before + nv))) AS BIGINT) AS r2x
      FROM c
    )
    SELECT N1 AS n_click, N2 AS n_purchase,
           CAST(r2x - N1 * (N1 + 1) AS DOUBLE) / 2.0 AS u_click,
           CAST(N1 AS DOUBLE) * CAST(N2 AS DOUBLE)
             - CAST(r2x - N1 * (N1 + 1) AS DOUBLE) / 2.0 AS u_purchase
    FROM r, t
    """,
    "Mann-Whitney U click-vs-purchase (integer-exact doubled-rank ties)",
    ("stats", "analytics"),
)


def privacy_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit: k-anonymity's required companion — a class can
    be large (k-safe) yet still leak if every member shares the same
    SENSITIVE value.  Per quasi-identifier class (market segment ×
    nation), count distinct sensitive values (account-balance band,
    1000-unit buckets) and flag classes with fewer than l=3 — those
    need generalization before release even though k passed.

    One groupBy on the QI tuple with a distinct-count (map-side partial
    distinct per bucket); output bounded by the QI domain."""
    cust = t(spark, sf_dir, "customer")
    band = F.floor(F.col("c_acctbal") / F.lit(1000.0)).cast("long")
    return (
        cust.select("c_mktsegment", "c_nationkey", band.alias("bal_band"))
        .groupBy("c_mktsegment", "c_nationkey")
        .agg(
            F.count("*").alias("class_size"),
            F.countDistinct("bal_band").alias("l_diversity"),
        )
        .select(
            "c_mktsegment",
            "c_nationkey",
            "class_size",
            "l_diversity",
            (F.col("l_diversity") < 3).alias("needs_generalization"),
        )
        .orderBy("c_mktsegment", "c_nationkey")
    )


QUERIES["privacy_l_diversity"] = QuerySpec(
    privacy_l_diversity,
    """
    SELECT c_mktsegment, c_nationkey,
           COUNT(*) AS class_size,
           CAST(COUNT(DISTINCT CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT)) AS BIGINT)
             AS l_diversity,
           COUNT(DISTINCT CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT)) < 3
             AS needs_generalization
    FROM customer
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
    "l-diversity audit over QI classes (distinct sensitive bands, l>=3 gate)",
    ("privacy", "governance"),
)


def join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact pre-flight join-size accounting for orders ⋈ lineitem on
    the order key: Σ_k cA(k)·cB(k) plus matched-key and max-fanout
    diagnostics — the number an engineer checks BEFORE launching a
    100 TB join to catch key-explosion (it costs two cheap per-key
    count aggregations instead of the join itself, and the max-fanout
    row is the salting decision input alongside skew_key_report).
    """
    o = t(spark, sf_dir, "orders").groupBy(
        F.col("o_orderkey").alias("k")
    ).agg(F.count("*").alias("ca"))
    l = t(spark, sf_dir, "lineitem").groupBy(
        F.col("l_orderkey").alias("k")
    ).agg(F.count("*").alias("cb"))
    j = o.join(l, "k")
    return j.agg(
        F.sum(F.col("ca") * F.col("cb")).alias("join_rows"),
        F.count("*").alias("matched_keys"),
        F.max(F.col("ca") * F.col("cb")).alias("max_key_fanout"),
    )


QUERIES["join_size_estimate"] = QuerySpec(
    join_size_estimate,
    """
    WITH o AS (SELECT o_orderkey AS k, COUNT(*) AS ca FROM orders GROUP BY 1),
    l AS (SELECT l_orderkey AS k, COUNT(*) AS cb FROM lineitem GROUP BY 1)
    SELECT CAST(SUM(ca * cb) AS BIGINT) AS join_rows,
           COUNT(*) AS matched_keys,
           CAST(MAX(ca * cb) AS BIGINT) AS max_key_fanout
    FROM o JOIN l USING (k)
    """,
    "exact pre-flight join cardinality + max key fanout (skew/explosion check)",
    ("join", "ops", "stats"),
)


def lateral_join_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 orders per customer via a correlated LATERAL subquery —
    the SQL-dialect route to per-group top-k (both engines support
    LATERAL; Catalyst decorrelates it into the same window/TakeOrdered
    shape the DataFrame `window_topk_per_group` entry compiles to, so
    this pins the SQL API surface, not a new physical strategy).
    Restricted to one nation's customers to keep the output a report.
    """
    from columnar_analytics_engine_spark.sql import run_sql

    return run_sql(
        spark,
        sf_dir,
        """
        SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        FROM customer c,
        LATERAL (
          SELECT o_orderkey, o_totalprice
          FROM orders o
          WHERE o.o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey
          LIMIT 2
        ) t
        WHERE c.c_nationkey = 1
        """,
    )


QUERIES["lateral_join_topk"] = QuerySpec(
    lateral_join_topk,
    """
    SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
    FROM customer c,
    LATERAL (
      SELECT o_orderkey, o_totalprice
      FROM orders o
      WHERE o.o_custkey = c.c_custkey
      ORDER BY o_totalprice DESC, o_orderkey
      LIMIT 2
    ) t
    WHERE c.c_nationkey = 1
    """,
    "correlated LATERAL top-2 orders per customer (SQL dialect parity)",
    ("join", "sql"),
)


def customers_revenue_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration report: customer deciles by total order
    value with per-decile and cumulative revenue shares, plus the Gini
    coefficient — the "does 10% of the base drive 60% of revenue?"
    Pareto answer every commercial dashboard leads with.

    Global ascending revenue rank assembled distributed (range
    repartition + broadcast offsets — the window_ntile_percent shape);
    with ascending exact-cents x_i the Gini is the closed form
    G = 2·Σ i·x_i / (n·Σx) − (n+1)/n over exact integer sums (Σ i·x_i
    needs DECIMAL(38) past ~10^9 customers at 10^9-cent totals); the
    decile rollup is a ≤10-row aggregation with a bounded cumsum.
    """
    orders = t(spark, sf_dir, "orders")
    rev = orders.groupBy(F.col("o_custkey").alias("k")).agg(
        F.sum(F.round(F.col("o_totalprice") * F.lit(100.0)).cast("long")).alias("x")
    )
    part = rev.repartitionByRange("x", "k").withColumn("_pid", F.spark_partition_id())
    w_local = W.partitionBy("_pid").orderBy("x", "k")
    local = part.withColumn("_lrn", F.row_number().over(w_local).cast("long"))
    counts = local.groupBy("_pid").agg(F.count("*").alias("_n"))
    w_off = W.orderBy("_pid").rowsBetween(W.unboundedPreceding, -1)
    offsets = counts.select(
        "_pid", F.coalesce(F.sum("_n").over(w_off), F.lit(0)).cast("long").alias("_off")
    )
    tot = rev.agg(
        F.count("*").alias("_n"),
        F.sum("x").alias("_tot"),
    )
    # eager localCheckpoint: both the gini reduce and the decile rollup
    # consume the ranked table — uncheckpointed, the rank assembly would
    # run twice, and a persist's InMemoryTableScan would reprint the
    # offsets/totals exchanges per branch in the plan text (brittle for
    # plan-shape linting)
    ranked = (
        local.join(F.broadcast(offsets), "_pid")
        .join(F.broadcast(tot))
        .withColumn("_rn", F.col("_off") + F.col("_lrn"))
    ).localCheckpoint()
    gini_num = ranked.agg(
        F.sum(F.col("_rn") * F.col("x")).alias("_ix"),
        F.first("_n").alias("_n"),
        F.first("_tot").alias("_tot"),
    ).select(
        (
            F.lit(2.0) * F.col("_ix").cast("double")
            / (F.col("_n").cast("double") * F.col("_tot").cast("double"))
            - (F.col("_n") + 1).cast("double") / F.col("_n").cast("double")
        ).alias("gini")
    )
    decile = F.ceil(F.col("_rn") * 10 / F.col("_n")).cast("long")
    per_dec = (
        ranked.groupBy(decile.alias("decile"))
        .agg(
            F.count("*").alias("n_customers"),
            F.sum("x").alias("_dx"),
            F.first("_tot").alias("_tot"),
        )
        .withColumn(
            "revenue_share",
            F.col("_dx").cast("double") / F.col("_tot").cast("double"),
        )
    )
    w_cum = W.orderBy("decile").rowsBetween(W.unboundedPreceding, 0)
    return (
        per_dec.withColumn(
            "cum_share",
            F.sum("_dx").over(w_cum).cast("double") / F.col("_tot").cast("double"),
        )
        .join(F.broadcast(gini_num))
        .select(
            "decile", "n_customers", "revenue_share", "cum_share", "gini"
        )
        .orderBy("decile")
    )


QUERIES["customers_revenue_pareto"] = QuerySpec(
    customers_revenue_pareto,
    """
    WITH rev AS (
      SELECT o_custkey AS k,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS x
      FROM orders GROUP BY 1
    ),
    ranked AS (
      SELECT k, x, ROW_NUMBER() OVER (ORDER BY x, k) AS rn FROM rev
    ),
    tt AS (SELECT COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS tot FROM rev),
    g AS (
      SELECT 2.0 * CAST(SUM(rn * x) AS DOUBLE)
               / (CAST(n AS DOUBLE) * CAST(tot AS DOUBLE))
             - CAST(n + 1 AS DOUBLE) / CAST(n AS DOUBLE) AS gini
      FROM ranked, tt GROUP BY n, tot
    ),
    dec AS (
      SELECT CAST(CEIL(rn * 10.0 / n) AS BIGINT) AS decile,
             COUNT(*) AS n_customers,
             CAST(SUM(x) AS BIGINT) AS dx,
             CAST(MIN(tot) AS BIGINT) AS tot
      FROM ranked, tt GROUP BY 1
    )
    SELECT decile, n_customers,
           CAST(dx AS DOUBLE) / CAST(tot AS DOUBLE) AS revenue_share,
           CAST(SUM(dx) OVER (ORDER BY decile) AS DOUBLE) / CAST(tot AS DOUBLE)
             AS cum_share,
           gini
    FROM dec, g ORDER BY decile
    """,
    "customer revenue deciles + cumulative share + Gini (distributed rank)",
    ("analytics", "stats"),
)


def customers_order_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-order time gaps per market segment: how many days pass
    between a customer's consecutive orders — the purchase-cadence
    input behind churn prediction and replenishment-campaign timing.

    Per-customer gaps come from a PARTITIONED lag window over
    (order date, key) — integer day arithmetic (datediff), no global
    window; the per-segment rollup reports count, exact integer mean,
    and interpolated median/p90 (the percentile_exact cross-engine
    pairing: Spark `percentile` ≡ DuckDB `quantile_cont` on the same
    integer gaps)."""
    orders = t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.col("o_orderdate").cast("date").alias("od"),
    )
    w = W.partitionBy("o_custkey").orderBy("od", "o_orderkey")
    gaps = (
        orders.withColumn("prev", F.lag("od").over(w))
        .filter(F.col("prev").isNotNull())
        .select(
            "o_custkey",
            F.datediff(F.col("od"), F.col("prev")).cast("long").alias("gap_days"),
        )
    )
    cust = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    return (
        gaps.join(cust, "o_custkey")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_gaps"),
            (
                F.sum("gap_days").cast("double") / F.count("*").cast("double")
            ).alias("mean_gap_days"),
            F.expr("percentile(gap_days, 0.5)").alias("median_gap_days"),
            F.expr("percentile(gap_days, 0.9)").alias("p90_gap_days"),
        )
        .orderBy("c_mktsegment")
    )


QUERIES["customers_order_gap_stats"] = QuerySpec(
    customers_order_gap_stats,
    """
    WITH o AS (
      SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS od
      FROM orders
    ),
    gaps AS (
      SELECT o_custkey,
             CAST(od - LAG(od) OVER (PARTITION BY o_custkey
                                     ORDER BY od, o_orderkey) AS BIGINT)
               AS gap_days
      FROM o
    ),
    g AS (SELECT * FROM gaps WHERE gap_days IS NOT NULL)
    SELECT c.c_mktsegment,
           COUNT(*) AS n_gaps,
           CAST(SUM(g.gap_days) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
             AS mean_gap_days,
           quantile_cont(g.gap_days, 0.5) AS median_gap_days,
           quantile_cont(g.gap_days, 0.9) AS p90_gap_days
    FROM g JOIN customer c ON c.c_custkey = g.o_custkey
    GROUP BY 1 ORDER BY 1
    """,
    "inter-order gap cadence per segment (lag gaps + exact mean + quantiles)",
    ("timeseries", "analytics", "window"),
)
