"""Approximate aggregates must land near the exact answers."""

from __future__ import annotations

from pyspark.sql import functions as F

from columnar_analytics_engine_spark.io import read_table


def test_approx_distinct_within_5pct(spark, sf_small):
    df = read_table(spark, sf_small, "lineitem")
    row = df.agg(
        F.approx_count_distinct("l_partkey").alias("a"),
        F.countDistinct("l_partkey").alias("e"),
    ).first()
    assert abs(row["a"] - row["e"]) / row["e"] < 0.05


def test_approx_percentile_close_to_exact(spark, sf_small):
    df = read_table(spark, sf_small, "lineitem")
    row = df.agg(
        F.percentile_approx("l_extendedprice", 0.5).alias("a"),
        F.expr("percentile(l_extendedprice, 0.5)").alias("e"),
    ).first()
    assert abs(row["a"] - row["e"]) / row["e"] < 0.02


def test_histogram_quantile_within_bin_width(spark, sf_small):
    """The histogram sketch estimate is within one bin width of the
    exact quantile (the sketch's accuracy contract)."""
    from columnar_analytics_engine_spark.queries.retrieval import (
        _HQ_WIDTH,
        approx_quantile_histogram,
    )

    est = {
        r["q"]: r["approx_value"]
        for r in approx_quantile_histogram(spark, sf_small).collect()
    }
    df = read_table(spark, sf_small, "lineitem")
    for q, approx in est.items():
        exact = df.agg(
            F.expr(f"percentile(l_extendedprice, {q})").alias("e")
        ).first()["e"]
        assert abs(approx - exact) <= _HQ_WIDTH, (q, approx, exact)


def test_histogram_quantile_merges_across_shards(spark, sf_small):
    """The sketch is mergeable: bin counts built per-shard and summed
    give the same estimates as one global build — the 1000-executor
    property."""
    df = read_table(spark, sf_small, "lineitem")
    binned = df.select(
        F.floor(F.col("l_extendedprice") / F.lit(1000.0)).cast("long").alias("bin"),
        (F.col("l_orderkey") % 4).alias("shard"),
    )
    per_shard = binned.groupBy("shard", "bin").count()
    merged = per_shard.groupBy("bin").agg(F.sum("count").alias("cnt"))
    direct = binned.groupBy("bin").agg(F.count("*").alias("cnt"))
    assert merged.exceptAll(direct).count() == 0
    assert direct.exceptAll(merged).count() == 0


def test_grouped_histogram_quantile_within_bin_width(spark, sf_small):
    from columnar_analytics_engine_spark.queries.retrieval import (
        _HQ_WIDTH,
        approx_quantile_by_group,
    )

    rows = approx_quantile_by_group(spark, sf_small).collect()
    assert {r["grp"] for r in rows} == {"A", "N", "R"}
    df = read_table(spark, sf_small, "lineitem")
    for r in rows:
        exact = df.filter(F.col("l_returnflag") == r["grp"]).agg(
            F.expr(f"percentile(l_extendedprice, {r['q']})").alias("e")
        ).first()["e"]
        assert abs(r["approx_value"] - exact) <= _HQ_WIDTH, r


def test_quantile_queries_run_no_python_relation(spark, sf_small):
    """The quantile list is an inline table, not a tuple-list
    ``createDataFrame`` (a Python RDD, ``ExistingRDD`` in the plan, whose
    every action runs one Python task per core)."""
    from columnar_analytics_engine_spark.queries.retrieval import (
        approx_quantile_by_group,
        approx_quantile_histogram,
    )

    for build in (approx_quantile_histogram, approx_quantile_by_group):
        plan = build(spark, sf_small)._jdf.queryExecution().executedPlan().toString()
        assert "ExistingRDD" not in plan and "LocalTableScan" in plan, plan
