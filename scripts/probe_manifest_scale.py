#!/usr/bin/env python
"""Scale probe for the versioned-manifest tier.

Three questions a 100 TB operator asks, answered with measurements
(recorded in BASELINE.md "Manifest-tier scale probe"):

1. Does PLAN cost grow with retained history?  It must not: a reader
   resolves _CURRENT once and reads ONE version dir, so plan_skipping
   wall time should be flat in the number of retained versions.
2. What do planning, read construction and a maintenance PUBLISH
   cost as the table grows, and what does the driver hold?  Manifests
   are read and written on the driver with Arrow
   (``manifest.manifest_table``), pruned with ``pyarrow.compute``, and
   each version is a full snapshot (rows = files x columns), so these
   costs are linear in FILE COUNT, metadata-scale, and independent of
   data bytes — the Delta-checkpoint shape.  Constructing
   ``read_skipping`` / ``read_indexed`` (plan plus a footer-declared
   schema) should run no Spark job below Spark's parallel-listing
   threshold.  The driver's peak RSS at the largest size bounds what
   the driver path needs.
3. What does schema-evolution cohort reading cost?  read_evolved adds
   one scan branch per distinct physical schema; with K cohorts the
   plan holds K scans over disjoint file sets — same total I/O, so
   the overhead should be bounded planning cost, not data cost.

Usage: python scripts/probe_manifest_scale.py [sf_dir]
Prints one JSON line per experiment.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from columnar_analytics_engine_spark.session import get_spark  # noqa: E402


def probe_plan_vs_versions(spark, src, tmp: str) -> dict:
    """plan_skipping wall time with 1 vs 16 vs 64 retained versions."""
    from columnar_analytics_engine_spark.layout import merge_upsert_files
    from columnar_analytics_engine_spark.manifest import list_versions
    from columnar_analytics_engine_spark.io import write_sorted
    from columnar_analytics_engine_spark.skipping import (
        build_stats_index,
        plan_skipping,
    )

    data, index = f"{tmp}/pv_data", f"{tmp}/pv_idx"
    write_sorted(src, data, ["o_orderkey"], n_files=16)
    build_stats_index(spark, data, index)

    def plan_ms() -> float:
        best = float("inf")
        for _ in range(5):
            t0 = time.perf_counter()
            plan_skipping(spark, index, "o_orderkey le 500")
            best = min(best, time.perf_counter() - t0)
        return round(best * 1000, 1)

    out = {"versions_1_ms": plan_ms()}
    for target, key in ((16, "versions_16_ms"), (64, "versions_64_ms")):
        while len(list_versions(index)) < target:
            upd = src.filter(F.col("o_orderkey") <= 100).withColumn(
                "o_totalprice", F.col("o_totalprice") + F.lit(1.0)
            )
            merge_upsert_files(spark, data, index, upd, "o_orderkey")
        out[key] = plan_ms()
    out["experiment"] = "plan_vs_retained_versions"
    return out


def probe_publish_vs_files(spark, src, tmp: str) -> dict:
    """At 16 / 128 / 512 / 4096 files: manifest read, plan_skipping and
    read_skipping / read_indexed construction (best-of-5 wall and Spark
    jobs each), a no-op update_stats_index and one merge_upsert_files
    publish, then the driver's peak RSS."""
    import resource

    from columnar_analytics_engine_spark.layout import merge_upsert_files
    from columnar_analytics_engine_spark.io import write_sorted
    from columnar_analytics_engine_spark.manifest import (
        manifest_dir,
        manifest_table,
    )
    from columnar_analytics_engine_spark.skipping import (
        build_stats_index,
        plan_skipping,
        read_indexed,
        read_skipping,
        update_stats_index,
    )

    sc = spark.sparkContext

    def best_ms(fn, reps: int = 5) -> float:
        best = float("inf")
        for _ in range(reps):
            t0 = time.perf_counter()
            fn()
            best = min(best, time.perf_counter() - t0)
        return round(best * 1000, 1)

    def jobs(fn) -> int:
        group = f"probe-{time.perf_counter_ns()}"
        sc.setJobGroup(group, "probe")
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    out = {"experiment": "metadata_vs_file_count"}
    for n_files in (16, 128, 512, 4096):
        data, index = f"{tmp}/pf_data_{n_files}", f"{tmp}/pf_idx_{n_files}"
        write_sorted(src, data, ["o_orderkey"], n_files=n_files)
        build_stats_index(spark, data, index)
        k = f"{n_files}f"
        d = manifest_dir(index)
        out[f"manifest_rows_{k}"] = manifest_table(index).num_rows
        out[f"manifest_bytes_{k}"] = sum(
            os.path.getsize(os.path.join(d, f)) for f in os.listdir(d)
        )
        out[f"manifest_read_{k}_ms"] = best_ms(lambda: manifest_table(index))
        pred = "o_orderkey le 500"
        out[f"plan_{k}_ms"] = best_ms(lambda: plan_skipping(spark, index, pred))
        out[f"plan_{k}_jobs"] = jobs(lambda: plan_skipping(spark, index, pred))
        for name, fn in (
            ("read_skipping", lambda: read_skipping(spark, data, index, pred)),
            ("read_indexed", lambda: read_indexed(spark, data, index)),
        ):
            out[f"{name}_{k}_ms"] = best_ms(fn)
            out[f"{name}_{k}_jobs"] = jobs(fn)
        out[f"update_noop_{k}_ms"] = best_ms(
            lambda: update_stats_index(spark, data, index), reps=3
        )
        upd = src.filter(F.col("o_orderkey") <= 50).withColumn(
            "o_totalprice", F.col("o_totalprice") + F.lit(1.0)
        )
        t0 = time.perf_counter()
        merge_upsert_files(spark, data, index, upd, "o_orderkey")
        out[f"merge_publish_{k}_ms"] = round(
            (time.perf_counter() - t0) * 1000, 1
        )
    # ru_maxrss is in KiB on Linux: the driver process's peak so far
    out["driver_peak_rss_mb"] = round(
        resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024, 1
    )
    return out


def probe_cohort_read(spark, src, tmp: str) -> dict:
    """Full-aggregate wall: plain 1-cohort read vs 3-cohort evolved."""
    from columnar_analytics_engine_spark.evolution import (
        add_column,
        read_evolved,
        rename_column,
    )
    from columnar_analytics_engine_spark.io import write_sorted
    from columnar_analytics_engine_spark.skipping import (
        build_stats_index,
        update_stats_index,
    )

    data, index = f"{tmp}/co_data", f"{tmp}/co_idx"
    write_sorted(src, data, ["o_orderkey"], n_files=8)
    build_stats_index(spark, data, index)

    def agg_ms(df) -> float:
        best = float("inf")
        for _ in range(5):
            t0 = time.perf_counter()
            df.agg(F.count("*"), F.sum("o_totalprice")).collect()
            best = min(best, time.perf_counter() - t0)
        return round(best * 1000, 1)

    base = agg_ms(spark.read.parquet(data))
    add_column(spark, data, index, "extra", "double", default=0.0)
    c2 = src.select(
        (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
        "o_custkey", "o_totalprice", F.lit(1.0).alias("extra"),
    )
    c2.coalesce(4).write.mode("append").parquet(data)
    update_stats_index(spark, data, index)
    rename_column(spark, data, index, "o_custkey", "cust_id")
    c3 = src.select(
        (F.col("o_orderkey") + 20_000_000).alias("o_orderkey"),
        F.col("o_custkey").alias("cust_id"),
        "o_totalprice", F.lit(2.0).alias("extra"),
    )
    c3.coalesce(4).write.mode("append").parquet(data)
    update_stats_index(spark, data, index)
    evolved = agg_ms(read_evolved(spark, data, index))
    return {
        "experiment": "cohort_read_overhead",
        "plain_1cohort_ms": base,
        "evolved_3cohort_3x_rows_ms": evolved,
        "note": "evolved reads 3x the rows across 3 cohorts; compare per-row",
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(app_name="cae-probe-manifest")
    from columnar_analytics_engine_spark.io import read_table

    src = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    with tempfile.TemporaryDirectory() as tmp:
        for fn in (probe_plan_vs_versions, probe_publish_vs_files,
                   probe_cohort_read):
            print(json.dumps({"sf_dir": sf_dir, **fn(spark, src, tmp)}),
                  flush=True)


if __name__ == "__main__":
    main()
