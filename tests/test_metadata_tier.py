"""The driver-side metadata tier: manifests and deletion vectors are read
and written with ``pyarrow.parquet`` on the driver, so index-planned
reads run no Spark job and maintenance writes run only the jobs that
touch data.  Also checks that older on-disk layouts (Spark-written
version dirs, legacy flat indexes, Spark-written DV files) still read."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

from columnar_analytics_engine_spark import deletes, io, layout, skipping
from columnar_analytics_engine_spark.manifest import (
    current_version,
    manifest_dir,
    manifest_files,
    manifest_table,
    write_manifest,
)
from columnar_analytics_engine_spark.sources import synthetic
from conftest import count_jobs as _jobs

_ROW_SCHEMA = "id long, value long, score int, region string"


@pytest.fixture()
def table(spark, tmp_path):
    """An 8-file table sorted on ``value`` with a stats index."""
    data = str(tmp_path / "data")
    index = str(tmp_path / "index")
    io.write_sorted(synthetic.bench_table(spark, 8_000, 7), data, ["value"], n_files=8)
    skipping.build_stats_index(spark, data, index)
    return data, index, str(tmp_path / "dv")


def _rows(spark, n, start, seed):
    rng = np.random.default_rng(seed)
    return spark.createDataFrame(
        pd.DataFrame({
            "id": np.arange(start, start + n, dtype="int64"),
            "value": rng.integers(0, 100_001, n).astype("int64"),
            "score": rng.integers(1, 11, n).astype("int32"),
            "region": ["north"] * n,
        }),
        _ROW_SCHEMA,
    )


def test_maintenance_ops_run_few_jobs(spark, table):
    data, index, dv = table
    pred = "value >= 20000 and value < 30000"
    skipping.plan_skipping(spark, index, pred)  # warm the code path
    n, plan = _jobs(spark, lambda: skipping.plan_skipping(spark, index, pred))
    assert n == 0
    assert 0 < len(plan["files"]) < plan["files_total"] == 8
    # the read schema comes from a footer on the driver: constructing an
    # index-planned read runs no Spark job, materializing it runs one
    n, df = _jobs(spark, lambda: skipping.read_skipping(spark, data, index, pred))
    assert n == 0
    n, rows = _jobs(spark, df.collect)
    assert n == 1 and rows
    n, _ = _jobs(spark, lambda: skipping.read_indexed(spark, data, index))
    assert n == 0

    budget = 6
    n, tomb = _jobs(spark, lambda: deletes.delete_where(
        spark, data, dv, "value >= 40000 AND value < 40300", index_path=index))
    assert tomb > 0 and n <= budget
    n, res = _jobs(spark, lambda: deletes.compact_deletes(spark, data, dv, index))
    assert res["folded_files"] >= 1 and n <= budget
    upsert = _rows(spark, 200, 1_000_000, 1)
    n, res = _jobs(spark, lambda: layout.merge_upsert_files(
        spark, data, index, upsert, key="id"))
    assert res["new_files"] >= 1 and n <= budget
    n, res = _jobs(spark, lambda: layout.cluster_compact(
        spark, data, index, cols=["value"]))
    assert res["rewritten"] >= 2 and n <= budget
    io.write_table(_rows(spark, 100, 2_000_000, 2).coalesce(1), data, mode="append")
    n, res = _jobs(spark, lambda: skipping.update_stats_index(spark, data, index))
    assert res == {"added": 1, "removed": 0} and n <= budget

    # the index-planned view is still exact: 8000 - deleted + 200 + 100
    want = 8_000 - tomb + 200 + 100
    n, df = _jobs(spark, lambda: deletes.read_with_deletes(
        spark, data, dv, index_path=index))
    assert n == 0
    assert df.count() == want


def test_bloom_planning_runs_no_job(spark, table, tmp_path):
    """With a Bloom index, planning reads the Bloom table on the driver
    and folds the membership filter over a local relation: no job."""
    data, index, _dv = table
    bloom = str(tmp_path / "bloom")
    assert skipping.build_bloom_index(spark, data, bloom, ["id", "region"]) == 16
    for pred in ("id eq 4321", "id in (17, 4321, 99999)", "region eq 'nowhere'"):
        skipping.plan_skipping(spark, index, pred, bloom_path=bloom)
        n, plan = _jobs(spark, lambda: skipping.plan_skipping(
            spark, index, pred, bloom_path=bloom))
        assert n == 0
        assert plan["files_pruned"] > 0


def test_read_past_the_listing_threshold_runs_no_job(spark, tmp_path):
    """A local leaf-file list longer than Spark's parallel-listing
    threshold (32) is listed on the driver: constructing the read runs
    no Spark job, and the session's threshold is left as it was."""
    data, index = str(tmp_path / "data"), str(tmp_path / "index")
    io.write_sorted(synthetic.bench_table(spark, 4_000, 3), data, ["value"], n_files=40)
    skipping.build_stats_index(spark, data, index)
    assert len(manifest_files(index)) == 40
    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    before = spark.conf.get(key, None)
    n, df = _jobs(spark, lambda: skipping.read_indexed(spark, data, index))
    assert n == 0
    assert spark.conf.get(key, None) == before
    assert df.count() == 4_000


def test_spark_written_version_and_legacy_flat_read_through_arrow(spark, tmp_path):
    """A version dir as the Spark writer left it (part file, ``_SUCCESS``,
    ``.crc``) and a legacy flat index both read through
    ``manifest_table`` with the rows ``spark.read.parquet`` sees."""
    src = spark.createDataFrame(
        [("a.parquet", "x", 1), ("b.parquet", "x", 2)],
        "file string, column string, file_rows long",
    )
    versioned = str(tmp_path / "versioned")
    d = os.path.join(versioned, "ver-00000001")
    src.coalesce(1).write.parquet(d)
    with open(os.path.join(versioned, "_CURRENT"), "w") as fh:
        fh.write("1\n")
    assert any(f.endswith(".crc") for f in os.listdir(d))
    assert "_SUCCESS" in os.listdir(d)
    flat = str(tmp_path / "flat")
    src.coalesce(1).write.parquet(flat)
    for index in (versioned, flat):
        want = sorted(tuple(r) for r in spark.read.parquet(manifest_dir(index)).collect())
        got = sorted(tuple(r.values()) for r in manifest_table(index).to_pylist())
        assert got == want
        assert manifest_files(index) == ["a.parquet", "b.parquet"]


def test_arrow_written_version_reads_back_in_spark_with_index_types(spark, table):
    data, index, _dv = table
    d = manifest_dir(index)
    assert not any(f.startswith(("_", ".")) for f in os.listdir(d))
    df = spark.read.parquet(d)
    want = [
        (name, {"long": "bigint"}.get(typ, typ))
        for name, typ in (f.split() for f in skipping.INDEX_SCHEMA.split(", "))
    ]
    assert [(f.name, f.dataType.simpleString()) for f in df.schema] == want
    assert df.count() == manifest_table(index).num_rows
    # a table written through the DataFrame path reads back the same
    v = write_manifest(spark, index, spark.read.parquet(d))
    assert current_version(index) == v
    assert manifest_table(index).equals(manifest_table(index, as_of=v - 1))


def test_dv_written_before_arrow_still_applies_after_append(spark, table):
    """A Spark-written DV dir — one rewritten file holding both commit
    tagged rows and legacy rows without ``_commit_id`` — keeps applying
    once a delete commit appends its own Arrow-written DV file."""
    from pyspark.sql import functions as F

    data, index, dv = table
    deletes.delete_where(spark, data, dv, "value < 1000", index_path=index)
    tagged = spark.createDataFrame(deletes.dv_table(dv))
    legacy = (
        spark.read.parquet(*manifest_files(index))
        .where("value >= 99000")
        .select(
            deletes._strip_scheme(F.col("_metadata.file_path")).alias("file"),
            F.col("_metadata.row_index").alias("row_index"),
        )
    )
    legacy_dir = dv + "_legacy"
    legacy.coalesce(1).write.parquet(legacy_dir)
    # the pre-change shape: a tagged DV rewritten by Spark, and a legacy
    # file with no _commit_id column, side by side in the DV dir
    for f in os.listdir(dv):
        os.remove(os.path.join(dv, f))
    tagged.coalesce(1).write.mode("overwrite").parquet(dv)
    for f in os.listdir(legacy_dir):
        if f.endswith(".parquet"):
            os.rename(os.path.join(legacy_dir, f), os.path.join(dv, "legacy-" + f))
    assert "_commit_id" not in pq.read_schema(
        next(os.path.join(dv, f) for f in os.listdir(dv) if f.startswith("legacy-"))
    ).names
    n_new = deletes.delete_where(
        spark, data, dv, "value >= 50000 AND value < 51000", index_path=index
    )
    assert n_new > 0
    full = spark.read.parquet(*manifest_files(index))
    want = full.where(
        "NOT (value < 1000 OR value >= 99000 OR (value >= 50000 AND value < 51000))"
    ).count()
    assert deletes.read_with_deletes(spark, data, dv, index_path=index).count() == want


def test_driver_footer_error_falls_back_to_executor_scan(spark, table, monkeypatch):
    """An ``OSError`` from the driver-side footer read (a data path only
    executors can reach) falls back to the distributed scan, which
    runs the same scanner closure and yields the same rows."""
    data, index, _dv = table
    files = skipping.list_parquet_files(data)
    want = skipping._stats_table(spark, files, None, base_path=data)

    class Unreachable:
        def __init__(self, *a, **k):
            raise PermissionError("driver cannot reach the data path")

    # only the driver process is patched: executors' Python workers
    # import pyarrow afresh
    monkeypatch.setattr(pq, "ParquetFile", Unreachable)
    got = skipping._stats_table(spark, files, None, base_path=data)
    key = ["file", "column"]
    assert got.sort_by([(k, "ascending") for k in key]).equals(
        want.sort_by([(k, "ascending") for k in key])
    )
