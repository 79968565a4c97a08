"""I/O round-trips, describe() metadata parity, corruption handling.

Mirrors the reference's format tests (tests/test_format.cpp round-trips,
stats golden check :203-232) and corruption tests
(tests/test_corruption.cpp — bad magic/truncation → clean error)."""

from __future__ import annotations

import os

import pytest

from columnar_analytics_engine_spark.io import (
    _spark_footer_schema,
    describe,
    read_files,
    read_table,
    write_table,
)
from columnar_analytics_engine_spark.skipping import list_parquet_files
from columnar_analytics_engine_spark.sources.synthetic import bench_table, cli_table


def test_roundtrip_preserves_data(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30), (4, 40), (5, 50)], "id long, value int"
    )
    path = str(tmp_path / "t.parquet")
    write_table(df, path)
    back = spark.read.parquet(path)
    assert sorted(r["value"] for r in back.collect()) == [10, 20, 30, 40, 50]
    assert back.schema == df.schema


def test_describe_stats_golden(spark, tmp_path):
    # stats golden check (tests/test_format.cpp:203-232): {10,5,30,15,25} → min 5, max 30
    df = spark.createDataFrame([(v,) for v in [10, 5, 30, 15, 25]], "value long").coalesce(1)
    path = str(tmp_path / "s.parquet")
    write_table(df, path)
    meta = describe(path)
    assert meta["total_rows"] == 5
    col = meta["files"][0]["row_groups"][0]["columns"][0]
    assert col["column"] == "value"
    assert col["min"] == 5 and col["max"] == 30
    assert col["null_count"] == 0


def test_describe_reports_encodings_and_schema(sf_small):
    meta = describe(os.path.join(sf_small, "lineitem.parquet"))
    assert meta["total_rows"] > 0
    assert "l_orderkey" in meta["schema"]
    encodings = meta["row_groups"][0]["columns"][0]["encodings"]
    assert encodings  # parquet picked encodings automatically


def test_missing_file_raises(spark):
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException):
        spark.read.parquet("/nonexistent/nope.parquet").collect()


def test_corrupt_file_raises(spark, tmp_path):
    # tests/test_corruption.cpp: garbage bytes → clean failure, no crash
    bad = tmp_path / "bad.parquet"
    bad.write_bytes(b"PAR1 this is not a real parquet footer PAR1")
    with pytest.raises(Exception):
        spark.read.parquet(str(bad)).collect()


def test_synthetic_cli_table_deterministic(spark):
    a = cli_table(spark, 1000, seed=42).collect()
    b = cli_table(spark, 1000, seed=42).collect()
    assert a == b
    df = cli_table(spark, 1000, seed=42)
    regions = {r["region"] for r in df.select("region").distinct().collect()}
    assert regions <= {"north", "south", "east", "west"}
    assert df.filter("value < 0 OR value > 10000").count() == 0


def test_synthetic_bench_table_shape(spark):
    df = bench_table(spark, 10_000, seed=42)
    assert df.columns == ["id", "value", "score", "region"]
    assert df.count() == 10_000
    stats = df.selectExpr("min(score) AS lo", "max(score) AS hi").first()
    assert stats["lo"] >= 1 and stats["hi"] <= 10


def test_orc_roundtrip(spark, tmp_path):
    from columnar_analytics_engine_spark.io import read_orc, write_orc

    df = spark.createDataFrame([(1, "a", 1.5), (2, "b", 2.5)], "id long, name string, v double")
    path = str(tmp_path / "t.orc")
    write_orc(df, path)
    back = read_orc(spark, path)
    assert sorted(tuple(r) for r in back.collect()) == [(1, "a", 1.5), (2, "b", 2.5)]
    assert back.schema == df.schema


def test_orc_predicate_pushdown(spark, tmp_path):
    from columnar_analytics_engine_spark.io import read_orc, write_orc
    from columnar_analytics_engine_spark.plans.explain import formatted_plan

    df = spark.range(1000).selectExpr("id", "id * 2 AS v")
    path = str(tmp_path / "p.orc")
    write_orc(df, path)
    filtered = read_orc(spark, path).filter("v > 100")
    assert "PushedFilters: [IsNotNull(v), GreaterThan(v,100)]" in formatted_plan(filtered)
    assert filtered.count() == 949


def test_read_table_restores_nanos_conf(spark, sf_small):
    from columnar_analytics_engine_spark.io import read_table

    key = "spark.sql.legacy.parquet.nanosAsLong"
    spark.conf.unset(key)
    df = read_table(spark, sf_small, "events")
    # conf restored immediately after the read-plan is built...
    assert spark.conf.get(key, None) is None
    # ...while the returned frame still decodes ns timestamps correctly
    assert df.schema["ts"].dataType.simpleString() == "timestamp"
    assert df.count() > 0


def test_write_table_compression_codecs(spark, tmp_path):
    """zstd-compressed output must round-trip and be smaller than
    uncompressed on compressible data (the reference lists 'no
    compression' as a limitation — here it is a writer option)."""
    import os

    from columnar_analytics_engine_spark.io import write_table
    from pyspark.sql import functions as F

    df = spark.range(20_000).select(
        "id", F.lit("now is the winter of our discontent " * 5).alias("text")
    )

    def size(path):
        return sum(
            os.path.getsize(os.path.join(path, f))
            for f in os.listdir(path)
            if f.endswith(".parquet")
        )

    p_none = str(tmp_path / "none.parquet")
    p_zstd = str(tmp_path / "zstd.parquet")
    write_table(df.coalesce(1), p_none, compression="none")
    write_table(df.coalesce(1), p_zstd, compression="zstd")
    assert spark.read.parquet(p_zstd).count() == 20_000
    assert size(p_zstd) < size(p_none)


def test_write_table_per_column_options(spark, tmp_path):
    """Per-column writer control (the reference declares encoding per
    column in its schema, include/format.h:49-61): disabling dictionary
    for one column and enabling it for another must show in the footer
    encodings that ``describe`` reads back."""
    from columnar_analytics_engine_spark.io import describe, write_table
    from pyspark.sql import functions as F

    df = spark.range(50_000).select(
        "id",
        (F.col("id") % 5).cast("string").alias("cat"),
        (F.col("id") % 7).alias("num"),
    ).coalesce(1)
    path = str(tmp_path / "percol.parquet")
    write_table(
        df,
        path,
        column_options={
            "cat": {"dictionary": False},
            "num": {"dictionary": True, "bloom_filter": True},
        },
    )
    d = describe(path)
    enc = {
        c["column"]: set(c["encodings"])
        for c in d["files"][0]["row_groups"][0]["columns"]
    }
    # 5 distinct values would normally dictionary-encode; the option
    # forces PLAIN for cat, and num keeps its dictionary encoding
    assert not any("DICTIONARY" in e for e in enc["cat"])
    assert any("DICTIONARY" in e for e in enc["num"])
    assert spark.read.parquet(path).count() == 50_000


def test_docs_table_deterministic_with_dups(spark):
    from columnar_analytics_engine_spark.sources.synthetic import docs_table

    a = docs_table(spark, 500, vocab_scale=100).collect()
    b = docs_table(spark, 500, vocab_scale=100).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))  # deterministic
    texts = [r["text"] for r in a]
    # every 10th doc copies its predecessor: ~10% duplicate rate
    assert 40 <= (len(texts) - len(set(texts))) <= 60
    # schema matches the driver fixture
    assert [f.name for f in docs_table(spark, 1).schema] == [
        "doc_id", "text", "lang", "source", "n_chars",
    ]


def test_read_jsonl_captures_corrupt_records(spark, tmp_path):
    """Malformed JSONL lines land in the corrupt-record column instead
    of being dropped — no silent data loss on ingest."""
    from columnar_analytics_engine_spark.io import read_json

    p = tmp_path / "docs.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "good row"}\n'
        '{"doc_id": 2, "text": "also good"}\n'
        'this is not json at all\n'
        '{"doc_id": 3, "text": "trailing good"}\n'
    )
    df = read_json(
        spark,
        str(p),
        schema="doc_id long, text string, _bad string",
        corrupt_col="_bad",
    )
    rows = df.collect()
    assert len(rows) == 4
    good = [r for r in rows if r["_bad"] is None]
    bad = [r for r in rows if r["_bad"] is not None]
    assert {r["doc_id"] for r in good} == {1, 2, 3}
    assert len(bad) == 1 and "not json" in bad[0]["_bad"]


def test_write_jsonl_roundtrip_and_shards(spark, tmp_path):
    from columnar_analytics_engine_spark.io import read_json, write_jsonl

    df = spark.range(1000).selectExpr(
        "id AS doc_id", "concat('text ', id) AS text"
    )
    out = str(tmp_path / "export")
    write_jsonl(df, out, n_files=4, compression="gzip")
    import glob

    shards = [f for f in glob.glob(f"{out}/part-*") if f.endswith(".gz")]
    assert len(shards) == 4
    back = read_json(spark, f"{out}/*.gz")
    assert back.count() == 1000
    assert {r["doc_id"] for r in back.collect()} == set(range(1000))


def test_read_csv_schema_and_corrupt_capture(spark, tmp_path):
    from columnar_analytics_engine_spark.io import read_csv

    p = tmp_path / "in.csv"
    p.write_text("doc_id,score\n1,2.5\n2,3.5\nbroken,not_a_number\n4,9.0\n")
    df = read_csv(
        spark,
        str(p),
        schema="doc_id long, score double, _bad string",
        corrupt_col="_bad",
    )
    rows = df.collect()
    good = [r for r in rows if r["_bad"] is None]
    bad = [r for r in rows if r["_bad"] is not None]
    assert {r["doc_id"] for r in good} == {1, 2, 4}
    assert len(bad) == 1 and "broken" in bad[0]["_bad"]
    # inference path reads the well-formed file shape
    inferred = read_csv(spark, str(p))
    assert inferred.columns == ["doc_id", "score"]
    assert inferred.count() == 4


def test_write_with_metrics_single_pass_audit(spark, tmp_path):
    from columnar_analytics_engine_spark.io import write_with_metrics

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "c"), (4, None), (5, "e")],
        "id long, name string",
    )
    out = str(tmp_path / "audited.parquet")
    metrics = write_with_metrics(df, out)
    assert metrics["n_rows"] == 5
    assert metrics["n_null_id"] == 0
    assert metrics["n_null_name"] == 2
    # the write really happened and matches the audited count
    assert spark.read.parquet(out).count() == metrics["n_rows"]


# ---------------------------------------------------------------------------
# atomic_build_dir: race- and crash-safe build-once artifact publish
# (ADVICE r10: two concurrent index builders must never interleave
# writes into the same keyed directory)
# ---------------------------------------------------------------------------

def test_atomic_build_dir_publishes_and_skips_rebuild(tmp_path):
    from columnar_analytics_engine_spark.io import atomic_build_dir

    final = str(tmp_path / "idx")

    def build(staging):
        with open(os.path.join(staging, "data.txt"), "w") as fh:
            fh.write("payload")

    assert atomic_build_dir(final, build, token="v9") == final
    assert open(os.path.join(final, "data.txt")).read() == "payload"
    assert open(os.path.join(final, "_INDEX_OK")).read() == "v9"

    def boom(staging):
        raise AssertionError("rebuilt a complete index")

    assert atomic_build_dir(final, boom) == final  # marker short-circuits


def test_atomic_build_dir_loser_discards_and_keeps_winner(tmp_path):
    """Simulated race: another process publishes a COMPLETE index while
    this build is in flight.  The loser's rename must fail silently,
    its staging tree must be discarded, and the winner's content must
    survive untouched."""
    from columnar_analytics_engine_spark.io import atomic_build_dir

    final = str(tmp_path / "idx")

    def racing_build(staging):
        # the "other process" wins mid-build
        os.makedirs(final)
        with open(os.path.join(final, "data.txt"), "w") as fh:
            fh.write("winner")
        with open(os.path.join(final, "_INDEX_OK"), "w") as fh:
            fh.write("v1")
        with open(os.path.join(staging, "data.txt"), "w") as fh:
            fh.write("loser")

    assert atomic_build_dir(final, racing_build) == final
    assert open(os.path.join(final, "data.txt")).read() == "winner"
    leftovers = [d for d in os.listdir(tmp_path) if ".build-" in d]
    assert leftovers == []


def test_atomic_build_dir_replaces_markerless_partial(tmp_path):
    """A directory WITHOUT the completeness marker is a crashed
    pre-atomic build: a new complete build claims the slot."""
    from columnar_analytics_engine_spark.io import atomic_build_dir

    final = str(tmp_path / "idx")
    os.makedirs(final)
    with open(os.path.join(final, "stale.txt"), "w") as fh:
        fh.write("torn")

    def build(staging):
        with open(os.path.join(staging, "data.txt"), "w") as fh:
            fh.write("fresh")

    atomic_build_dir(final, build)
    assert sorted(os.listdir(final)) == ["_INDEX_OK", "data.txt"]


def test_atomic_build_dir_crash_leaves_no_half_index(tmp_path):
    """A builder that dies mid-build leaves NO final directory and no
    staging litter — the next caller simply rebuilds."""
    from columnar_analytics_engine_spark.io import atomic_build_dir

    final = str(tmp_path / "idx")

    def crash(staging):
        with open(os.path.join(staging, "data.txt"), "w") as fh:
            fh.write("partial")
        raise RuntimeError("executor lost")

    with pytest.raises(RuntimeError):
        atomic_build_dir(final, crash)
    assert not os.path.exists(final)
    assert [d for d in os.listdir(tmp_path) if ".build-" in d] == []


def test_read_table_reresolves_after_non_first_part_rewrite(spark, tmp_path):
    """Rewriting a part file other than the first, in place under the
    same name, leaves the directory's dirents untouched; the memo must
    still notice it and re-resolve the table, and keep one entry for
    the path."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from columnar_analytics_engine_spark import io as engine_io

    path = tmp_path / "t.parquet"
    path.mkdir()
    pq.write_table(pa.table({"id": [1, 2]}), str(path / "part-0.parquet"))
    pq.write_table(pa.table({"id": [3]}), str(path / "part-1.parquet"))
    first = read_table(spark, str(tmp_path), "t")
    assert first.count() == 3
    dir_mtime = os.stat(path).st_mtime_ns
    pq.write_table(pa.table({"id": [3, 4, 5, 6]}), str(path / "part-1.parquet"))
    assert os.stat(path).st_mtime_ns == dir_mtime  # same dirents
    again = read_table(spark, str(tmp_path), "t")
    assert again is not first
    assert again.count() == 6
    assert [k for k in engine_io._TABLE_DF_CACHE if k == str(path)] == [str(path)]


# ---------------------------------------------------------------------------
# read_files: the schema Spark stored in the first file's footer stands in
# for Spark's own inference, so it must be exactly the schema (and the
# rows) that inference gives.
# ---------------------------------------------------------------------------

_READ_FILES_CASES = {
    "long": "IF(id = 3, NULL, id)",
    "int": "CAST(id AS INT)",
    "double": "CAST(id AS DOUBLE) / 3",
    "string": "IF(id = 2, NULL, CAST(id AS STRING))",
    "boolean": "id % 2 = 0",
    "date": "DATE_ADD(DATE'2024-01-01', CAST(id AS INT))",
    "timestamp": "timestamp_seconds(id * 86400)",
    "timestamp_ntz": "TIMESTAMP_NTZ'2024-01-01 00:00:00' + make_dt_interval(0, 0, 0, id)",
    "decimal": "CAST(id / 7 AS DECIMAL(12, 3))",
    "binary": "CAST(CAST(id AS STRING) AS BINARY)",
    "array": "array(id, IF(id = 1, NULL, id + 1))",
    "map": "map(CAST(id AS STRING), id)",
    "struct": "named_struct('a', id, 'b', CAST(id AS STRING))",
    "not_null": "id * 2",
}


def _same_read(spark, data, files, base_path=True):
    got = read_files(spark, data, files, base_path=base_path)
    reader = spark.read.option("basePath", data) if base_path else spark.read
    want = reader.parquet(*files)
    assert got.schema == want.schema
    assert sorted(map(repr, got.collect())) == sorted(map(repr, want.collect()))


@pytest.mark.parametrize("case", sorted(_READ_FILES_CASES))
def test_read_files_schema_matches_spark_inference(spark, tmp_path, case):
    data = str(tmp_path / case)
    spark.range(9).selectExpr("id", f"{_READ_FILES_CASES[case]} AS v").repartition(
        3
    ).write.parquet(data)
    files = list_parquet_files(data)
    assert len(files) > 1
    # Spark-written: the footer carries the schema, so no inference runs
    assert _spark_footer_schema(min(files)) is not None
    _same_read(spark, data, files)
    _same_read(spark, data, files[1:], base_path=False)


def test_read_files_hive_layout_keeps_partition_columns(spark, tmp_path):
    data = str(tmp_path / "hive")
    spark.range(12).selectExpr("id", "CAST(id % 3 AS INT) AS p", "id * 1.5 AS x").write.partitionBy(
        "p"
    ).parquet(data)
    files = list_parquet_files(data)
    _same_read(spark, data, files)
    _same_read(spark, data, files, base_path=False)
    assert "p" in read_files(spark, data, files).columns
    assert "p" not in read_files(spark, data, files, base_path=False).columns


def test_read_files_without_spark_key_or_footer_access(spark, tmp_path, monkeypatch):
    """A pandas-written file has no Spark schema key, and a footer the
    driver cannot read raises: both leave the schema to Spark."""
    import pandas as pd
    import pyarrow.parquet as pq

    data = tmp_path / "pandas"
    data.mkdir()
    for i in range(2):
        pd.DataFrame({
            "id": [i, i + 10], "x": [0.5 * i, None], "s": ["a", None],
        }).to_parquet(data / f"part-{i}.parquet")
    files = sorted(str(p) for p in data.iterdir())
    assert _spark_footer_schema(files[0]) is None
    _same_read(spark, str(data), files)

    spark_data = str(tmp_path / "spark")
    spark.range(6).selectExpr("id", "CAST(id AS STRING) AS s").repartition(2).write.parquet(
        spark_data
    )
    spark_files = list_parquet_files(spark_data)

    def unreachable(*a, **k):
        raise PermissionError("driver cannot reach the data path")

    monkeypatch.setattr(pq, "read_metadata", unreachable)
    assert _spark_footer_schema(spark_files[0]) is None
    _same_read(spark, spark_data, spark_files)


def test_read_files_takes_the_first_footer_unless_merging(spark, tmp_path):
    """Spark's inference reads the lexicographically first footer, so a
    later file's extra column is not read; with ``mergeSchema`` on,
    Spark unions every footer's schema and keeps it."""
    data = tmp_path / "merged"
    data.mkdir()
    # the narrower schema sorts first: it is the footer read_files reads
    for name, df in (("a", spark.range(3)), ("b", spark.range(3).selectExpr("id", "id * 2 AS extra"))):
        df.coalesce(1).write.parquet(str(tmp_path / name))
        (part,) = list_parquet_files(str(tmp_path / name))
        os.rename(part, data / f"{name}.parquet")
    data = str(data)
    files = list_parquet_files(data)
    _same_read(spark, data, files)
    assert "extra" not in read_files(spark, data, files).columns
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try:
        _same_read(spark, data, files)
        assert "extra" in read_files(spark, data, files).columns
    finally:
        spark.conf.unset("spark.sql.parquet.mergeSchema")
