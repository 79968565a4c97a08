"""Native ``.col`` format: codec round-trips, file round-trips, Spark
DataSource read/write, zone-map pruning, corruption handling, and —
when a C++ toolchain is present — byte-level cross-validation against
a CLI compiled from the reference sources (both directions: the
reference binary reads our files, we read the reference's files, and
aggregate results agree)."""

from __future__ import annotations

import os
import re
import shutil
import subprocess

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from columnar_analytics_engine_spark.sources import colfile as cf

REF_SRC = "/root/reference/columnar-analytics-engine"


# ---------------------------------------------------------------------------
# codec round-trips
# ---------------------------------------------------------------------------

def _roundtrip_int(values, ctype, encoding):
    data = cf._encode_int_page(np.asarray(values), ctype, encoding)
    out = cf._decode_int_page(
        np.frombuffer(data, np.uint8), ctype, encoding, len(values)
    )
    return list(out)


@pytest.mark.parametrize("encoding", [cf.ENC_PLAIN, cf.ENC_RLE, cf.ENC_DELTA])
@pytest.mark.parametrize("ctype", [cf.TYPE_INT32, cf.TYPE_INT64])
def test_int_codec_roundtrip_extremes(ctype, encoding):
    lo = -(2**31) if ctype == cf.TYPE_INT32 else -(2**63)
    hi = 2**31 - 1 if ctype == cf.TYPE_INT32 else 2**63 - 1
    values = [0, 1, -1, lo, hi, lo, hi, 42, 42, 42, -300, 300]
    assert _roundtrip_int(values, ctype, encoding) == values


@given(st.lists(st.integers(min_value=-(2**63), max_value=2**63 - 1), max_size=200))
@settings(max_examples=60, deadline=None)
def test_int64_codec_roundtrip_property(values):
    for enc in (cf.ENC_PLAIN, cf.ENC_RLE, cf.ENC_DELTA):
        assert _roundtrip_int(values, cf.TYPE_INT64, enc) == values


@given(st.lists(st.integers(min_value=-(2**31), max_value=2**31 - 1), max_size=200))
@settings(max_examples=60, deadline=None)
def test_int32_codec_roundtrip_property(values):
    # includes DELTA deltas that overflow int32: must wrap like the C++
    for enc in (cf.ENC_PLAIN, cf.ENC_RLE, cf.ENC_DELTA):
        assert _roundtrip_int(values, cf.TYPE_INT32, enc) == values


@given(st.lists(st.text(max_size=20), max_size=120))
@settings(max_examples=60, deadline=None)
def test_string_codec_roundtrip_property(values):
    for enc in (cf.ENC_PLAIN, cf.ENC_DICTIONARY):
        data = cf._encode_string_page(values, enc)
        out = cf._decode_string_page(
            np.frombuffer(data, np.uint8), enc, len(values)
        )
        assert out == values


def test_varint_known_vector():
    # docs/FORMAT.md "Varint Encoding": 300 encodes as [0xAC, 0x02]
    assert cf._encode_uvarints(np.array([300], np.uint64)) == b"\xac\x02"
    vals, used = cf._decode_uvarints(np.frombuffer(b"\xac\x02", np.uint8), 1)
    assert (vals == [300]).all() and used == 2


# ---------------------------------------------------------------------------
# file round-trip through our writer/reader
# ---------------------------------------------------------------------------

@pytest.fixture()
def sample_cols():
    rng = np.random.default_rng(11)
    n = 2500
    return {
        "id": np.arange(n, dtype=np.int64),
        "value": rng.integers(0, 10_000, n),
        "category": rng.integers(1, 6, n, dtype=np.int32),
        "region": [["north", "south", "east", "west"][i % 4] for i in range(n)],
    }


def test_file_roundtrip_all_encodings(tmp_path, sample_cols):
    path = str(tmp_path / "t.col")
    cf.write_col(
        path,
        sample_cols,
        encodings={"id": "delta", "value": "plain", "category": "rle",
                   "region": "dictionary"},
        row_group_size=700,
    )
    r = cf.ColFileReader(path)
    assert r.metadata.total_rows == 2500
    assert len(r.metadata.row_groups) == 4  # 700+700+700+400
    pdf = r.to_pandas()
    assert (pdf["id"].values == sample_cols["id"]).all()
    assert (pdf["value"].values == sample_cols["value"]).all()
    assert (pdf["category"].values == sample_cols["category"]).all()
    assert list(pdf["region"]) == sample_cols["region"]


def test_footer_stats_match_data(tmp_path, sample_cols):
    path = str(tmp_path / "t.col")
    cf.write_col(path, sample_cols, row_group_size=1000)
    meta = cf.ColFileReader(path).metadata
    # int column stats are exact per row group; strings carry none
    idx = {s.name: i for i, s in enumerate(meta.schema)}
    for rg_i, rg in enumerate(meta.row_groups):
        lo, hi = rg_i * 1000, min((rg_i + 1) * 1000, 2500)
        ph = rg.column_chunks[idx["id"]].page_headers[0]
        assert (ph.min_int, ph.max_int) == (lo, hi - 1)
        assert ph.null_count == 0
        ph_str = rg.column_chunks[idx["region"]].page_headers[0]
        assert ph_str.min_int is None and ph_str.max_int is None


def test_corrupt_files_raise(tmp_path, sample_cols):
    path = str(tmp_path / "t.col")
    cf.write_col(path, sample_cols)
    raw = open(path, "rb").read()
    trunc = str(tmp_path / "trunc.col")
    open(trunc, "wb").write(raw[:-5])
    with pytest.raises(ValueError):
        cf.ColFileReader(trunc)
    bad_magic = str(tmp_path / "bad.col")
    open(bad_magic, "wb").write(b"XXXX" + raw[4:])
    with pytest.raises(ValueError):
        cf.ColFileReader(bad_magic)
    tiny = str(tmp_path / "tiny.col")
    open(tiny, "wb").write(b"short")
    with pytest.raises(ValueError):
        cf.ColFileReader(tiny)


def test_where_parser_grammar():
    assert cf.parse_where("id lt 5000") == [("id", "<", 5000)]
    assert cf.parse_where("a >= -3 AND b eq 7 and c != 0") == [
        ("a", ">=", -3), ("b", "==", 7), ("c", "!=", 0)
    ]
    with pytest.raises(ValueError):
        cf.parse_where("a like 'x'")


# ---------------------------------------------------------------------------
# Spark DataSource
# ---------------------------------------------------------------------------

@pytest.fixture()
def col_path(tmp_path, sample_cols):
    path = str(tmp_path / "t.col")
    cf.write_col(
        path, sample_cols,
        encodings={"id": "delta", "category": "rle", "region": "dictionary"},
        row_group_size=500,
    )
    return path


def _readers(spark):
    """Both ``.col`` read entry points, as ``path -> DataFrame``: the
    driver-planned reader and the ``format("colfile")`` DataSource
    adapter over the same plan/decode functions."""
    cf.register_colfile(spark)
    return {
        "read_col_spark": lambda path: cf.read_col_spark(spark, path),
        "format": lambda path: spark.read.format("colfile").load(path),
    }


def _writers(spark):
    """Both ``.col`` write entry points, as ``(df, path) -> None`` in
    overwrite mode: the driver-committed writer and the
    ``format("colfile")`` DataSource adapter."""
    cf.register_colfile(spark)
    return {
        "write_col_spark": cf.write_col_spark,
        "format": lambda df, path: df.write.format("colfile").mode("overwrite").save(path),
    }


def test_spark_read_matches_file(spark, col_path, sample_cols):
    df = cf.read_col_spark(spark, col_path)
    assert df.schema.simpleString() == (
        "struct<id:bigint,value:bigint,category:int,region:string>"
    )
    assert df.count() == 2500
    # one scan partition per row group
    assert df.rdd.getNumPartitions() == 5
    got = {r["id"]: r for r in df.collect()}
    for i in (0, 1234, 2499):
        assert got[i]["value"] == sample_cols["value"][i]
        assert got[i]["region"] == sample_cols["region"][i]


def test_spark_read_no_state_leak_across_queries(spark, col_path):
    """Regression for the PySpark 4.1 plan-cache hazard that made us
    reject Catalyst pushFilters: a Spark-side filter on one query must
    not change a later unfiltered scan of the same DataFrame.  Checked
    on both entry points: the hazard lives in the ``format("colfile")``
    scan, where ``pushFilters`` turns on."""
    from pyspark.sql import functions as F

    for read in _readers(spark).values():
        df = read(col_path)
        assert df.count() == 2500
        assert df.filter(F.col("id") < 500).count() == 500
        assert df.count() == 2500


def test_where_option_prunes_row_groups_and_filters_rows(spark, col_path):
    # id is monotone: 5 row groups of 500; where id<700 keeps groups 0-1
    df = cf.read_col_spark(spark, col_path, where="id lt 700")
    assert df.rdd.getNumPartitions() == 2  # zone-map skip of 3 groups
    assert df.count() == 700  # exact row filtering within survivors
    # range + conjunction
    df2 = cf.read_col_spark(spark, col_path, where="id >= 1000 and id < 1500")
    assert df2.rdd.getNumPartitions() == 1
    assert df2.count() == 500


def test_spark_writer_roundtrip_and_encoding_options(spark, tmp_path, col_path):
    from pyspark.sql import functions as F

    df = cf.read_col_spark(spark, col_path)
    out = str(tmp_path / "out")
    cf.write_col_spark(
        df.repartition(3), out,
        encodings={"id": "delta", "region": "dictionary"},
    )
    files = [f for f in os.listdir(out) if f.endswith(".col")]
    assert len(files) == 3
    meta = cf.ColFileReader(os.path.join(out, files[0])).metadata
    enc = {s.name: s.encoding for s in meta.schema}
    assert enc["id"] == cf.ENC_DELTA and enc["region"] == cf.ENC_DICTIONARY
    back = cf.read_col_spark(spark, out)
    assert back.count() == 2500
    a = df.groupBy("region").agg(F.sum("value").alias("s")).orderBy("region").collect()
    b = back.groupBy("region").agg(F.sum("value").alias("s")).orderBy("region").collect()
    assert a == b


def test_spark_writer_rejects_nulls_and_bad_types(spark, tmp_path):
    from pyspark.sql import functions as F

    for name, write in _writers(spark).items():
        df = spark.range(10).select(
            F.col("id"),
            F.when(F.col("id") < 5, F.col("id")).alias("maybe_null"),
        )
        with pytest.raises(Exception, match="NULL"):
            write(df, str(tmp_path / name / "nulls"))
        df2 = spark.range(5).select((F.col("id") * 1.5).alias("d"))
        with pytest.raises(Exception, match="int/long/string"):
            write(df2, str(tmp_path / name / "badtype"))


def test_failed_overwrite_preserves_existing_shards(spark, tmp_path):
    """Commit protocol: mode=overwrite must not touch prior shards until
    every task succeeds — a job that fails (NULLs hit the writer on an
    executor) aborts, and the old dataset stays readable and intact."""
    from pyspark.sql import functions as F

    def visible(d):
        return sorted(
            f for f in os.listdir(d)
            if f.endswith(".col") and not f.startswith((".", "_"))
        )

    read = _readers(spark)["read_col_spark"]
    for name, write in _writers(spark).items():
        out = str(tmp_path / name / "ds")
        write(spark.range(100).select(F.col("id")), out)
        before = visible(out)
        assert before
        bad = spark.range(10).select(
            F.when(F.col("id") < 5, F.col("id")).alias("id")
        )
        with pytest.raises(Exception, match="NULL"):
            write(bad, out)  # overwrite attempt fails mid-job
        assert visible(out) == before
        assert read(out).count() == 100
        # a SUCCESSFUL overwrite replaces them and garbage-collects the
        # failed run's stranded staged/tmp files
        write(spark.range(7).select(F.col("id")), out)
        assert read(out).count() == 7
        assert visible(out) == sorted(os.listdir(out))  # no invisible leftovers


def test_uri_scheme_paths_rejected(spark):
    with pytest.raises(ValueError, match="local/shared-filesystem"):
        cf.read_col_spark(spark, "s3://bucket/data")
    with pytest.raises(ValueError, match="local/shared-filesystem"):
        cf.write_col_spark(spark.range(1), "hdfs://nn/data")


def test_spark_read_empty_directory_file(spark, tmp_path):
    # a zero-row .col file (valid: header + empty metadata + footer)
    path = str(tmp_path / "empty.col")
    w = cf.ColFileWriter(path, [cf.ColumnSpec("x", cf.TYPE_INT64, cf.ENC_PLAIN)])
    w.close()
    df = cf.read_col_spark(spark, path)
    assert df.count() == 0
    assert df.schema.simpleString() == "struct<x:bigint>"


def test_read_colfile_matches_datasource_adapter(spark, col_path):
    """``io.read_colfile`` (driver-planned ``mapInArrow``) and
    ``format("colfile")`` (the Python DataSource adapter) return the same
    rows, schema and partitions, with and without ``where`` (the last
    one prunes every row group: both keep one empty partition)."""
    from columnar_analytics_engine_spark import io

    cf.register_colfile(spark)
    for where in (None, "id lt 700", "id >= 1000 and id < 1500", "id gt 99999"):
        got = io.read_colfile(spark, col_path, where=where)
        reader = spark.read.format("colfile")
        want = (reader.option("where", where) if where else reader).load(col_path)
        assert got.schema == want.schema
        assert got.rdd.getNumPartitions() == want.rdd.getNumPartitions()
        assert sorted(got.collect()) == sorted(want.collect())


def test_read_colfile_is_arrow_tasks_over_range_built_without_a_job(spark, col_path):
    from columnar_analytics_engine_spark import io
    from conftest import count_jobs

    io.read_colfile(spark, col_path)  # warm the code path
    n, df = count_jobs(spark, lambda: io.read_colfile(spark, col_path, where="id lt 700"))
    assert n == 0
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan and "Range" in plan
    assert "BatchScan" not in plan and "(Python)" not in plan


def test_write_colfile_matches_datasource_adapter_layout(spark, tmp_path):
    """Same shards, row groups (one per Arrow batch), encodings and rows
    from ``io.write_colfile`` and ``format("colfile")``; the write is
    one Spark job."""
    from columnar_analytics_engine_spark import io
    from conftest import count_jobs

    df = spark.range(0, 25_000, 1, 2).selectExpr(
        "id", "CAST(id % 7 AS int) AS k", "CAST(id % 5 AS string) AS s")
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    n, _ = count_jobs(spark, lambda: io.write_colfile(df, a, encodings={"S": "dictionary", "k": "rle"}))
    assert n == 1
    cf.register_colfile(spark)
    df.write.format("colfile").mode("overwrite").option("encoding.s", "dictionary") \
        .option("encoding.k", "rle").save(b)

    def layout(path):
        return sorted(
            ([s.encoding for s in m.schema], [rg.num_rows for rg in m.row_groups])
            for m in (cf.ColFileReader(f).metadata for f in cf._list_col_files(path))
        )

    assert layout(a) == layout(b)
    assert layout(a) == [([cf.ENC_PLAIN, cf.ENC_RLE, cf.ENC_DICTIONARY], [10_000, 2_500])] * 2
    assert sorted(io.read_colfile(spark, a).collect()) == sorted(df.collect())
    with pytest.raises(ValueError, match="overwrite' or 'append"):
        io.write_colfile(df, a, mode="ignore")


def test_write_colfile_zero_partition_frame_leaves_one_empty_shard(spark, tmp_path):
    """A frame with no partitions runs no write task; as with Spark's V2
    write (and ``format("colfile")``), the overwrite still leaves one
    readable zero-row shard in place of the old data."""
    from columnar_analytics_engine_spark import io

    out = str(tmp_path / "out")
    io.write_colfile(spark.range(0, 10, 1, 2), out)
    empty = spark.createDataFrame(spark.sparkContext.emptyRDD(), "id long")
    assert empty.rdd.getNumPartitions() == 0
    io.write_colfile(empty, out)
    assert len(cf._list_col_files(out)) == 1
    df = io.read_colfile(spark, out)
    assert df.count() == 0 and df.schema.simpleString() == "struct<id:bigint>"


# ---------------------------------------------------------------------------
# cross-validation against the compiled reference binary
# ---------------------------------------------------------------------------

def _build_reference_cli() -> str | None:
    exe = "/tmp/cae_ref_build/columnar"
    if os.path.exists(exe):
        return exe
    gpp = shutil.which("g++")
    if gpp is None or not os.path.isdir(REF_SRC):
        return None
    os.makedirs(os.path.dirname(exe), exist_ok=True)
    srcs = [f"{REF_SRC}/src/{f}" for f in
            ("format.cpp", "encoding.cpp", "execution.cpp", "cli.cpp")]
    try:
        subprocess.run(
            [gpp, "-std=c++20", "-O2", f"-I{REF_SRC}/include", *srcs, "-o", exe],
            check=True, capture_output=True, timeout=300,
        )
    except (subprocess.CalledProcessError, subprocess.TimeoutExpired):
        return None
    return exe


@pytest.fixture(scope="module")
def ref_cli():
    exe = _build_reference_cli()
    if exe is None:
        pytest.skip("no C++ toolchain / reference sources to cross-validate")
    return exe


def test_reference_binary_reads_our_file(ref_cli, tmp_path, sample_cols):
    path = str(tmp_path / "ours.col")
    cf.write_col(
        path, sample_cols,
        encodings={"id": "delta", "value": "plain", "category": "rle",
                   "region": "dictionary"},
        row_group_size=800,
    )
    scan = subprocess.run([ref_cli, "scan", path], capture_output=True, text=True)
    assert scan.returncode == 0, scan.stderr
    assert "Total rows: 2500" in scan.stdout
    agg = subprocess.run(
        [ref_cli, "query", path, "--agg", "sum", "value"],
        capture_output=True, text=True,
    )
    assert agg.returncode == 0, agg.stderr
    expected = int(np.sum(sample_cols["value"]))
    assert f"sum: {expected}" in agg.stdout
    assert f"min: {int(np.min(sample_cols['value']))}" in agg.stdout
    assert f"max: {int(np.max(sample_cols['value']))}" in agg.stdout


def test_we_read_reference_written_file(ref_cli, tmp_path):
    path = str(tmp_path / "theirs.col")
    gen = subprocess.run(
        [ref_cli, "write", path, "30000", "7"], capture_output=True, text=True
    )
    assert gen.returncode == 0, gen.stderr
    r = cf.ColFileReader(path)
    assert r.metadata.total_rows == 30000
    assert [s.name for s in r.metadata.schema] == [
        "id", "value", "category", "region", "status"
    ]
    pdf = r.to_pandas()
    assert len(pdf) == 30000
    # group-by parity with the reference's own executor on its own file
    # (group key must be STRING: the reference executor crashes on int
    # group columns — std::get<vector<string>>, src/execution.cpp:367)
    ref = subprocess.run(
        [ref_cli, "query", path, "--groupby", "region", "--agg", "sum", "value"],
        capture_output=True, text=True,
    )
    assert ref.returncode == 0, ref.stderr
    parsed = {}
    for line in ref.stdout.splitlines():
        m = re.match(r"\s+(\w+): count=(\d+), sum=(-?\d+)", line)
        if m:
            parsed[m.group(1)] = (int(m.group(2)), int(m.group(3)))
    ours = pdf.groupby("region")["value"].agg(["count", "sum"])
    assert parsed == {
        str(k): (int(v["count"]), int(v["sum"])) for k, v in ours.iterrows()
    }


def test_spark_reads_reference_file_and_filter_parity(ref_cli, tmp_path, spark):
    from pyspark.sql import functions as F

    path = str(tmp_path / "theirs.col")
    subprocess.run([ref_cli, "write", path, "20000", "3"], check=True,
                   capture_output=True)
    df = cf.read_col_spark(spark, path)
    assert df.count() == 20000
    # --agg sum (not count): the reference's COUNT path does not scan
    # the filter column and errors "Column not found" (src/execution.cpp
    # scan-column selection) — a documented reference quirk
    ref = subprocess.run(
        [ref_cli, "query", path, "--where", "value", "gt", "5000",
         "--agg", "sum", "value"],
        capture_output=True, text=True,
    )
    m = re.search(r"count: (\d+)", ref.stdout)
    assert m is not None, ref.stdout + ref.stderr
    filt = df.filter(F.col("value") > 5000)
    assert filt.count() == int(m.group(1))
    s = re.search(r"sum: (-?\d+)", ref.stdout)
    assert filt.agg(F.sum("value")).collect()[0][0] == int(s.group(1))


def test_reference_binary_reads_spark_written_shards(ref_cli, tmp_path, spark):
    df = spark.range(6000).selectExpr(
        "id", "id * 3 AS value", "CAST(id % 4 AS int) AS category",
        "CASE WHEN id % 2 = 0 THEN 'even' ELSE 'odd' END AS parity",
    )
    out = str(tmp_path / "shards")
    cf.write_col_spark(df.repartition(2), out,
                       encodings={"parity": "dictionary", "category": "rle"})
    total = 0
    vsum = 0
    for f in sorted(os.listdir(out)):
        if not f.endswith(".col"):
            continue
        scan = subprocess.run(
            [ref_cli, "query", os.path.join(out, f), "--agg", "sum", "value"],
            capture_output=True, text=True,
        )
        assert scan.returncode == 0, scan.stderr
        total += int(re.search(r"count: (\d+)", scan.stdout).group(1))
        vsum += int(re.search(r"sum: (-?\d+)", scan.stdout).group(1))
    assert total == 6000
    assert vsum == sum(i * 3 for i in range(6000))


def test_colfile_streaming_reader_exactly_once(spark, tmp_path):
    """readStream over an append-only .col shard directory: restart from
    the checkpoint ingests only shards that appeared since — the same
    exactly-once contract as the record-archive stream, on the native
    format (shards publish atomically via dotfile + os.replace)."""
    import numpy as np

    from columnar_analytics_engine_spark.sources import colfile as cf

    cf.register_colfile(spark)
    src = str(tmp_path / "drops")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    cf.write_col(f"{src}/a.col", {"id": np.arange(3, dtype=np.int64),
                                  "tag": ["x", "y", "z"]})
    cf.write_col(f"{src}/b.col", {"id": np.arange(3, 5, dtype=np.int64),
                                  "tag": ["p", "q"]})

    def drain():
        q = (
            spark.readStream.format("colfile")
            .load(src)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    first = {(r.id, r.tag) for r in spark.read.parquet(out).collect()}
    assert first == {(0, "x"), (1, "y"), (2, "z"), (3, "p"), (4, "q")}

    # a new shard lands; resuming from the checkpoint ingests ONLY it
    cf.write_col(f"{src}/c.col", {"id": np.array([9], dtype=np.int64),
                                  "tag": ["w"]})
    drain()
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 6  # no re-ingestion of a/b on restart
    assert (9, "w") in {(r.id, r.tag) for r in rows}


def test_commit_raises_on_missing_staged_shard_and_preserves_old_data(tmp_path):
    """A staged shard that vanished before commit (e.g. a concurrent
    overwrite's GC claimed the directory) must fail the publish LOUDLY
    — and must fail BEFORE the overwrite GC deletes the prior shards,
    so the old dataset stays whole (ADVICE r10)."""
    from types import SimpleNamespace

    import numpy as np
    import pytest
    from pyspark.sql.types import LongType, StructField, StructType

    from columnar_analytics_engine_spark.sources import colfile as cf

    path = str(tmp_path / "tbl")
    os.makedirs(path)
    cf.write_col(f"{path}/old.col", {"id": np.arange(4, dtype=np.int64)})

    DS = cf._make_datasource_classes()
    ds = DS({"path": path})
    writer = ds.writer(StructType([StructField("id", LongType())]), True)
    ghost = SimpleNamespace(
        file_path=os.path.join(path, f"_staged-{writer.run_id}-part-0.col")
    )
    with pytest.raises(IOError, match="staged .col shard missing"):
        writer.commit([ghost, None])
    # the destructive overwrite GC must not have run: old data intact
    reread = cf.ColFileReader(f"{path}/old.col").to_pandas()
    assert list(reread["id"]) == [0, 1, 2, 3]


def test_crashed_writer_strandings_invisible_then_collected(spark, tmp_path):
    """Chaos test (VERDICT r10 item 8): a writer that died mid-publish
    leaves ``_staged-*`` / dot-tmp strandings.  Readers must never see
    them (torn-directory invisibility), and the next successful
    overwrite must garbage-collect them."""
    import numpy as np
    from pyspark.sql import functions as F

    from columnar_analytics_engine_spark.sources import colfile as cf

    cf.register_colfile(spark)
    path = str(tmp_path / "tbl")
    df_a = spark.range(5).select(F.col("id").cast("long"))
    df_a.write.format("colfile").mode("overwrite").save(path)

    # simulate a crash mid-publish from ANOTHER run: a fully-written
    # staged shard plus a torn .tmp — both invisible-by-prefix
    cf.write_col(
        f"{path}/_staged-deadbeef-part-7.col",
        {"id": np.array([100, 101], dtype=np.int64)},
    )
    with open(f"{path}/.part-9.col.tmp", "wb") as fh:
        fh.write(b"torn-write-garbage")

    # batch reader, where-pruned reader, and stream lister all skip them
    seen = {r.id for r in spark.read.format("colfile").load(path).collect()}
    assert seen == {0, 1, 2, 3, 4}
    from columnar_analytics_engine_spark.io import read_colfile

    seen2 = {r.id for r in read_colfile(spark, path, where="id >= 0").collect()}
    assert seen2 == {0, 1, 2, 3, 4}

    # the next committed overwrite claims the directory: strandings GC'd
    df_b = spark.range(10, 13).select(F.col("id").cast("long"))
    df_b.write.format("colfile").mode("overwrite").save(path)
    leftovers = [
        f for f in os.listdir(path) if f.startswith(("_staged-", "."))
    ]
    assert leftovers == []
    assert {r.id for r in spark.read.format("colfile").load(path).collect()} == {10, 11, 12}
