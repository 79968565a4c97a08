"""File-level stats-skipping index: pruning soundness + exactness.

The invariant under test everywhere: ``read_skipping`` over the pruned
manifest returns EXACTLY what the full scan + filter returns — pruning
may only remove file I/O, never rows.  (Reference analog: the per-page
zone-map skip, ``src/execution.cpp`` ``Predicate::canSkipPage``, which
the reference's own corruption/parity tests hold to the same
never-changes-results bar.)
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from columnar_analytics_engine_spark.manifest import read_manifest
from columnar_analytics_engine_spark.io import read_table, write_sorted
from columnar_analytics_engine_spark.skipping import (
    build_stats_index,
    list_parquet_files,
    parse_predicate,
    plan_skipping,
    read_skipping,
    update_stats_index,
)


def _rows(df, *order_cols):
    return [tuple(r) for r in df.orderBy(*order_cols).collect()]


@pytest.fixture(scope="module")
def sorted_orders(spark, sf_small, tmp_path_factory):
    """orders written range-sorted by o_custkey into 8 files, with the
    stats index built alongside."""
    base = tmp_path_factory.mktemp("skipping")
    data = str(base / "orders_sorted")
    index = str(base / "orders_index")
    df = read_table(spark, sf_small, "orders")
    write_sorted(df, data, ["o_custkey"], n_files=8)
    n = build_stats_index(spark, data, index)
    assert n == len(list_parquet_files(data)) > 1
    return data, index


def test_parse_predicate_literals():
    assert parse_predicate("a ge 3 and b lt -2.5 and c eq 'x''y'") == [
        ("a", "ge", 3),
        ("b", "lt", -2.5),
        ("c", "eq", "x'y"),
    ]
    assert parse_predicate("a == 7")[0] == ("a", "eq", 7)
    with pytest.raises(ValueError):
        parse_predicate("a between 1 and 2")


def test_range_predicate_prunes_and_matches_full_scan(spark, sorted_orders):
    data, index = sorted_orders
    src = spark.read.parquet(data)
    lo, hi = src.agg(F.min("o_custkey"), F.max("o_custkey")).first()
    mid = (lo + hi) // 2
    pred = f"o_custkey ge {mid} and o_custkey le {mid + max(1, (hi - lo) // 20)}"
    plan = plan_skipping(spark, index, pred)
    assert plan["files_pruned"] > 0, "range-sorted layout must prune"
    got = read_skipping(spark, data, index, pred)
    want = src.where(
        (F.col("o_custkey") >= mid)
        & (F.col("o_custkey") <= mid + max(1, (hi - lo) // 20))
    )
    assert _rows(got, "o_orderkey") == _rows(want, "o_orderkey")


def test_float_predicate_prunes(spark, sf_small, tmp_path):
    data = str(tmp_path / "by_price")
    index = str(tmp_path / "idx")
    df = read_table(spark, sf_small, "orders")
    write_sorted(df, data, ["o_totalprice"], n_files=8)
    build_stats_index(spark, data, index)
    cut = float(df.approxQuantile("o_totalprice", [0.1], 0.01)[0])
    pred = f"o_totalprice lt {cut}"
    plan = plan_skipping(spark, index, pred)
    assert plan["files_pruned"] > 0
    got = read_skipping(spark, data, index, pred)
    want = spark.read.parquet(data).where(F.col("o_totalprice") < cut)
    assert _rows(got, "o_orderkey") == _rows(want, "o_orderkey")


def test_string_predicate_prunes(spark, sf_small, tmp_path):
    data = str(tmp_path / "by_status")
    index = str(tmp_path / "idx")
    df = read_table(spark, sf_small, "orders")
    write_sorted(df, data, ["o_orderstatus", "o_orderkey"], n_files=6)
    build_stats_index(spark, data, index)
    pred = "o_orderstatus eq 'F'"
    plan = plan_skipping(spark, index, pred)
    assert plan["files_pruned"] > 0, "status-clustered files must prune"
    got = read_skipping(spark, data, index, pred)
    want = spark.read.parquet(data).where(F.col("o_orderstatus") == "F")
    assert _rows(got, "o_orderkey") == _rows(want, "o_orderkey")


def test_unindexed_kind_never_prunes(spark, sorted_orders):
    """Timestamp columns are kind 'other': a clause on one keeps every
    file (correct, just not accelerated); a kind-mismatched literal on
    an indexed column likewise keeps every file."""
    data, index = sorted_orders
    idx = read_manifest(spark, index)
    assert idx.filter(
        (F.col("column") == "o_orderdate") & (F.col("kind") == "other")
    ).count() > 0
    plan = plan_skipping(spark, index, "o_totalprice eq 'not_a_number'")
    assert plan["files_pruned"] == 0


def test_all_null_file_prunes(spark, tmp_path):
    data = str(tmp_path / "nulls")
    index = str(tmp_path / "idx")
    spark.range(10).select(F.col("id").alias("k"), F.col("id").alias("v")).coalesce(
        1
    ).write.parquet(data)
    spark.range(5).select(
        F.col("id").alias("k"), F.lit(None).cast("long").alias("v")
    ).coalesce(1).write.mode("append").parquet(data)
    build_stats_index(spark, data, index)
    plan = plan_skipping(spark, index, "v ge 0")
    assert plan["files_pruned"] == 1, "the all-null file satisfies no comparison"
    got = read_skipping(spark, data, index, "v ge 0")
    assert got.count() == 10


def test_empty_manifest_returns_empty_with_schema(spark, sorted_orders):
    data, index = sorted_orders
    src = spark.read.parquet(data)
    hi = src.agg(F.max("o_custkey")).first()[0]
    pred = f"o_custkey gt {hi + 1000}"
    plan = plan_skipping(spark, index, pred)
    assert plan["files_pruned"] == plan["files_total"]
    got = read_skipping(spark, data, index, pred)
    assert got.count() == 0
    assert got.schema == src.schema


def test_update_stats_index_is_incremental(spark, sf_small, tmp_path):
    import os

    data = str(tmp_path / "grow")
    index = str(tmp_path / "idx")
    df = read_table(spark, sf_small, "orders").select("o_orderkey", "o_custkey")
    df.where(F.col("o_orderkey") % 2 == 0).coalesce(1).write.parquet(data)
    build_stats_index(spark, data, index)
    # append: only the new file's footer is scanned
    df.where(F.col("o_orderkey") % 2 == 1).coalesce(1).write.mode("append").parquet(
        data
    )
    delta = update_stats_index(spark, data, index)
    assert delta == {"added": 1, "removed": 0}
    got = read_skipping(spark, data, index, "o_orderkey ge 0")
    assert got.count() == df.count()
    # retention delete: the vanished file's rows leave the index
    victim = list_parquet_files(data)[0]
    os.remove(victim)
    delta = update_stats_index(spark, data, index)
    assert delta["removed"] == 1
    idx_files = {
        r["file"]
        for r in read_manifest(spark, index).select("file").distinct().collect()
    }
    assert victim not in idx_files
    assert update_stats_index(spark, data, index) == {"added": 0, "removed": 0}


def test_ne_prunes_constant_file_only(spark, tmp_path):
    data = str(tmp_path / "const")
    index = str(tmp_path / "idx")
    spark.range(10).select(F.lit(7).cast("long").alias("v")).coalesce(1).write.parquet(
        data
    )
    spark.range(10).select((F.col("id") + 100).alias("v")).coalesce(1).write.mode(
        "append"
    ).parquet(data)
    build_stats_index(spark, data, index)
    plan = plan_skipping(spark, index, "v ne 7")
    assert plan["files_pruned"] == 1
    assert read_skipping(spark, data, index, "v ne 7").count() == 10


_TWO53 = 1 << 53

# one file per row list: (num double, n long); the edge each file
# probes is noted beside it
_SEAM_FILES = [
    [(float(_TWO53), _TWO53 + 1)],  # bounds just past 2^53
    [(float(_TWO53 + 2), 1 << 60), (float(_TWO53 + 2), 1 << 61)],
    [(1.0, 1), (float("nan"), 2)],  # a NaN max
    [(float("nan"), None), (float("nan"), None)],  # NaN bounds, all-null n
    [(None, 7), (5.0, 7)],  # constant n
    [(None, 7), (None, None)],  # constant n with a null; all-null num
    [(-float(_TWO53 + 2), -(_TWO53 + 1)), (-1.0, -(1 << 60))],
]

# predicate -> the same clause in Spark SQL, with the literal typed as
# the reader types it (an int literal is a LONG, a float one a DOUBLE)
_SEAM_PREDICATES = {
    # int literal beyond 2^53 against num stats (compared as double)
    f"num eq {_TWO53 + 1}": f"num = {_TWO53 + 1}L",
    f"num gt {_TWO53 + 1}": f"num > {_TWO53 + 1}L",
    f"num le {_TWO53 + 1}": f"num <= {_TWO53 + 1}L",
    # float literal against int stats beyond ±2^53 (n cast to double)
    f"n eq {_TWO53}.0": f"n = {_TWO53}.0D",
    f"n ge {_TWO53}.0": f"n >= {_TWO53}.0D",
    f"n lt -{_TWO53}.0": f"n < -{_TWO53}.0D",
    # NaN and null bounds
    "num gt 2.0": "num > 2.0D",
    "num lt 0.5": "num < 0.5D",
    "num eq 1.0": "num = 1.0D",
    "num ne 5.0": "num != 5.0D",
    "n gt 0": "n > 0L",
    # ne on a constant file, and in lists
    "n ne 7": "n != 7L",
    "n in (1, 7, 123)": "n IN (1L, 7L, 123L)",
    f"num in (5, 2.0, {_TWO53 + 1})": f"num IN (5L, 2.0D, {_TWO53 + 1}L)",
}


@pytest.fixture(scope="module")
def seam_table(spark, tmp_path_factory):
    """One Spark-written file per edge of :data:`_SEAM_FILES`, plus one
    pyarrow-written file with statistics off (``has_stats = false``)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = tmp_path_factory.mktemp("seams")
    data, index = str(base / "data"), str(base / "idx")
    for rows in _SEAM_FILES:
        spark.createDataFrame(rows, "num double, n long").coalesce(1).write.mode(
            "append"
        ).parquet(data)
    pq.write_table(
        pa.table({"num": [2.0, 1e300], "n": [7, _TWO53 + 1]}),
        f"{data}/zz-no-stats.parquet", write_statistics=False,
    )
    build_stats_index(spark, data, index)
    return data, index


@pytest.mark.parametrize("pred", list(_SEAM_PREDICATES))
def test_prune_rule_type_seams_are_sound(spark, seam_table, pred):
    """Every file the rule prunes holds no row matching the clause
    under Spark's own comparison semantics, and the pruned read equals
    the unpruned filter."""
    from columnar_analytics_engine_spark.manifest import manifest_files

    data, index = seam_table
    sql = _SEAM_PREDICATES[pred]
    files = manifest_files(index)
    plan = plan_skipping(spark, index, pred)
    assert plan["files_total"] == len(_SEAM_FILES) + 1
    no_stats = next(f for f in files if f.endswith("zz-no-stats.parquet"))
    assert no_stats in plan["files"]
    for f in set(files) - set(plan["files"]):
        assert spark.read.parquet(f).where(sql).count() == 0, (pred, f)
    want = spark.read.parquet(*files).where(sql)
    got = read_skipping(spark, data, index, pred)
    assert sorted(map(repr, got.collect())) == sorted(map(repr, want.collect()))


def test_prune_rule_type_seams_still_prune(spark, seam_table):
    """The guards keep only what they must: clauses inside the exact
    range still prune, on both sides of each seam."""
    _data, index = seam_table
    pruned = {
        pred: plan_skipping(spark, index, pred)["files_pruned"]
        for pred in ("n ne 7", "n gt 0", "num lt 0.5", "n in (1, 7, 123)", "n eq 3.0")
    }
    # n ne 7: the two constant-7 files (a null satisfies no clause)
    # and the all-null one
    assert pruned["n ne 7"] == 3
    # n gt 0: the all-null file and the all-negative file
    assert pruned["n gt 0"] == 2
    assert all(v > 0 for v in pruned.values()), pruned


def test_has_stats_false_never_prunes(spark, seam_table, tmp_path):
    """A manifest row marked ``has_stats = false`` keeps its file even
    when its recorded bounds and null count would exclude it."""
    import pyarrow as pa

    from columnar_analytics_engine_spark.manifest import manifest_table, write_manifest

    _data, index = seam_table
    tbl = manifest_table(index)
    unmarked = str(tmp_path / "unmarked")
    write_manifest(spark, unmarked, tbl.set_column(
        tbl.schema.get_field_index("has_stats"), "has_stats",
        pa.array([False] * tbl.num_rows),
    ))
    for pred in _SEAM_PREDICATES:
        assert plan_skipping(spark, unmarked, pred)["files_pruned"] == 0, pred


def test_hive_partition_clause_prunes(spark, tmp_path):
    """Partition values live in paths, not footers: the index carries
    them as point intervals, so a partition clause prunes whole
    directories and the partition column survives the leaf-file read
    (basePath)."""
    data = str(tmp_path / "part")
    index = str(tmp_path / "idx")
    spark.range(400).select(
        F.col("id"), (F.col("id") % 4).alias("bucket")
    ).write.partitionBy("bucket").parquet(data)
    build_stats_index(spark, data, index)
    plan = plan_skipping(spark, index, "bucket eq 2")
    assert 0 < len(plan["files"]) < plan["files_total"]
    got = read_skipping(spark, data, index, "bucket eq 2")
    assert "bucket" in got.columns
    assert _rows(got, "id") == _rows(
        spark.read.parquet(data).where(F.col("bucket") == 2), "id"
    )
    # combined partition + data clause
    got2 = read_skipping(spark, data, index, "bucket eq 2 and id lt 100")
    want2 = spark.read.parquet(data).where(
        (F.col("bucket") == 2) & (F.col("id") < 100)
    )
    assert _rows(got2, "id") == _rows(want2, "id")


def test_string_partition_and_null_partition(spark, tmp_path):
    data = str(tmp_path / "strpart")
    index = str(tmp_path / "idx")
    df = spark.range(90).select(
        F.col("id"),
        F.when(F.col("id") % 3 == 0, "fr")
        .when(F.col("id") % 3 == 1, "en")
        .otherwise(None)
        .alias("lang"),
    )
    df.write.partitionBy("lang").parquet(data)
    build_stats_index(spark, data, index)
    plan = plan_skipping(spark, index, "lang eq 'en'")
    # fr and the null partition prune; en survives
    assert plan["files_pruned"] >= 2
    got = read_skipping(spark, data, index, "lang eq 'en'")
    assert _rows(got, "id") == _rows(
        spark.read.parquet(data).where(F.col("lang") == "en"), "id"
    )


def test_update_indexes_new_partition_values(spark, tmp_path):
    data = str(tmp_path / "grow_part")
    index = str(tmp_path / "idx")
    spark.range(100).select(F.col("id"), F.lit(1).alias("day")).write.partitionBy(
        "day"
    ).parquet(data)
    build_stats_index(spark, data, index)
    spark.range(100, 200).select(F.col("id"), F.lit(2).alias("day")).write.mode(
        "append"
    ).partitionBy("day").parquet(data)
    assert update_stats_index(spark, data, index)["added"] >= 1
    plan = plan_skipping(spark, index, "day eq 2")
    assert plan["files_pruned"] >= 1
    got = read_skipping(spark, data, index, "day eq 2")
    assert got.count() == 100


# ---------------------------------------------------------------------------
# Dynamic file pruning for joins
# ---------------------------------------------------------------------------

from columnar_analytics_engine_spark.skipping import (  # noqa: E402
    broadcast_join_skipping,
    plan_skipping_join,
    read_skipping_for_join,
)


def _join_rows(fact, dim, fact_key, dim_key):
    return sorted(
        tuple(r)
        for r in fact.join(dim, fact[fact_key] == dim[dim_key], "inner")
        .select(fact_key, "o_totalprice")
        .collect()
    )


def test_join_pruning_keys_mode_matches_full_join(spark, sorted_orders):
    data, index = sorted_orders
    src = spark.read.parquet(data)
    lo, hi = src.agg(F.min("o_custkey"), F.max("o_custkey")).first()
    # dim keys = a narrow custkey slice near the low end
    dim = (
        src.filter(F.col("o_custkey") <= lo + (hi - lo) // 8)
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
    )
    plan = plan_skipping_join(spark, index, "o_custkey", dim)
    assert plan["mode"] == "keys"
    assert plan["files_pruned"] > 0
    assert plan["files_pruned"] + len(plan["files"]) == plan["files_total"]
    pruned_fact = read_skipping_for_join(spark, data, index, "o_custkey", dim)
    assert _join_rows(pruned_fact, dim, "o_custkey", "c_custkey") == _join_rows(
        src, dim, "o_custkey", "c_custkey"
    )


def test_join_pruning_interval_mode_matches_full_join(spark, sorted_orders):
    data, index = sorted_orders
    src = spark.read.parquet(data)
    lo, hi = src.agg(F.min("o_custkey"), F.max("o_custkey")).first()
    dim = (
        src.filter(F.col("o_custkey") >= hi - (hi - lo) // 8)
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
    )
    plan = plan_skipping_join(spark, index, "o_custkey", dim, max_keys=1)
    assert plan["mode"] == "interval"
    assert plan["files_pruned"] > 0
    pruned_fact = read_skipping_for_join(
        spark, data, index, "o_custkey", dim, max_keys=1
    )
    assert _join_rows(pruned_fact, dim, "o_custkey", "c_custkey") == _join_rows(
        src, dim, "o_custkey", "c_custkey"
    )


def test_join_pruning_keys_mode_beats_interval_on_scattered_keys(
    spark, sorted_orders
):
    """Two keys at the extremes: the interval envelope keeps every
    file, exact membership keeps only the two files holding them."""
    data, index = sorted_orders
    src = spark.read.parquet(data)
    lo, hi = src.agg(F.min("o_custkey"), F.max("o_custkey")).first()
    dim = spark.createDataFrame([(int(lo),), (int(hi),)], "c_custkey long")
    interval = plan_skipping_join(
        spark, index, "o_custkey", dim, max_keys=1
    )
    keys = plan_skipping_join(spark, index, "o_custkey", dim)
    assert interval["files_pruned"] == 0  # envelope spans everything
    assert keys["files_pruned"] > 0
    pruned_fact = read_skipping_for_join(spark, data, index, "o_custkey", dim)
    assert _join_rows(pruned_fact, dim, "o_custkey", "c_custkey") == _join_rows(
        src, dim, "o_custkey", "c_custkey"
    )


def test_join_pruning_empty_and_null_keys(spark, sorted_orders):
    data, index = sorted_orders
    dim = spark.createDataFrame([(None,)], "c_custkey long")
    plan = plan_skipping_join(spark, index, "o_custkey", dim)
    assert plan["mode"] == "empty" and plan["files"] == []
    pruned = read_skipping_for_join(spark, data, index, "o_custkey", dim)
    assert pruned.count() == 0
    assert pruned.schema == spark.read.parquet(data).schema


def test_broadcast_join_skipping_rejects_outer(spark, sorted_orders):
    data, index = sorted_orders
    dim = spark.createDataFrame([(1,)], "c_custkey long")
    with pytest.raises(ValueError, match="inner/left_semi"):
        broadcast_join_skipping(
            spark, data, index, "o_custkey", dim, "c_custkey", how="left"
        )
    out = broadcast_join_skipping(
        spark, data, index, "o_custkey", dim, "c_custkey", how="inner"
    )
    src = spark.read.parquet(data)
    assert out.count() == src.filter(F.col("o_custkey") == 1).count()


# ---------------------------------------------------------------------------
# Bloom-filter file index
# ---------------------------------------------------------------------------

from columnar_analytics_engine_spark.skipping import (  # noqa: E402
    _bloom_canon,
    _bloom_hash_pair,
    _bloom_params,
    bloom_prune,
    build_bloom_index,
    update_bloom_index,
)


@pytest.fixture(scope="module")
def bloomed_orders(spark, sf_small, tmp_path_factory):
    """orders shuffled into 8 files (worst layout for interval stats)
    with both indexes built."""
    from columnar_analytics_engine_spark.io import read_table, write_shuffled

    base = tmp_path_factory.mktemp("bloom")
    data = str(base / "orders_shuffled")
    index = str(base / "idx")
    bloom = str(base / "bloom")
    df = read_table(spark, sf_small, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    write_shuffled(df, data, "o_orderkey", n_files=8)
    build_stats_index(spark, data, index)
    n = build_bloom_index(
        spark, data, bloom, ["o_orderkey", "o_orderstatus"]
    )
    assert n == 16  # 8 files x 2 indexable columns
    return data, index, bloom


def test_bloom_params_sane():
    m, k = _bloom_params(1000, 0.01)
    assert m % 64 == 0 and m >= 9000 and 5 <= k <= 9
    assert _bloom_params(0, 0.01)[0] == 64


def test_bloom_eq_prunes_where_intervals_cannot(spark, bloomed_orders):
    data, index, bloom = bloomed_orders
    src = spark.read.parquet(data)
    lo, hi = src.agg(F.min("o_orderkey"), F.max("o_orderkey")).first()
    key = (lo + hi) // 2  # mid-domain: every shuffled file's interval spans it
    pred = f"o_orderkey eq {key}"
    no_bloom = plan_skipping(spark, index, pred)
    with_bloom = plan_skipping(spark, index, pred, bloom_path=bloom)
    assert no_bloom["files_pruned"] == 0  # shuffled: intervals useless
    # a unique key lives in exactly one file; fpp can keep a stray file
    assert with_bloom["files_pruned"] >= 5
    got = read_skipping(spark, data, index, pred, bloom_path=bloom)
    assert [
        tuple(r) for r in got.select("o_orderkey", "o_custkey").collect()
    ] == [
        tuple(r)
        for r in src.filter(F.col("o_orderkey") == key)
        .select("o_orderkey", "o_custkey")
        .collect()
    ]


def test_bloom_absent_value_prunes_everything(spark, bloomed_orders):
    data, index, bloom = bloomed_orders
    plan = plan_skipping(
        spark, index, "o_orderkey eq -12345", bloom_path=bloom
    )
    # interval stats already exclude a negative key; bloom agrees
    assert plan["files"] == []
    hi = spark.read.parquet(data).agg(F.max("o_orderkey")).first()[0]
    # inside the interval but never present: only bloom can prune this
    missing = hi  # max key exists; probe a string column instead
    plan2 = plan_skipping(
        spark, index, "o_orderstatus eq 'ZZ'", bloom_path=bloom
    )
    assert plan2["files"] == []
    assert read_skipping(
        spark, data, index, "o_orderstatus eq 'ZZ'", bloom_path=bloom
    ).count() == 0


def test_bloom_string_and_common_value_keeps_files(spark, bloomed_orders):
    data, index, bloom = bloomed_orders
    src = spark.read.parquet(data)
    status = src.select("o_orderstatus").first()[0]
    pred = f"o_orderstatus eq '{status}'"
    got = read_skipping(spark, data, index, pred, bloom_path=bloom)
    assert got.count() == src.filter(F.col("o_orderstatus") == status).count()


def test_bloom_join_pruning_matches_plain_join(spark, bloomed_orders):
    data, index, bloom = bloomed_orders
    src = spark.read.parquet(data)
    keys = [r[0] for r in src.select("o_orderkey").limit(5).collect()]
    dim = spark.createDataFrame([(int(v),) for v in keys], "c long")
    no_bloom = plan_skipping_join(spark, index, "o_orderkey", dim)
    with_bloom = plan_skipping_join(
        spark, index, "o_orderkey", dim, bloom_path=bloom
    )
    assert no_bloom["files_pruned"] == 0
    assert with_bloom["mode"] == "keys+bloom"
    assert with_bloom["files_pruned"] > 0
    pruned = read_skipping_for_join(
        spark, data, index, "o_orderkey", dim, bloom_path=bloom
    )
    a = sorted(
        tuple(r)
        for r in pruned.join(dim, pruned["o_orderkey"] == dim["c"])
        .select("o_orderkey", "o_custkey")
        .collect()
    )
    b = sorted(
        tuple(r)
        for r in src.join(dim, src["o_orderkey"] == dim["c"])
        .select("o_orderkey", "o_custkey")
        .collect()
    )
    assert a == b


def test_bloom_spark_probe_matches_python_build(spark, tmp_path):
    """The JVM-side position sequence must equal the Python build's for
    every value actually present — zero false NEGATIVES by construction."""
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(500)], "a long, s string"
    )
    data = str(tmp_path / "d")
    df.repartition(4).write.parquet(data)
    bloom = str(tmp_path / "b")
    build_bloom_index(spark, data, bloom, ["a", "s"])
    for v in (0, 17, 499):
        assert bloom_prune(spark, bloom, "a", v) is not None
    # every present value must survive its own file's bloom
    from columnar_analytics_engine_spark.skipping import list_parquet_files

    files = set(list_parquet_files(data))
    for v in (0, 123, 499):
        holders = {
            r["file"]
            for r in spark.read.option("basePath", data)
            .parquet(*sorted(files))
            .filter(F.col("a") == v)
            .select(F.input_file_name().alias("file"))
            .collect()
        }
        pruned = bloom_prune(spark, bloom, "a", v)
        assert not (holders & {p for p in pruned})
    # string canon: present survives, absent prunes all four files
    assert len(bloom_prune(spark, bloom, "s", "nope")) == 4
    assert _bloom_canon(1.5) is None and _bloom_canon(True) is None


def test_update_bloom_index_incremental(spark, tmp_path):
    df = spark.createDataFrame([(i,) for i in range(100)], "a long")
    data = str(tmp_path / "d")
    df.coalesce(2).write.parquet(data)
    bloom = str(tmp_path / "b")
    build_bloom_index(spark, data, bloom, ["a"])
    spark.createDataFrame([(1000,)], "a long").coalesce(1).write.mode(
        "append"
    ).parquet(data)
    out = update_bloom_index(spark, data, bloom)
    assert out["added"] == 1 and out["removed"] == 0
    # the appended value is now findable and absent values prune all
    assert bloom_prune(spark, bloom, "a", 1000) is not None
    assert len(bloom_prune(spark, bloom, "a", 999)) == 3
    assert update_bloom_index(spark, data, bloom) == {"added": 0, "removed": 0}


def test_parse_predicate_in_list():
    assert parse_predicate("a in (1, 2, 3) and b eq 'x'") == [
        ("a", "in", [1, 2, 3]),
        ("b", "eq", "x"),
    ]
    assert parse_predicate("s IN ('a', 'b''c')") == [("s", "in", ["a", "b'c"])]
    with pytest.raises(ValueError, match="IN list"):
        parse_predicate("a in ()")
    with pytest.raises(ValueError, match="bad IN-list item"):
        parse_predicate("a in (1, oops)")


def test_in_list_interval_pruning_and_exactness(spark, sorted_orders):
    data, index = sorted_orders
    src = spark.read.parquet(data)
    lo = src.agg(F.min("o_custkey")).first()[0]
    pred = f"o_custkey in ({lo}, {lo + 1}, {lo + 2})"
    plan = plan_skipping(spark, index, pred)
    assert plan["files_pruned"] > 0  # sorted layout: the set sits low
    got = read_skipping(spark, data, index, pred)
    assert sorted(r["o_orderkey"] for r in got.collect()) == sorted(
        r["o_orderkey"]
        for r in src.filter(
            F.col("o_custkey").isin(lo, lo + 1, lo + 2)
        ).collect()
    )


def test_in_list_bloom_pruning(spark, bloomed_orders):
    data, index, bloom = bloomed_orders
    src = spark.read.parquet(data)
    lo, hi = src.agg(F.min("o_orderkey"), F.max("o_orderkey")).first()
    mids = [int((lo + hi) // 2 + d) for d in (0, 1)]
    pred = f"o_orderkey in ({mids[0]}, {mids[1]})"
    no_bloom = plan_skipping(spark, index, pred)
    with_bloom = plan_skipping(spark, index, pred, bloom_path=bloom)
    assert no_bloom["files_pruned"] == 0
    assert with_bloom["files_pruned"] > 0
    # exactness is the proof that "prune only when ALL values miss"
    # held: rows for EVERY in-list value survive the pruned read
    got = read_skipping(spark, data, index, pred, bloom_path=bloom)
    assert sorted(r["o_custkey"] for r in got.collect()) == sorted(
        r["o_custkey"]
        for r in src.filter(F.col("o_orderkey").isin(*mids)).collect()
    )
    assert got.count() == len(mids)  # unique keys: one row per value


def test_verify_stats_index_reports_drift(spark, sf_small, tmp_path):
    import os
    import shutil

    from columnar_analytics_engine_spark.io import read_table, write_sorted
    from columnar_analytics_engine_spark.skipping import verify_stats_index

    data = str(tmp_path / "d")
    index = str(tmp_path / "i")
    df = read_table(spark, sf_small, "orders").select("o_orderkey")
    write_sorted(df, data, ["o_orderkey"], n_files=4)
    build_stats_index(spark, data, index)
    rep = verify_stats_index(spark, data, index)
    assert rep["consistent"] and not rep["missing"] and not rep["orphans"]

    # strand a file (missing) and delete an indexed one (orphan)
    files = list_parquet_files(data)
    stray = os.path.join(data, "stray.parquet")
    shutil.copy(files[0], stray)
    os.remove(files[1])
    rep = verify_stats_index(spark, data, index)
    assert rep["missing"] == [stray]
    assert rep["orphans"] == [files[1]]
    assert not rep["consistent"]

    # in-place overwrite => row drift
    os.remove(stray)
    df.limit(3).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "tiny"))
    tiny = list_parquet_files(str(tmp_path / "tiny"))[0]
    shutil.copy(tiny, files[0])
    rep = verify_stats_index(spark, data, index)
    assert rep["row_drift"] and rep["row_drift"][0]["file"] == files[0]


def test_plan_skipping_join_does_not_mutate_key_schema(spark, bloomed_orders):
    """StructType.add mutates in place; the bloom path must build a
    fresh schema instead of growing the key frame's cached one."""
    from columnar_analytics_engine_spark.skipping import plan_skipping_join

    data, index, bloom = bloomed_orders
    keys = spark.createDataFrame([(1,), (6,), (7,)], "o_orderkey long")
    plan = plan_skipping_join(
        spark, index, "o_orderkey", keys, bloom_path=bloom
    )
    assert plan["mode"] == "keys+bloom"
    assert keys.schema.fieldNames() == ["o_orderkey"]
