"""Schema evolution: metadata-only add/rename/widen + cohort reads.

Invariants: evolution ops never touch data files; ``read_evolved``
reconciles every physical cohort to the current logical schema
(default for never-written, NOT for written-NULL); maintenance
rewrites lazily materialize the evolved schema; invalid evolutions
fail loudly.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from columnar_analytics_engine_spark.evolution import (
    add_column,
    read_evolved,
    read_schema_spec,
    rename_column,
    widen_type,
)
from columnar_analytics_engine_spark.layout import merge_upsert_files
from columnar_analytics_engine_spark.skipping import (
    build_stats_index,
    list_parquet_files,
    update_stats_index,
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture()
def table(spark, tmp_path):
    data = str(tmp_path / "data")
    index = str(tmp_path / "idx")
    df = spark.createDataFrame(
        [(i, i * 10, f"u{i}") for i in range(100)],
        "id bigint, amount int, name string",
    )
    df.repartition(4, "id").write.parquet(data)
    build_stats_index(spark, data, index)
    return data, index, df


def test_no_spec_passthrough(spark, table):
    data, index, df = table
    got = read_evolved(spark, data, index)
    assert _rows(got) == _rows(df)
    assert read_schema_spec(index) is None


def test_add_column_default_and_mixed_cohorts(spark, table):
    data, index, df = table
    files_before = set(list_parquet_files(data))
    add_column(spark, data, index, "score", "double", default=1.5)
    # metadata-only: zero data files changed
    assert set(list_parquet_files(data)) == files_before

    got = read_evolved(spark, data, index)
    assert got.schema["score"].dataType.simpleString() == "double"
    assert got.filter(F.col("score") == 1.5).count() == 100

    # upsert a batch that CARRIES the column — including an explicit
    # NULL, which must stay NULL (not become the default)
    source = spark.createDataFrame(
        [(5, 50, "u5", 9.9), (200, 2000, "u200", None)],
        "id bigint, amount int, name string, score double",
    )
    merge_upsert_files(spark, data, index, source, "id")
    got = read_evolved(spark, data, index)
    assert got.count() == 101
    vals = {r["id"]: r["score"] for r in got.collect()}
    assert vals[5] == 9.9 and vals[200] is None
    assert vals[7] == 1.5  # untouched old-cohort row keeps the default
    # aggregate across both cohorts
    assert got.agg(F.count("score")).first()[0] == 100  # one real NULL


def test_rename_column_maps_old_files_forward(spark, table):
    data, index, df = table
    rename_column(spark, data, index, "amount", "amount_cents")
    got = read_evolved(spark, data, index)
    assert "amount_cents" in got.columns and "amount" not in got.columns
    assert _rows(got.select("id", "amount_cents")) == _rows(
        df.select("id", "amount")
    )
    with pytest.raises(ValueError, match="already exists"):
        rename_column(spark, data, index, "name", "amount_cents")
    with pytest.raises(KeyError):
        rename_column(spark, data, index, "nope", "x")
    # a rewrite materializes the new physical name; both cohorts agree
    source = spark.createDataFrame(
        [(5, 555, "u5")], "id bigint, amount_cents int, name string"
    )
    merge_upsert_files(spark, data, index, source, "id")
    got = read_evolved(spark, data, index)
    assert got.filter(F.col("id") == 5).first()["amount_cents"] == 555
    assert got.count() == 100


def test_widen_type_casts_old_cohorts(spark, table):
    data, index, df = table
    widen_type(spark, data, index, "amount", "bigint")
    got = read_evolved(spark, data, index)
    assert got.schema["amount"].dataType.simpleString() == "bigint"
    assert got.agg(F.sum("amount")).first()[0] == sum(i * 10 for i in range(100))
    with pytest.raises(ValueError, match="cannot widen"):
        widen_type(spark, data, index, "name", "bigint")
    with pytest.raises(ValueError, match="cannot widen"):
        widen_type(spark, data, index, "amount", "int")  # narrowing


def test_compose_add_rename_widen_and_append(spark, table):
    """The full lifecycle: widen + rename + add, then an APPEND of
    new-schema files via update_stats_index — three physical cohorts
    reconcile."""
    data, index, df = table
    widen_type(spark, data, index, "amount", "bigint")
    rename_column(spark, data, index, "amount", "cents")
    add_column(spark, data, index, "flag", "int", default=0)
    newer = spark.createDataFrame(
        [(1000, 7, "new", 1)], "id bigint, cents bigint, name string, flag int"
    )
    newer.coalesce(1).write.mode("append").parquet(data)
    update_stats_index(spark, data, index)
    got = read_evolved(spark, data, index)
    assert got.count() == 101
    assert got.filter(F.col("flag") == 1).first()["id"] == 1000
    assert got.filter(F.col("flag") == 0).count() == 100
    assert (
        got.agg(F.sum("cents")).first()[0]
        == sum(i * 10 for i in range(100)) + 7
    )


def test_drop_column_metadata_only_and_name_retired(spark, table):
    from columnar_analytics_engine_spark.evolution import drop_column

    data, index, df = table
    files_before = set(list_parquet_files(data))
    drop_column(spark, data, index, "amount")
    assert set(list_parquet_files(data)) == files_before  # zero data I/O
    got = read_evolved(spark, data, index)
    assert got.columns == ["id", "name"]
    assert _rows(got) == _rows(df.select("id", "name"))
    # maintenance rewrite materializes the drop
    source = spark.createDataFrame([(5, "u5x")], "id bigint, name string")
    merge_upsert_files(spark, data, index, source, "id")
    got = read_evolved(spark, data, index)
    assert got.count() == 100
    assert got.filter(F.col("id") == 5).first()["name"] == "u5x"
    # dropped names are retired (old bytes would leak)
    with pytest.raises(ValueError, match="not reusable"):
        add_column(spark, data, index, "amount", "int", default=0)
    # ...for RENAME too (ADVICE r12): renaming onto a dropped name
    # would make the cohort projection prefer the physically present
    # stale bytes over the rename source on pre-drop files
    with pytest.raises(ValueError, match="not reusable"):
        rename_column(spark, data, index, "name", "amount")
    drop_column(spark, data, index, "id")
    with pytest.raises(ValueError, match="cannot drop the last column"):
        drop_column(spark, data, index, "name")


def test_cluster_compact_preserves_mixed_cohorts(spark, table):
    """Re-clustering an evolved table must not lose the new column's
    bytes: rewrite groups split per physical-schema cohort (a
    mixed-cohort read samples one file's schema and silently drops
    columns it lacks)."""
    from columnar_analytics_engine_spark.layout import cluster_compact

    data, index, df = table
    add_column(spark, data, index, "score", "double", default=1.5)
    # append a NEW-cohort slab (carries score), overlapping the old
    # files' id range so both cohorts hold compaction candidates
    newer = spark.createDataFrame(
        [(i, i * 10, f"u{i}", float(i)) for i in range(100, 200)],
        "id bigint, amount int, name string, score double",
    ).unionByName(
        spark.createDataFrame(
            [(i, i * 10, f"w{i}", -1.0) for i in range(0, 100, 3)],
            "id bigint, amount int, name string, score double",
        )
    )
    newer.repartition(4).write.mode("append").parquet(data)
    update_stats_index(spark, data, index)
    before = _rows(read_evolved(spark, data, index))
    out = cluster_compact(spark, data, index, ["id"], max_files=64,
                          min_overlaps=1)
    assert out["rewritten"] >= 4 and out["groups"] >= 2  # one per cohort
    after = _rows(read_evolved(spark, data, index))
    assert after == before  # no bytes lost, defaults undisturbed


def test_compact_deletes_preserves_mixed_cohorts(spark, table):
    from columnar_analytics_engine_spark.deletes import (
        compact_deletes,
        delete_where,
        read_with_deletes,
    )

    data, index, df = table
    add_column(spark, data, index, "score", "double", default=1.5)
    newer = spark.createDataFrame(
        [(i, i * 10, f"u{i}", float(i)) for i in range(100, 150)],
        "id bigint, amount int, name string, score double",
    )
    newer.repartition(2).write.mode("append").parquet(data)
    update_stats_index(spark, data, index)
    dv = data + "_dv"
    delete_where(spark, data, dv, "id % 10 = 3")
    expect = _rows(
        read_evolved(spark, data, index).filter(F.col("id") % 10 != 3)
    )
    compact_deletes(spark, data, dv, index)
    got = _rows(read_evolved(spark, data, index))
    assert got == expect  # deleted rows gone, cohort bytes intact


def test_read_surface_is_evolution_aware(spark, table):
    """read_indexed / read_skipping / read_with_deletes on an evolved
    table all reconcile cohorts — none samples one cohort's physical
    schema — and deletion vectors subtract inside the cohort scans."""
    from columnar_analytics_engine_spark.deletes import (
        delete_where,
        read_with_deletes,
    )
    from columnar_analytics_engine_spark.skipping import (
        read_indexed,
        read_skipping,
    )

    data, index, df = table
    add_column(spark, data, index, "score", "double", default=1.5)
    rename_column(spark, data, index, "amount", "cents")
    newer = spark.createDataFrame(
        [(i, i * 10, f"u{i}", float(i)) for i in range(100, 150)],
        "id bigint, cents int, name string, score double",
    )
    newer.coalesce(1).write.mode("append").parquet(data)
    update_stats_index(spark, data, index)

    # read_indexed delegates to the evolved view
    got = read_indexed(spark, data, index)
    assert set(got.columns) == {"id", "cents", "name", "score"}
    assert got.count() == 150
    assert got.filter(F.col("score") == 1.5).count() == 100

    # read_skipping: predicate on the RENAMED column; old files keep
    # conservatively (no stats under the logical name), result exact
    got = read_skipping(spark, data, index, "cents ge 1200")
    assert sorted(r["id"] for r in got.collect()) == list(range(120, 150))
    # predicate on the ADDED column
    got = read_skipping(spark, data, index, "score ge 140.0")
    assert sorted(r["id"] for r in got.collect()) == list(range(140, 150))

    # deletion vectors compose with evolution
    dv = data + "_dv"
    delete_where(spark, data, dv, "id % 2 = 1")
    got = read_with_deletes(spark, data, dv, index_path=index)
    assert got.count() == 75
    assert got.filter(F.col("score") == 1.5).count() == 50
    got = read_with_deletes(
        spark, data, dv, index_path=index, predicate="cents ge 1200"
    )
    assert sorted(r["id"] for r in got.collect()) == list(range(120, 150, 2))


def test_join_reads_follow_rename_after_merge(spark, tmp_path):
    """The file-pruned join reads the table under its current logical
    schema.  After a rename, a MERGE rewrites only the files it
    touches, under the new name, so the table holds both physical
    names.  ``broadcast_join_skipping`` and ``read_skipping_for_join``
    must then join exactly like a join over ``read_evolved``: no
    column under the old name, no NULLs for the rewritten rows."""
    from columnar_analytics_engine_spark.skipping import (
        broadcast_join_skipping,
        read_skipping_for_join,
    )

    data = str(tmp_path / "data")
    index = str(tmp_path / "idx")
    spark.createDataFrame(
        [(i, i * 10, f"u{i}") for i in range(100)],
        "id bigint, amount int, name string",
    ).repartitionByRange(4, "id").sortWithinPartitions("id").write.parquet(data)
    build_stats_index(spark, data, index)
    rename_column(spark, data, index, "amount", "amt")
    # updates 90..99 (the last range file only) and inserts 100..109
    source = spark.createDataFrame(
        [(i, i * 10 + 1, f"m{i}") for i in range(90, 110)],
        "id bigint, amt int, name string",
    )
    assert merge_upsert_files(spark, data, index, source, "id")["affected_files"] == 1
    dim = spark.createDataFrame([(k,) for k in range(0, 110, 3)], "k bigint")

    want = read_evolved(spark, data, index).join(dim, F.col("id") == F.col("k"))
    assert want.columns == ["id", "amt", "name", "k"]
    assert _rows(want.select("id", "amt")) == sorted(
        (k, k * 10 + (k >= 90)) for k in range(0, 110, 3)
    )
    got = broadcast_join_skipping(spark, data, index, "id", dim, "k")
    assert got.columns == want.columns
    assert _rows(got) == _rows(want)
    fact = read_skipping_for_join(spark, data, index, "id", dim.select("k"))
    got = fact.join(dim, fact["id"] == dim["k"])
    assert got.columns == want.columns
    assert _rows(got) == _rows(want)


def test_cohort_projection_properties(spark):
    """Property: for ANY spec and physical column set, the projection
    yields exactly the spec's columns in order, resolves the newest
    present source for renames, and falls back to the default only
    when neither the name nor any source is physically present."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from columnar_analytics_engine_spark.evolution import _cohort_projection

    names = st.lists(
        st.text(alphabet="abcdefgh", min_size=1, max_size=4),
        min_size=1, max_size=6, unique=True,
    )

    @settings(max_examples=200, deadline=None)
    @given(names=names, data=st.data())
    def check(names, data):
        cols = []
        used = set(names)
        for n in names:
            n_sources = data.draw(st.integers(0, 2))
            sources = []
            for k in range(n_sources):
                s = f"{n}_old{k}"
                used.add(s)
                sources.append(s)
            cols.append({
                "name": n,
                "type": data.draw(st.sampled_from(["bigint", "double", "string"])),
                "default": data.draw(st.one_of(st.none(), st.integers(-5, 5))),
                "sources": sources,
            })
        spec = {"columns": cols}
        physical = set(data.draw(st.sets(st.sampled_from(sorted(used)))))
        exprs = _cohort_projection(spec, physical)
        assert len(exprs) == len(cols)
        for c, e in zip(cols, exprs):
            # alias must equal the logical name
            assert f"AS {c['name']}" in str(e) or c["name"] in str(e)

    check()
