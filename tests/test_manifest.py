"""Versioned manifests: atomic publish, concurrent readers, time travel.

The round-12 hardening of the maintenance tier (VERDICT r11 items 1-2):
manifest versions are immutable, a single ``os.replace`` pointer flip
publishes, rewritten originals persist until an explicit vacuum — so a
reader that planned BEFORE a compaction finishes correctly, ``as_of``
reads reconstruct any retained snapshot, and a crash at any point
leaves a complete manifest (reference-parity anchor: the corruption
suite's results-never-change bar, ``tests/test_corruption.cpp``).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from columnar_analytics_engine_spark.io import read_table, write_sorted
from columnar_analytics_engine_spark.layout import (
    cluster_compact,
    merge_upsert_files,
    vacuum_unindexed,
)
from columnar_analytics_engine_spark.manifest import (
    current_version,
    expire_versions,
    list_versions,
    publish_version,
    read_manifest,
    referenced_files,
    write_manifest,
)
from columnar_analytics_engine_spark.skipping import (
    build_stats_index,
    list_parquet_files,
    read_indexed,
    read_skipping,
    update_stats_index,
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture()
def compactable(spark, sf_small, tmp_path):
    """orders written deliberately unclustered + index at version 1."""
    data = str(tmp_path / "data")
    index = str(tmp_path / "idx")
    src = read_table(spark, sf_small, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    src.repartition(8).write.parquet(data)
    build_stats_index(spark, data, index)
    return data, index, src


def test_versioned_write_read_roundtrip(spark, tmp_path):
    index = str(tmp_path / "idx")
    df1 = spark.createDataFrame([("a.parquet",)], "file string")
    df2 = spark.createDataFrame([("b.parquet",)], "file string")
    v1 = write_manifest(spark, index, df1)
    v2 = write_manifest(spark, index, df2)
    assert (v1, v2) == (1, 2)
    assert current_version(index) == 2
    assert list_versions(index) == [1, 2]
    assert _rows(read_manifest(spark, index)) == [("b.parquet",)]
    assert _rows(read_manifest(spark, index, as_of=1)) == [("a.parquet",)]
    assert referenced_files(index) == {"a.parquet", "b.parquet"}
    with pytest.raises(FileNotFoundError, match="version 9"):
        read_manifest(spark, index, as_of=9)


def test_staged_version_invisible_until_published(spark, tmp_path):
    """publish=False models a crash before the pointer flip: readers
    stay on the old complete version; publish_version completes it."""
    index = str(tmp_path / "idx")
    write_manifest(spark, index, spark.createDataFrame([("a",)], "file string"))
    v2 = write_manifest(
        spark, index, spark.createDataFrame([("b",)], "file string"),
        publish=False,
    )
    assert v2 == 2 and current_version(index) == 1
    assert _rows(read_manifest(spark, index)) == [("a",)]
    # the next writer allocates ABOVE the stranded stage (no clobber)
    v3 = write_manifest(
        spark, index, spark.createDataFrame([("c",)], "file string")
    )
    assert v3 == 3 and current_version(index) == 3
    publish_version(index, v2)  # a txn commit can still flip to it
    assert _rows(read_manifest(spark, index)) == [("b",)]
    with pytest.raises(FileNotFoundError, match="not staged"):
        publish_version(index, 17)


def test_legacy_flat_index_upgrades_in_place(spark, tmp_path):
    """A pre-round-12 flat index reads transparently and becomes
    version 1 on the first write."""
    index = str(tmp_path / "idx")
    legacy = spark.createDataFrame([("x.parquet",)], "file string")
    legacy.coalesce(1).write.parquet(index)  # flat, no _CURRENT
    assert current_version(index) is None
    assert _rows(read_manifest(spark, index)) == [("x.parquet",)]
    assert referenced_files(index) == {"x.parquet"}
    v = write_manifest(
        spark, index, spark.createDataFrame([("y.parquet",)], "file string")
    )
    assert v == 1 and current_version(index) == 1
    assert _rows(read_manifest(spark, index)) == [("y.parquet",)]
    # flat files were cleaned up after the pointer flip
    assert not any(
        f.endswith(".parquet") for f in os.listdir(index)
        if not f.startswith(("_", "."))
    )


def test_expire_versions_keeps_current_and_window(spark, tmp_path):
    index = str(tmp_path / "idx")
    for name in ["a", "b", "c", "d"]:
        write_manifest(
            spark, index, spark.createDataFrame([(name,)], "file string")
        )
    assert expire_versions(index, keep_last=2) == [1, 2]
    assert list_versions(index) == [3, 4]
    # a FRESH orphan stage above current survives (it may be a
    # concurrent writer between staging and publish — grace window)...
    write_manifest(
        spark, index, spark.createDataFrame([("e",)], "file string"),
        publish=False,
    )
    assert expire_versions(index, keep_last=2) == []
    assert list_versions(index) == [3, 4, 5]
    # ...and expires once older than the grace window
    assert expire_versions(index, keep_last=2, orphan_grace_sec=0.0) == [5]
    assert expire_versions(index, keep_last=1) == [3]
    assert list_versions(index) == [4] and current_version(index) == 4


def test_concurrent_reader_survives_compaction(spark, compactable):
    """VERDICT r11 item 1's done-bar: a read PLANNED before the
    compaction (its file list already collected) and a read planned
    after both return hash-identical results, because the originals
    persist until vacuum."""
    data, index, src = compactable
    lo = src.agg(F.min("o_custkey")).first()[0]
    pred = f"o_custkey le {lo + 20}"
    expect = _rows(src.filter(F.col("o_custkey") <= lo + 20))

    # plan (collect the file list) BEFORE the compaction
    old_plan = read_skipping(spark, data, index, pred)
    out = cluster_compact(spark, data, index, ["o_custkey"], max_files=8)
    assert out["rewritten"] > 0

    # the pre-compaction plan still executes against intact files
    assert _rows(old_plan) == expect
    # a post-compaction plan agrees
    assert _rows(read_skipping(spark, data, index, pred)) == expect
    # vacuum with retention=2 keeps BOTH snapshots' files
    vacuum_unindexed(spark, data, index, keep_versions=2)
    assert _rows(old_plan) == expect
    assert _rows(read_skipping(spark, data, index, pred)) == expect
    # retention=1 reclaims the originals; the current plan still works
    removed = vacuum_unindexed(spark, data, index, keep_versions=1)
    assert removed, "originals should be reclaimed"
    assert _rows(read_skipping(spark, data, index, pred)) == expect
    assert set(list_parquet_files(data)) == referenced_files(index)


def test_time_travel_reads_pre_maintenance_snapshot(spark, compactable):
    """VERDICT r11 item 2's done-bar: after a data-CHANGING maintenance
    op (MERGE), as_of the prior version returns the table exactly as
    it was, while the current read sees the merge."""
    data, index, src = compactable
    v1 = current_version(index)
    before = _rows(read_indexed(spark, data, index))

    updates = src.filter(F.col("o_orderkey") <= 200).withColumn(
        "o_totalprice", F.col("o_totalprice") + F.lit(1000.0)
    )
    merge_upsert_files(spark, data, index, updates, "o_orderkey")
    v2 = current_version(index)
    assert v2 > v1

    assert _rows(read_indexed(spark, data, index, as_of=v1)) == before
    merged = _rows(read_indexed(spark, data, index))
    assert merged == _rows(
        src.join(updates.select("o_orderkey"), "o_orderkey", "left_anti")
        .unionByName(updates)
    )
    # as_of also composes with predicate pruning
    lo = src.agg(F.min("o_orderkey")).first()[0]
    assert _rows(
        read_skipping(spark, data, index, f"o_orderkey le {lo + 50}", as_of=v1)
    ) == _rows(src.filter(F.col("o_orderkey") <= lo + 50))
    # vacuum to current-only expires the v1 snapshot
    vacuum_unindexed(spark, data, index, keep_versions=1)
    with pytest.raises(FileNotFoundError):
        read_indexed(spark, data, index, as_of=v1)


def test_update_stats_index_does_not_readopt_retained_files(spark, compactable):
    """After a compaction, the dropped originals are still on disk
    (grace period).  update_stats_index must treat them as
    known-dropped, not as new files — re-adopting them would resurrect
    duplicate rows."""
    data, index, src = compactable
    n = src.count()
    cluster_compact(spark, data, index, ["o_custkey"], max_files=8)
    assert len(list_parquet_files(data)) > len(
        referenced_files(index, [current_version(index)])
    )
    delta = update_stats_index(spark, data, index)
    assert delta == {"added": 0, "removed": 0}
    assert read_indexed(spark, data, index).count() == n
    # a genuinely new append IS adopted
    src.limit(25).coalesce(1).write.mode("append").parquet(data)
    delta = update_stats_index(spark, data, index)
    assert delta["added"] == 1
    assert read_indexed(spark, data, index).count() == n + 25


def test_vacuum_dry_run_reports_without_deleting(spark, compactable):
    data, index, src = compactable
    cluster_compact(spark, data, index, ["o_custkey"], max_files=8)
    disk_before = set(list_parquet_files(data))
    would = vacuum_unindexed(spark, data, index, keep_versions=1, dry_run=True)
    assert would, "rewritten originals should be reported"
    assert set(list_parquet_files(data)) == disk_before  # nothing deleted
    assert list_versions(index) == [1, 2]  # no expiry either
    removed = vacuum_unindexed(spark, data, index, keep_versions=1)
    assert sorted(removed) == sorted(would)  # dry run told the truth


def test_concurrent_writers_cannot_clobber_or_lose_updates(spark, tmp_path):
    """Writer concurrency: atomic mkdir version allocation (no dir
    clobber) + optimistic publish — a writer whose change was computed
    from a stale base raises instead of silently dropping the other
    writer's rows; its staged version stays unpublished and readers
    never see it."""
    from columnar_analytics_engine_spark.manifest import (
        ConcurrentWriteError,
        write_manifest,
    )

    index = str(tmp_path / "idx")
    write_manifest(spark, index, spark.createDataFrame([("a",)], "file string"))

    # writer A computes from v1... meanwhile writer B publishes v2
    write_manifest(
        spark, index, spark.createDataFrame([("b",)], "file string"),
        expected_current=1,
    )
    assert current_version(index) == 2
    with pytest.raises(ConcurrentWriteError, match="moved from version 1"):
        write_manifest(
            spark, index, spark.createDataFrame([("stale",)], "file string"),
            expected_current=1,
        )
    # loser's version is staged-not-published; readers see the winner
    assert current_version(index) == 2
    assert _rows(read_manifest(spark, index)) == [("b",)]
    assert 3 in list_versions(index)  # staged orphan, vacuum-able
    # ...after the in-flight grace window (fresh orphans are spared)
    assert expire_versions(index, keep_last=2) == []
    assert expire_versions(index, keep_last=2, orphan_grace_sec=0.0) == [3]


def test_maintenance_ops_detect_concurrent_publish(spark, compactable):
    """cluster_compact/merge publish through expected_current: a
    manifest advanced underneath them (simulated concurrent writer)
    raises instead of losing that writer's update."""
    from columnar_analytics_engine_spark.manifest import (
        ConcurrentWriteError,
        read_manifest,
        write_manifest,
    )
    import columnar_analytics_engine_spark.layout as layout_mod

    data, index, src = compactable

    orig_overlap = layout_mod.overlap_candidates

    def racing_overlap(*a, **k):
        cand = orig_overlap(*a, **k)
        # another writer publishes AFTER this compaction planned
        write_manifest(
            spark, index, read_manifest(spark, index), publish=True
        )
        return cand

    layout_mod.overlap_candidates = racing_overlap
    try:
        with pytest.raises(ConcurrentWriteError):
            cluster_compact(spark, data, index, ["o_custkey"], max_files=8)
    finally:
        layout_mod.overlap_candidates = orig_overlap
    # the racing writer's publish is intact and data is unchanged
    n = read_indexed(spark, data, index).count()
    assert n == src.count()


def test_optimistic_publish_hammer_no_lost_updates(spark, tmp_path):
    """ADVICE r12 (medium): check-then-flip must be atomic.  Eight
    threads race retry-loops of read-base -> stage -> publish(expected=
    base); with the publish lock, every successful write_manifest is a
    LINEAR successor of the version it was computed from — no publish
    is ever shadowed.  (Before the lock, two same-base writers could
    both pass the check and the first flip vanished silently.)"""
    import threading

    from columnar_analytics_engine_spark.manifest import (
        ConcurrentWriteError,
        write_manifest,
    )

    index = str(tmp_path / "idx")
    write_manifest(spark, index, spark.createDataFrame([("seed",)], "file string"))
    # pre-build the tiny frames on the driver thread (Spark session use
    # is thread-safe; frame creation kept outside the race for speed)
    published = []  # (base, new_version) pairs, appended post-success
    lock = threading.Lock()
    errs = []

    def writer(i):
        try:
            for attempt in range(40):
                base = current_version(index)
                df = spark.createDataFrame([(f"w{i}-{attempt}",)], "file string")
                try:
                    v = write_manifest(spark, index, df, expected_current=base)
                except ConcurrentWriteError:
                    continue  # stale base: re-read and retry
                with lock:
                    published.append((base, v))
                return
            errs.append(f"writer {i} starved")
        except Exception as e:  # pragma: no cover
            errs.append(repr(e))

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs, errs
    assert len(published) == 8
    # linearizability: the (base -> version) edges chain without forks —
    # each successful publish was computed from a DISTINCT base (two
    # successes from the same base would mean one shadowed the other)
    bases = [b for b, _v in published]
    assert len(set(bases)) == len(bases), f"forked history: {sorted(published)}"
    # and the final pointer is one of the published versions
    assert current_version(index) in {v for _b, v in published}


def test_timestamp_time_travel(spark, tmp_path):
    """TIMESTAMP AS OF (Delta shape): each publish journals its
    instant; version_at(ts) resolves the version live at ts, and
    as_of that version reads the table as it was."""
    import time as _time

    from columnar_analytics_engine_spark.manifest import (
        publish_log,
        version_at,
    )

    index = str(tmp_path / "idx")
    stamps = []
    for name in ["a", "b", "c"]:
        write_manifest(
            spark, index, spark.createDataFrame([(name,)], "file string")
        )
        stamps.append(_time.time())
        _time.sleep(0.05)
    log = publish_log(index)
    assert [v for v, _t in log] == [1, 2, 3]
    assert all(t1 <= t2 for (_, t1), (_, t2) in zip(log, log[1:]))
    # at each post-publish instant, the then-current version resolves
    for i, ts in enumerate(stamps):
        assert version_at(index, ts) == i + 1
    assert version_at(index, _time.time()) == 3
    assert _rows(read_manifest(spark, index, as_of=version_at(index, stamps[0]))) == [("a",)]
    # before the first publish: a clear error naming the earliest instant
    with pytest.raises(FileNotFoundError, match="earliest journaled"):
        version_at(index, log[0][1] - 10.0)
    # a staged-unpublished version never enters the journal
    write_manifest(
        spark, index, spark.createDataFrame([("d",)], "file string"),
        publish=False,
    )
    assert [v for v, _t in publish_log(index)] == [1, 2, 3]
