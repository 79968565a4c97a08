"""Change-data-feed between manifest versions: the incremental-read
primitive a downstream pipeline over a maintained 100 TB table needs.

``versioned.diff_versions`` diffs whole-dataset snapshots — two full
scans.  The versioned-manifest tier can do radically better, because
a manifest version IS a file set: files present in BOTH versions
contributed no change, so the diff is

    added rows   = rows of files only in ``to_version``
    removed rows = rows of files only in ``from_version``

— a METADATA-ONLY plan whose scan cost is bounded by the CHANGED
files, never the table (the Delta change-data-feed shape).  A
maintenance rewrite (compaction, MERGE) rewrites unchanged rows into
new files, so the raw file diff contains identical rows on both
sides; :func:`read_changes` therefore NETS by full row value —
``+1`` per added-file row, ``-1`` per removed-file row, grouped over
the diff rows only — and emits rows whose net count is non-zero:

* pure insert → ``(+1)`` → ``_change_type='insert'``
* folded delete → ``(-1)`` → ``'delete'``
* update → old value ``'delete'`` + new value ``'insert'``
* compaction-moved unchanged row → ``+1-1`` → suppressed

which makes the feed independent of HOW maintenance arranged the
bytes — exactly what an incremental consumer wants, and what makes it
replayable in ANSI SQL for the oracle gate.

Merge-on-read deletes enter the feed AT COMMIT TIME (round 14): a
versioned delete (``deletes.delete_where``/``delete_keys`` with
``index_path``) publishes a manifest version whose ``_DV_COMMITS``
sidecar names the tombstone commit, and :func:`read_changes` nets each
side minus that side's committed tombstones — so the table and its
feed agree at every version (Delta's CDF contract), and the later
physical fold (``compact_deletes``) is feed-silent because both sides
of its file rewrite carry the same already-deleted row set.

Schema evolution composes: both sides read through
``evolution.read_evolved`` under the CURRENT logical schema (cohort
projections reconcile physical differences), mirroring the evolution
module's documented spec-is-current-only contract.

Reference anchor: the snapshot-read bar of the reference's
``tests/test_corruption.cpp``-style never-changing results, extended
to deltas between snapshots.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

CHANGE_TYPE = "_change_type"
CHANGE_COUNT = "_change_count"


def read_cursor(cursor_path: str) -> int | None:
    """The last manifest version a consumer finished processing, or
    ``None`` before the first :func:`advance_cursor`."""
    import os

    try:
        with open(cursor_path) as fh:
            return int(fh.read().strip())
    except (FileNotFoundError, ValueError):
        return None


def advance_cursor(cursor_path: str, version: int) -> None:
    """Record that the feed up to ``version`` was consumed (tmp +
    ``os.replace`` — atomic).  Call AFTER the downstream effect of the
    batch is durable: a crash between processing and the advance
    replays the same changes next time (at-least-once), and the feed's
    NET semantics make a replay idempotent for consumers that apply it
    as state (the signed-delta rollup shape), never double-counting."""
    import os
    import uuid

    os.makedirs(os.path.dirname(cursor_path) or ".", exist_ok=True)
    tmp = f"{cursor_path}.tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as fh:
        fh.write(f"{version}\n")
    os.replace(tmp, cursor_path)


def consume_changes(
    spark: SparkSession,
    data_path: str,
    index_path: str,
    cursor_path: str,
    key: str | None = None,
    dv_path: str | None = None,
) -> tuple[DataFrame | None, int, int]:
    """Incremental-consumer step: the net changes between the cursor's
    last consumed version and the current published one — the loop a
    downstream pipeline runs instead of rescanning snapshots.  Returns
    ``(changes, from_version, to_version)``; ``changes`` is ``None``
    when nothing new was published.  Does NOT advance the cursor — the
    caller calls :func:`advance_cursor(cursor_path, to_version)` once
    its downstream effect is durable (consume → apply → advance; a
    crash replays, net semantics keep the replay idempotent).

    The cursor must not fall behind the index's retention window
    (``vacuum_unindexed(keep_versions=N)``): a consumer slower than N
    maintenance cycles gets the same FileNotFoundError an expired
    ``as_of`` read gets — size retention to the slowest consumer, the
    contract every table format documents."""
    from columnar_analytics_engine_spark.manifest import current_version

    cur = current_version(index_path)
    if cur is None:
        raise FileNotFoundError(f"no published manifest at {index_path}")
    last = read_cursor(cursor_path)
    if last is None:
        # first consumption: everything up to the current version is
        # "new" — emit the current snapshot as inserts so a consumer
        # can bootstrap from the feed alone.  The snapshot subtracts
        # the tombstones committed as of ``cur`` (sidecar-discovered
        # DV table), so the bootstrap equals what a reader sees.
        from columnar_analytics_engine_spark.deletes import (
            applied_commit_ids,
        )
        from columnar_analytics_engine_spark.evolution import read_evolved
        from columnar_analytics_engine_spark.manifest import dv_commits

        side = dv_commits(index_path, cur)
        dvp = dv_path or (side.get("dv_path") if side else None)
        base = read_evolved(
            spark, data_path, index_path, as_of=cur,
            dv_path=dvp,
            dv_commit_ids=applied_commit_ids(index_path, cur) if dvp else None,
        )
        out = base.withColumn(CHANGE_TYPE, F.lit("insert")).withColumn(
            CHANGE_COUNT, F.lit(1).cast("long")
        )
        return out, 0, cur
    if last == cur:
        return None, last, cur
    return (
        read_changes(
            spark, data_path, index_path, last, cur, key=key, dv_path=dv_path
        ),
        last,
        cur,
    )


def changed_files(
    spark: SparkSession, index_path: str, from_version: int, to_version: int
) -> dict[str, list[str]]:
    """The manifest file-set diff — metadata only, no data I/O.
    Returns ``{"added": [...], "removed": [...], "both": [...]}``
    (files only in ``to_version`` / only in ``from_version`` / in
    both)."""
    from columnar_analytics_engine_spark.manifest import manifest_files

    f_from = set(manifest_files(index_path, as_of=from_version))
    f_to = set(manifest_files(index_path, as_of=to_version))
    return {
        "added": sorted(f_to - f_from),
        "removed": sorted(f_from - f_to),
        "both": sorted(f_from & f_to),
    }


def read_changes(
    spark: SparkSession,
    data_path: str,
    index_path: str,
    from_version: int,
    to_version: int,
    key: str | None = None,
    dv_path: str | None = None,
) -> DataFrame:
    """Net row-level changes between two retained manifest versions:
    the table's columns plus ``_change_type`` (``'insert'`` /
    ``'delete'``) and ``_change_count`` (net multiplicity, ≥1).  Both
    versions must still be retained (un-vacuumed) — the same contract
    as ``as_of`` time travel.  Scan cost is bounded by the files that
    CHANGED between the versions; files in both contribute nothing and
    are never read — EXCEPT files that picked up new deletion-vector
    commits (below), which are read on both sides so their newly
    hidden rows net out as deletes.

    Versioned DV deletes (``deletes.delete_where(index_path=...)``)
    surface AT COMMIT TIME: each side's rows are read minus the
    tombstones committed as of THAT side's version (the ``_DV_COMMITS``
    sidecar), and unchanged files carrying tombstones from commits in
    ``(from, to]`` enter the netting on both sides — surviving rows
    cancel, newly deleted rows come out as ``'delete'``.  So the feed
    and the table agree at every version: a DV delete shows the moment
    it commits, and the later physical fold is feed-silent.  The DV
    table location is discovered from the sidecar (or passed as
    ``dv_path``); a table that never versioned a delete skips all of
    this (legacy file-diff-only feed).

    With ``key`` (a column unique per snapshot — the MERGE contract),
    a key carrying both a delete and an insert is classified as an
    UPDATE: the old row becomes ``'update_preimage'`` and the new row
    ``'update_postimage'`` (Delta CDF's four-type shape), letting a
    consumer apply updates in place instead of delete+insert.  The
    classification is one keyed window over the net diff rows — never
    data-sized."""
    from columnar_analytics_engine_spark.deletes import (
        applied_commit_ids,
        dv_table,
    )
    from columnar_analytics_engine_spark.evolution import read_evolved
    from columnar_analytics_engine_spark.manifest import dv_commits

    if from_version == to_version:
        diff = {"added": [], "removed": [], "both": []}
    else:
        diff = changed_files(spark, index_path, from_version, to_version)

    side_from = dv_commits(index_path, from_version)
    side_to = dv_commits(index_path, to_version)
    versioned_dv = side_from is not None or side_to is not None
    if dv_path is None and versioned_dv:
        for s in (side_to, side_from):
            if s and s.get("dv_path"):
                dv_path = s["dv_path"]
                break
    ids_from = applied_commit_ids(index_path, from_version) if versioned_dv else None
    ids_to = applied_commit_ids(index_path, to_version) if versioned_dv else None
    use_dv = versioned_dv and dv_path is not None
    # unchanged files that picked up tombstones from commits in
    # (from, to] — the only "both" files whose state changed
    dv_delta_files: list[str] = []
    if use_dv and diff["both"]:
        new_commits = sorted(set(ids_to or []) - set(ids_from or []))
        if new_commits:
            import pyarrow as pa
            import pyarrow.compute as pc

            dv = dv_table(dv_path)
            dv = dv.filter(pc.is_in(dv["_commit_id"], value_set=pa.array(new_commits)))
            dv_delta_files = sorted(
                set(dv.column("file").to_pylist()) & set(diff["both"])
            )

    def side(files: list[str], as_of: int, cnt: int, ids) -> DataFrame | None:
        if not files:
            return None
        rows = read_evolved(
            spark, data_path, index_path, as_of=as_of, files=files,
            dv_path=dv_path if use_dv else None, dv_commit_ids=ids,
        )
        return rows.withColumn(CHANGE_COUNT, F.lit(cnt))

    added = side(diff["added"] + dv_delta_files, to_version, 1, ids_to)
    removed = side(diff["removed"] + dv_delta_files, from_version, -1, ids_from)
    if added is None and removed is None:
        base = read_evolved(spark, data_path, index_path, as_of=to_version)
        return (
            base.withColumn(CHANGE_TYPE, F.lit("insert"))
            .withColumn(CHANGE_COUNT, F.lit(1).cast("long"))
            .limit(0)
        )
    u = added if removed is None else (
        removed if added is None else added.unionByName(removed)
    )
    cols = [c for c in u.columns if c != CHANGE_COUNT]
    net = (
        u.groupBy(*cols)
        .agg(F.sum(CHANGE_COUNT).alias("__net"))
        .filter(F.col("__net") != 0)
    )
    out = net.select(
        *cols,
        F.when(F.col("__net") > 0, F.lit("insert"))
        .otherwise(F.lit("delete"))
        .alias(CHANGE_TYPE),
        F.abs(F.col("__net")).cast("long").alias(CHANGE_COUNT),
    )
    if key is None:
        return out
    from pyspark.sql import Window as W

    w = W.partitionBy(key)
    is_ins = (F.col(CHANGE_TYPE) == "insert").cast("int")
    has_both = (F.max(is_ins).over(w) == 1) & (
        F.min(is_ins).over(w) == 0
    )
    return out.withColumn(
        CHANGE_TYPE,
        F.when(
            has_both & (F.col(CHANGE_TYPE) == "insert"),
            F.lit("update_postimage"),
        )
        .when(
            has_both & (F.col(CHANGE_TYPE) == "delete"),
            F.lit("update_preimage"),
        )
        .otherwise(F.col(CHANGE_TYPE)),
    )


def read_changes_versioned(
    spark: SparkSession,
    data_path: str,
    index_path: str,
    from_version: int,
    to_version: int,
    key: str | None = None,
    dv_path: str | None = None,
) -> DataFrame:
    """Per-COMMIT change attribution — Delta CDF's ``_commit_version``
    / ``_commit_timestamp`` columns: instead of netting the whole
    interval into one anonymous delta (:func:`read_changes`), walk the
    PUBLISHED versions in ``(from_version, to_version]`` (resolved
    from the ``_HISTORY`` journal, so never-published orphan stages are
    skipped) and emit each step's net feed tagged with the version
    that published it and the journaled publish instant (epoch
    seconds, double).  An auditor or downstream CDC replicator gets
    exactly which maintenance commit produced each row change; a
    feed-silent commit (compaction, fold) contributes nothing.  Cost
    is the sum of the steps' change-bounded feeds — still never the
    table.  Versions must all be retained, same as ``read_changes``."""
    from columnar_analytics_engine_spark.manifest import publish_log

    published_at: dict[int, float] = {}
    order: list[int] = []
    for v, ts in publish_log(index_path):
        if from_version < v <= to_version and v not in published_at:
            order.append(v)
        if from_version < v <= to_version:
            published_at[v] = ts  # re-publish: keep the latest instant
    parts: list[DataFrame] = []
    prev = from_version
    for v in order:
        step = read_changes(
            spark, data_path, index_path, prev, v, key=key, dv_path=dv_path
        )
        parts.append(
            step.withColumn("_commit_version", F.lit(v).cast("long"))
            .withColumn(
                "_commit_timestamp",
                F.lit(published_at[v]).cast("double"),
            )
        )
        prev = v
    if not parts:
        base = read_changes(
            spark, data_path, index_path, to_version, to_version,
            key=key, dv_path=dv_path,
        )
        return (
            base.withColumn("_commit_version", F.lit(0).cast("long"))
            .withColumn("_commit_timestamp", F.lit(0.0))
            .limit(0)
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
