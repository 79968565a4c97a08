"""Row-level deletes on immutable Parquet: deletion vectors (merge-on-read).

The reference's files — like Parquet — are immutable; the only native
way to delete a row is to rewrite its file.  At 100 TB a GDPR-style
"delete these 10k rows scattered across the corpus" cannot rewrite
terabytes, so every lakehouse format grew MERGE-ON-READ deletes (Delta
deletion vectors, Iceberg position deletes, Hive ACID delete deltas):
record (file, row position) tombstones out-of-line, have readers
subtract them, and fold them into a physical rewrite later.  This is
that layer on plain Parquet, built on Spark's ``_metadata.row_index``
(the stable position of a row within its immutable file):

* :func:`delete_where` — one scan of the matching files turns a SQL
  predicate into (file, row_index) tombstones; the commit appends ONE
  Parquet file holding only the new tombstones to the DV table (a
  directory of such files).  Write cost is proportional to the
  DELETED rows, not the table.
* :func:`read_with_deletes` — the merge-on-read path: scan minus a
  broadcast anti-join against the DV table.  Exact; costs one
  broadcast of the (delete-count-sized) DV.
* :func:`compact_deletes` — the fold: rewrite ONLY the files that
  carry tombstones (dropping those rows), publish the next stats-index
  manifest version, clear the folded tombstones (the rest rewritten as
  one DV file, then the old DV files removed) — the same stage →
  rename-in → versioned-manifest-publish discipline as
  ``layout.cluster_compact``; originals persist for in-flight readers
  until ``layout.vacuum_unindexed`` reclaims them.

The DV table and the manifests are metadata, read and written on the
driver with ``pyarrow.parquet`` (:func:`dv_table`,
``manifest.manifest_table``); Spark sees them only as Arrow-backed
local relations, so a delete commit runs one Spark job: the scan.

Versioned delete commits (round 14): on a MAINTAINED table (pass
``index_path``), every :func:`delete_where` / :func:`delete_keys` is a
COMMIT — tombstones are tagged with a fresh ``_commit_id``, a new
manifest version is staged whose ``_DV_COMMITS`` sidecar
(``manifest.dv_commits``) adds that id, and the version publishes
under the usual optimistic-concurrency check.  Consequences:

* The change feed (``cdf.read_changes``) emits DV deletes AT COMMIT
  TIME: the table state and its feed agree at every version, the
  Delta-CDF contract (the r13 gap where deletes surfaced only at fold
  time is closed).
* ``as_of`` reads apply EXACTLY the tombstones committed as of that
  version (``read_with_deletes(as_of=...)``), so time travel now
  composes with both ``delete_where`` and ``compact_deletes``.
* Crash safety: tombstones are appended BEFORE the version publishes;
  a crash in between leaves commit-tagged tombstones no sidecar ever
  names — invisible to every sidecar-filtered read, vacuum-able dead
  rows.  (On a table that has never done a versioned delete there is
  no sidecar and ALL tombstones apply — the legacy contract, kept for
  plain ``dv_path``-only tables and pre-upgrade DV files, whose rows
  read as commit id ``__legacy__``.)
* Folding keeps commit-tagged tombstones in the DV table until their
  files are referenced by NO retained manifest version (a pre-fold
  ``as_of`` read or feed interval still needs them); legacy-tagged
  tombstones clear at fold exactly as before.

Maintenance ordering contract: ``layout.cluster_compact`` reads files
WITHOUT consulting DVs (it moves physical rows), so fold deletes
(``compact_deletes``) before re-clustering a table that has live
tombstones — the docstring of each function repeats this.

Determinism note for the oracle gate: deletes are defined by a
predicate, so the surviving ROWS are deterministic even though file
names and row positions are not; every registered query aggregates
over the survivors.
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from columnar_analytics_engine_spark.io import _stat_identity, read_files, stat_memo

# commit id for tombstones written outside the versioned-commit
# protocol (no index_path, or a pre-r14 DV file): ALWAYS applied
LEGACY_COMMIT = "__legacy__"


_SCHEME = "^file:(//)?"


def _strip_scheme(c: Column) -> Column:
    """``_metadata.file_path`` is a URI (``file:/...``); the index and
    manifest layers use plain paths — normalize to match."""
    return F.regexp_replace(c, _SCHEME, "")


# the DV frame's columns (``file``, ``row_index``, ``_commit_id``
# renamed) and the anti-join condition of :func:`subtract_tombstones`
# over them and the scan's hidden ``_metadata``: one SQL text, so the
# join needs no alias, tag columns or Column builders
_DV_COLS = ["__dv_file", "__dv_row_index", "__dv_commit_id"]
_TOMBSTONED = (
    f"regexp_replace(_metadata.file_path, '{_SCHEME}', '') = __dv_file"
    " AND _metadata.row_index = __dv_row_index"
)


DV_ARROW_SCHEMA = pa.schema(
    [("file", pa.string()), ("row_index", pa.int64()), ("_commit_id", pa.string())]
)


def dv_table(dv_path: str, commit_ids: list[str] | None = None):
    """The DV table as a ``pyarrow.Table`` read on the driver (DV tables
    are delete-count-sized), normalized to the 3-column schema: rows of
    pre-r14 DV files lack ``_commit_id`` and read as
    :data:`LEGACY_COMMIT` (always applied).  With ``commit_ids`` only
    legacy rows plus those commits are kept; ``None`` keeps everything
    (all-apply)."""
    import pyarrow.compute as pc

    from columnar_analytics_engine_spark.manifest import read_parquet_parts

    tbl = read_parquet_parts(dv_path, schema=DV_ARROW_SCHEMA)
    tbl = tbl.set_column(
        2, "_commit_id", pc.fill_null(tbl["_commit_id"], LEGACY_COMMIT)
    )
    if commit_ids is None:
        return tbl
    keep = pa.array([LEGACY_COMMIT, *commit_ids], pa.string())
    return tbl.filter(pc.is_in(tbl["_commit_id"], value_set=keep))


def _dv_frame(spark: SparkSession, tbl: pa.Table) -> DataFrame:
    """A :func:`dv_table` as an Arrow-backed local relation with the
    :data:`_DV_COLS` names, the DV side of :func:`subtract_tombstones`."""
    return spark.createDataFrame(tbl.rename_columns(_DV_COLS))


# :func:`_dv` frames, one per DV dir, as ``io.read_table`` memoizes
# tables: a DataFrame is an immutable plan, rebuilt here only when a DV
# file is added, removed or rewritten, the commit set changes, or the
# session is a different application.  Building it (Arrow transfer,
# filter, hint) is most of a merge-on-read's construction cost.
_DV_DF_CACHE: dict[str, tuple[tuple, DataFrame]] = {}


def _dv(
    spark: SparkSession, dv_path: str, commit_ids: list[str] | None = None
) -> DataFrame:
    """:func:`dv_table` as the broadcast side of every tombstone
    anti-join (:func:`_dv_frame`, broadcast-hinted), memoized.  The
    commit filter runs in Spark, not Arrow: a local relation prints no
    rows, so only the filter keeps plans over different commit sets
    distinguishable."""
    def _build() -> DataFrame:
        dv = _dv_frame(spark, dv_table(dv_path))
        if commit_ids is not None:
            dv = dv.where(F.col("__dv_commit_id").isin([LEGACY_COMMIT, *commit_ids]))
        return dv.hint("broadcast")

    ident = _stat_identity(dv_path)
    key = None if ident is None else (
        spark.sparkContext.applicationId, ident,
        None if commit_ids is None else tuple(commit_ids),
    )
    return stat_memo(_DV_DF_CACHE, dv_path, key, _build)


def _dv_lock(dv_path: str):
    """The DV read-modify-write lock — separate from the manifest
    publish lock, so there is no re-entrancy."""
    from columnar_analytics_engine_spark.manifest import mkdir_lock

    return mkdir_lock(
        f"{dv_path.rstrip('/')}.lock", stale_sec=600.0, timeout_sec=600.0
    )


def _clear_tombstones(dv_path: str, files: list[str]) -> int:
    """Drop every tombstone on ``files``: the rest is written as ONE new
    DV file, then the old DV files are removed (a reader in between
    sees duplicate tombstones, which no anti-join minds — never missing
    ones).  Returns the number of tombstones dropped."""
    import pyarrow.compute as pc

    from columnar_analytics_engine_spark.manifest import parquet_parts, write_parquet_part

    with _dv_lock(dv_path):
        old = parquet_parts(dv_path)
        tbl = dv_table(dv_path)
        keep = tbl.filter(
            pc.invert(pc.is_in(tbl["file"], value_set=pa.array(files, pa.string())))
        )
        if keep.num_rows == tbl.num_rows:
            return 0
        # written even when empty: the dir stays a readable Parquet table
        write_parquet_part(dv_path, keep)
        for f in old:
            os.remove(f)
    return tbl.num_rows - keep.num_rows


def applied_commit_ids(
    index_path: str | None, as_of: int | None = None
) -> list[str] | None:
    """The DV commit ids that APPLY at a version (legacy rows always
    apply and are implied), or ``None`` when ALL tombstones apply — a
    plain table, or one that never did a versioned delete (no
    ``_DV_COMMITS`` sidecar anywhere: the legacy contract)."""
    if index_path is None:
        return None
    from columnar_analytics_engine_spark.manifest import dv_commits

    side = dv_commits(index_path, as_of)
    if side is None:
        # distinguish "this version predates the first versioned
        # delete" (an as_of older than the first sidecar: zero commits
        # applied then) from "this table never versioned a delete"
        # (no sidecar anywhere: the legacy all-apply contract)
        if as_of is None or dv_commits(index_path) is None:
            return None
        side = {"commits": []}
    return list(side.get("commits", []))


def _raw_scan(spark: SparkSession, data_path: str, index_path: str | None):
    """Raw (un-projected, ``_metadata``-addressable) scan of the table:
    the manifest's file list when an index is given — a maintained
    table's directory may hold pre-vacuum originals that a plain
    listing would double-count (and tombstoning THOSE would bloat the
    DV with references to files vacuum later removes) — else the plain
    directory read.  Predicates evaluate against physical column names
    (on a schema-evolved table, delete by a column every cohort
    physically carries, e.g. the primary key)."""
    if index_path is None:
        return spark.read.parquet(data_path)
    from columnar_analytics_engine_spark.manifest import manifest_files

    return read_files(spark, data_path, manifest_files(index_path))


def _commit_tombstones(
    spark: SparkSession,
    dv_path: str,
    hits: DataFrame,
    index_path: str | None,
) -> int:
    """Shared commit step for :func:`delete_where` / :func:`delete_keys`:
    append ONE DV file holding the new (file, row_index) tombstones and
    — on a VERSIONED table — publish the delete as a manifest version
    whose ``_DV_COMMITS`` sidecar names the fresh commit id (see the
    module docstring's crash-safety / feed contract).  Idempotent:
    pairs already tombstoned are not re-added, and a no-op delete
    publishes no version.  Returns the number of NEW tombstones."""
    import uuid

    from columnar_analytics_engine_spark.manifest import (
        copy_manifest,
        current_version,
        dv_commits,
        publish_version,
        write_dv_commits,
        write_parquet_part,
    )

    expected = current_version(index_path) if index_path is not None else None
    commit_id = uuid.uuid4().hex if expected is not None else LEGACY_COMMIT
    keys = ["file", "row_index"]
    # the one Spark job: the scan of the matching files
    found = (
        hits.select(*keys).toArrow()
        .cast(DV_ARROW_SCHEMA.remove(2))
        .group_by(keys).aggregate([])
    )
    # the DV read-check-append is a lost-update window under
    # concurrent deleters — serialize it with a sibling lock
    with _dv_lock(dv_path):
        # idempotency is judged against the APPLYING tombstones only:
        # a pair left by a crashed/conflicted commit (id in no sidecar)
        # is inert and must not suppress a live re-delete of the same
        # row — it is re-added under the new commit id (duplicate
        # pairs across commit ids are harmless to every anti-join)
        applied = dv_table(dv_path, applied_commit_ids(index_path)).select(keys)
        fresh = found.join(applied, keys=keys, join_type="left anti")
        n_new = fresh.num_rows
        if n_new:
            os.makedirs(dv_path, exist_ok=True)
            write_parquet_part(
                dv_path,
                fresh.select(keys).append_column(
                    "_commit_id", pa.array([commit_id] * n_new, pa.string())
                ),
            )
    if expected is not None and n_new > 0:
        # stage a same-file-set manifest version, add the commit to its
        # sidecar, publish under the OCC check — tombstones are durable
        # BEFORE the flip, so a reader resolving the new version always
        # sees its deletes (a crash in between leaves the commit id
        # unreferenced and the tombstones inert)
        version = copy_manifest(index_path, expected)
        prior = dv_commits(index_path, expected) or {"commits": []}
        write_dv_commits(
            index_path, version,
            list(prior.get("commits", [])) + [commit_id], dv_path,
        )
        publish_version(index_path, version, expected_current=expected)
    return n_new


def delete_where(
    spark: SparkSession,
    data_path: str,
    dv_path: str,
    predicate: str,
    index_path: str | None = None,
) -> int:
    """Tombstone every row of ``data_path`` matching the SQL
    ``predicate``: append (file, row_index) pairs to the DV table at
    ``dv_path`` (created on first use).  Returns the number of NEW
    tombstones.  Idempotent — re-deleting already-deleted rows adds
    nothing (the DV table is kept distinct), and the data files are
    untouched.  On a MAINTAINED table pass ``index_path`` so the scan
    plans from the manifest (see :func:`_raw_scan`) AND the delete
    publishes as a versioned COMMIT (module docstring): the change
    feed shows it immediately and ``as_of`` reads apply exactly the
    tombstones committed as of each version."""
    hits = (
        _raw_scan(spark, data_path, index_path)
        .select(
            _strip_scheme(F.col("_metadata.file_path")).alias("file"),
            F.col("_metadata.row_index").alias("row_index"),
        )
        # predicate columns resolve through the projection (Spark's
        # missing-reference resolution), same as the pre-r12 shape
        .where(F.expr(predicate))
    )
    return _commit_tombstones(spark, dv_path, hits, index_path)


def delete_keys(
    spark: SparkSession,
    data_path: str,
    dv_path: str,
    keys: DataFrame,
    key_col: str,
    index_path: str | None = None,
) -> int:
    """Tombstone every row whose ``key_col`` appears in ``keys`` (a
    one-column DataFrame) — the key-set twin of :func:`delete_where`,
    for deletes computed by another operator (a dedup loser list, a
    GDPR id batch) rather than expressible as a predicate.  One
    broadcast semi-join scan of the matching files; idempotent like
    ``delete_where``; ``index_path`` plans the scan from the manifest
    on maintained tables and publishes the delete as a versioned
    COMMIT (module docstring)."""
    k = keys.toDF("__k").where(F.col("__k").isNotNull()).distinct()
    hits = (
        _raw_scan(spark, data_path, index_path)
        .join(F.broadcast(k), F.col(key_col) == F.col("__k"), "left_semi")
        .select(
            _strip_scheme(F.col("_metadata.file_path")).alias("file"),
            F.col("_metadata.row_index").alias("row_index"),
        )
    )
    return _commit_tombstones(spark, dv_path, hits, index_path)


def read_with_deletes(
    spark: SparkSession,
    data_path: str,
    dv_path: str,
    index_path: str | None = None,
    predicate: str | None = None,
    bloom_path: str | None = None,
    as_of: int | None = None,
    as_of_ts: float | None = None,
) -> DataFrame:
    """Merge-on-read scan: the dataset minus its tombstones (broadcast
    anti-join on (file, row_index) — DV tables are delete-count-sized).
    With ``index_path`` (+ optional ``predicate``/``bloom_path``) the
    scan first prunes files through the stats index (the plan of
    ``skipping.read_skipping``; without a predicate, the manifest's
    full file list — the maintenance-safe scan, not a silent
    fall-through to a directory listing) and reads them with
    ``evolution.read_evolved(dv_path=...)``, the one read of a
    maintained table: tombstones subtract inside each scan (each
    cohort scan on a schema-EVOLVED table) and the predicate
    re-applies on logical columns — the layers compose because all
    are pure row-set restrictions.  Without ``index_path`` the plain
    directory read minus the tombstones.

    Time travel: ``as_of=N`` (a retained manifest version) or
    ``as_of_ts=<epoch seconds>`` (resolved through the publish journal,
    ``manifest.version_at``) reads the table exactly as published
    then, INCLUDING its deletes — only tombstones whose commit is in
    that version's ``_DV_COMMITS`` sidecar apply (versioned deletes
    compose with time travel; see the module docstring)."""
    from columnar_analytics_engine_spark.skipping import _read_planned, _resolve_as_of

    if index_path is None:
        if as_of_ts is not None:
            raise ValueError("as_of_ts requires index_path")
        return subtract_tombstones(
            _raw_scan(spark, data_path, None), _dv(spark, dv_path)
        )
    as_of = _resolve_as_of(index_path, as_of, as_of_ts)
    return _read_planned(
        spark, data_path, index_path, predicate, bloom_path, as_of,
        dv_path=dv_path, dv_commit_ids=applied_commit_ids(index_path, as_of),
    )


def subtract_tombstones(df: DataFrame, dv: DataFrame) -> DataFrame:
    """``df`` (a raw, ``_metadata``-addressable file scan) minus the
    rows the DV frame ``dv`` (:func:`_dv`, or a :func:`_dv_frame` the
    caller hinted) tombstones: a broadcast anti-join on (file,
    row_index).  A left-anti join keeps ``df``'s columns, so nothing
    is added and dropped: every DataFrame step is py4j round trips and
    a JVM analysis pass, and this runs on every merge-on-read."""
    return df.join(dv, F.expr(_TOMBSTONED), "left_anti")


def compact_deletes(
    spark: SparkSession,
    data_path: str,
    dv_path: str,
    index_path: str,
    max_files: int = 64,
) -> dict:
    """Fold tombstones into the data: rewrite up to ``max_files`` of
    the tombstone-carrying files WITHOUT their deleted rows, publish
    via the manifest discipline (stage sibling → rename into the
    partition (or root) dir → versioned stats-index publish → clear
    folded tombstones; originals persist until
    ``layout.vacuum_unindexed``), and return counts.  Each run's I/O is bounded by the
    affected files, so a 10k-row delete on a 100 TB table folds by
    rewriting only the files those rows live in.  Files whose EVERY
    row is deleted are dropped without a rewrite.  Run this before
    ``layout.cluster_compact`` when tombstones exist — the re-cluster
    path moves physical rows and does not consult DVs.

    Hive-partitioned layouts (e.g. the streaming sink's ``batch_id=N``
    dirs) and schema cohorts are handled by the shared rewrite loop
    (``layout.rewrite_groups``): each partition directory's files are
    rewritten IN PLACE, one group per cohort, single files included."""
    from columnar_analytics_engine_spark.layout import rewrite_groups
    from columnar_analytics_engine_spark.manifest import (
        current_version,
        dv_commits,
        manifest_files,
        referenced_files,
    )

    expected = current_version(index_path)
    dv_all = dv_table(dv_path)
    # versioned-delete tables fold only COMMITTED tombstones (an
    # in-flight or crashed commit's rows must not fold) and clear a
    # tombstone only once NO retained version references its file —
    # pre-fold as_of reads and feed intervals still need it; legacy
    # tables keep the original fold-and-clear contract
    versioned = dv_commits(index_path) is not None
    dv = dv_table(dv_path, applied_commit_ids(index_path)) if versioned else dv_all
    current = set(manifest_files(index_path))
    dv_files = sorted(set(dv.column("file").to_pylist()))
    if versioned:
        clearable = sorted(
            set(dv_all.column("file").to_pylist())
            - referenced_files(index_path)
        )
    else:
        # tombstones on files the CURRENT manifest no longer lists are
        # dead weight (those rows are invisible to every read path; the
        # files may already be vacuumed) — cleared without any rewrite
        clearable = [f for f in dv_files if f not in current]
    affected = [f for f in dv_files if f in current][:max_files]
    if not affected and not clearable:
        return {"folded_files": 0, "new_files": 0, "tombstones_cleared": 0}
    if not affected:
        cleared = _clear_tombstones(dv_path, clearable)
        return {"folded_files": 0, "new_files": 0, "tombstones_cleared": cleared}
    dv = _dv_frame(spark, dv).hint("broadcast")
    def fold(df: DataFrame, files: list[str]) -> DataFrame:
        return subtract_tombstones(df, dv).coalesce(max(1, len(files) // 4))

    done = rewrite_groups(
        spark, data_path, index_path, affected, fold, expected, min_files=1
    )
    # versioned tables clear only retention-expired tombstones (the
    # folded ones stay until their files leave every retained version);
    # legacy tables clear folded + dead as before
    drop = clearable if versioned else affected + clearable
    cleared = _clear_tombstones(dv_path, drop) if drop else 0
    return {
        "folded_files": len(affected),
        "new_files": done["new_files"],
        "tombstones_cleared": cleared,
    }
