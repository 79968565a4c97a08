"""Zero-copy table branches: clone a manifest snapshot, diverge, and
vacuum without destroying either branch.

A manifest version IS the table (an immutable file list behind a
pointer — ``manifest.py``), so "copy the table" needs no data I/O:
:func:`clone_table` writes the source's current (or ``as_of``)
manifest as version 1 of a NEW index, and the clone is immediately a
first-class table over the SAME parquet files — readable through every
index-planned surface, writable through every maintenance op
(``merge_upsert_files``, ``cluster_compact``, deletes, evolution), and
snapshot-isolated from the source: each branch's writes publish new
files under its own manifest, and rewrites never mutate shared bytes
(the publish discipline stages new files and only ever DROPS
references).  This is Delta's shallow clone / Iceberg's snapshot-ref
branching on plain Parquet — the primitive behind dev/test sandboxes
over a 100 TB production table (clone in milliseconds, experiment,
throw away) and write-audit-publish flows.

The one shared-storage hazard is RETENTION, same as Delta documents
for shallow clones: the source's ``vacuum_unindexed`` only knows the
source's retained versions, so it would happily delete files only a
branch still references (and a branch's vacuum, the source's).
``layout.vacuum_unindexed(extra_indexes=...)`` is the branch-aware
answer: every index over the directory joins the referenced-files
union — one listing, one plan, nothing a live branch references dies.
:func:`family_indexes` records the family in a ``_BRANCHES`` sidecar
at clone time so an operator can pass it without bookkeeping.

Schema/cluster-spec sidecars (``_SCHEMA``, ``_CLUSTER_SPEC``) are
copied at clone time: the branch starts with the source's logical
schema and layout spec and may evolve both independently afterward.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import SparkSession

_BRANCHES = "_BRANCHES"
_SIDE_FILES = ("_SCHEMA", "_CLUSTER_SPEC")


def _register_branch(src_index: str, dest_index: str) -> None:
    """Record ``dest_index`` in the source's branch registry (atomic
    read-modify-replace under the source's publish lock)."""
    from columnar_analytics_engine_spark.manifest import publish_lock

    reg = os.path.join(src_index, _BRANCHES)
    with publish_lock(src_index):
        try:
            with open(reg) as fh:
                entries = json.load(fh)
        except FileNotFoundError:
            entries = []
        dest = os.path.abspath(dest_index)
        if dest not in entries:
            entries.append(dest)
        tmp = f"{reg}.tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as fh:
            json.dump(entries, fh, indent=2)
        os.replace(tmp, reg)


def family_indexes(index_path: str) -> list[str]:
    """Every index known to share this table's data directory: this
    one plus the branches registered at clone time (absolute paths;
    vanished branch dirs are dropped).  Pass to
    ``vacuum_unindexed(extra_indexes=...)`` so retention is
    branch-aware."""
    reg = os.path.join(index_path, _BRANCHES)
    out = [os.path.abspath(index_path)]
    try:
        with open(reg) as fh:
            entries = json.load(fh)
    except FileNotFoundError:
        entries = []
    for e in entries:
        if os.path.isdir(e):
            out.append(e)
    return out


def clone_table(
    spark: SparkSession,
    src_index: str,
    dest_index: str,
    as_of: int | None = None,
) -> int:
    """Create a zero-copy branch: the source's current (or ``as_of``)
    manifest snapshot becomes version 1 of ``dest_index``.  No data
    file is read or written — the clone cost is one manifest row-set
    (metadata scale at any table size).  Returns the branch's version
    number (1).  The branch is registered in the source's
    ``_BRANCHES`` sidecar so :func:`family_indexes` can make vacuum
    branch-aware; schema and cluster-spec sidecars are copied so the
    branch starts from the source's logical state."""
    from columnar_analytics_engine_spark.manifest import (
        manifest_table,
        write_manifest,
    )

    if os.path.abspath(dest_index) == os.path.abspath(src_index):
        raise ValueError("clone destination must differ from the source")
    snapshot = manifest_table(src_index, as_of=as_of)
    version = write_manifest(spark, dest_index, snapshot)
    from columnar_analytics_engine_spark.manifest import current_version

    origin = {
        "src_index": os.path.abspath(src_index),
        "src_version": (
            as_of if as_of is not None else current_version(src_index)
        ),
        "branch_version": version,
    }
    tmp = os.path.join(dest_index, f"_CLONE_OF.tmp-{uuid.uuid4().hex[:8]}")
    with open(tmp, "w") as fh:
        json.dump(origin, fh, indent=2)
    os.replace(tmp, os.path.join(dest_index, "_CLONE_OF"))
    for name in _SIDE_FILES:
        src_f = os.path.join(src_index, name)
        if os.path.exists(src_f):
            tmp = os.path.join(
                dest_index, f"{name}.tmp-{uuid.uuid4().hex[:8]}"
            )
            shutil.copyfile(src_f, tmp)
            os.replace(tmp, os.path.join(dest_index, name))
    _register_branch(src_index, dest_index)
    return version


def clone_origin(index_path: str) -> dict | None:
    """Where this index was cloned from (``_CLONE_OF`` sidecar), or
    ``None`` for a table that was never cloned."""
    try:
        with open(os.path.join(index_path, "_CLONE_OF")) as fh:
            return json.load(fh)
    except FileNotFoundError:
        return None


def divergence_report(
    spark: SparkSession,
    data_path: str,
    branch_index: str,
    key: str,
) -> dict:
    """How far a branch has diverged from its clone point, derived
    from the branch's OWN keyed change feed — cost bounded by what the
    branch changed, never the table.  Returns insert / update / delete
    key counts plus version numbers.  The governance primitive behind
    :func:`family_health`."""
    from pyspark.sql import functions as F

    from columnar_analytics_engine_spark.cdf import read_changes
    from columnar_analytics_engine_spark.manifest import current_version

    origin = clone_origin(branch_index)
    if origin is None:
        raise ValueError(
            f"{branch_index} has no _CLONE_OF sidecar — not a branch"
        )
    cur = current_version(branch_index)
    feed = read_changes(
        spark, data_path, branch_index, origin["branch_version"], cur,
        key=key,
    )
    counts = {
        r["_change_type"]: r["n"]
        for r in feed.groupBy("_change_type")
        .agg(F.countDistinct(key).alias("n"))
        .collect()
    }
    return {
        "branch_index": os.path.abspath(branch_index),
        "src_index": origin["src_index"],
        "clone_src_version": origin["src_version"],
        "branch_version": cur,
        "inserts": counts.get("insert", 0),
        "updates": counts.get("update_postimage", 0),
        "deletes": counts.get("delete", 0),
    }


def family_health(
    spark: SparkSession,
    data_path: str,
    src_index: str,
    key: str,
) -> list[dict]:
    """Per-branch divergence for every registered branch of
    ``src_index`` (the ``_BRANCHES`` sidecar), PLUS the source's own
    movement since each clone point and the key-level CONFLICT count a
    merge-back would face — the governance view a multi-branch 100 TB
    table needs before deciding merge vs rebase.  All feeds are
    change-bounded; nothing here scans the table."""
    from pyspark.sql import functions as F

    from columnar_analytics_engine_spark.cdf import read_changes
    from columnar_analytics_engine_spark.manifest import current_version

    out = []
    src_cur = current_version(src_index)
    for b in family_indexes(src_index):
        if os.path.abspath(b) == os.path.abspath(src_index):
            continue
        rep = divergence_report(spark, data_path, b, key)
        clone_v = rep["clone_src_version"]
        src_changed = 0
        conflicts = 0
        if src_cur is not None and src_cur != clone_v:
            src_feed = read_changes(
                spark, data_path, src_index, clone_v, src_cur, key=key
            ).select(F.col(key).alias("__k")).distinct()
            br_keys = (
                read_changes(
                    spark, data_path, b,
                    clone_origin(b)["branch_version"],
                    rep["branch_version"], key=key,
                )
                .select(F.col(key).alias("__k"))
                .distinct()
            )
            src_feed = src_feed.persist()
            try:
                src_changed = src_feed.count()
                conflicts = br_keys.join(src_feed, "__k", "inner").count()
            finally:
                src_feed.unpersist()
        rep["src_version"] = src_cur
        rep["src_changed_keys"] = src_changed
        rep["conflict_keys"] = conflicts
        out.append(rep)
    return sorted(out, key=lambda r: r["branch_index"])


def merge_back(
    spark: SparkSession,
    data_path: str,
    src_index: str,
    branch_index: str,
    key: str,
    force: bool = False,
) -> dict:
    """Merge a branch's changes back into its source — the
    branch-then-merge workflow (write-audit-publish): everything the
    branch did since the clone point, derived from its own CHANGE FEED
    (``cdf.read_changes(clone_version → current, key=...)``), is
    applied to the source as one keyed MERGE plus one keyed delete.
    Cost is bounded by what the branch CHANGED, never the table.

    Divergence handling (three-way merge, round 14): when the SOURCE
    advanced past the clone point, the merge computes the source's OWN
    keyed change feed over the same interval (clone point → source
    current) and compares key sets.  If the branch-changed keys and
    the source-changed keys are DISJOINT, the merge proceeds without
    ``force`` — the branch's changes apply on top of the source's
    current state and neither side's work is lost (both feeds already
    exist; the check is two key-set scans bounded by what each side
    CHANGED, never the table).  If the key sets overlap, the merge
    refuses with a :class:`manifest.ConcurrentWriteError` that names a
    sample of the conflicting keys; ``force=True`` applies anyway with
    branch-wins-on-key-conflict semantics (documented
    last-writer-wins, the caller has decided).  Returns
    ``{"upserted": n, "deleted": n, "version": source_version}``.

    Deletion vectors: a VERSIONED delete (``delete_keys(index_path=
    branch)``) enters the branch's feed at commit time (round 14), so
    merge back picks it up folded or not.  Only LEGACY deletes (a
    ``dv_path`` with no ``index_path`` — no ``_DV_COMMITS`` sidecar)
    are invisible to the feed until ``deletes.compact_deletes`` folds
    them — fold those first.
    """
    from columnar_analytics_engine_spark.cdf import read_changes
    from columnar_analytics_engine_spark.deletes import delete_keys
    from columnar_analytics_engine_spark.manifest import (
        ConcurrentWriteError,
        current_version,
    )

    origin = clone_origin(branch_index)
    if origin is None:
        raise ValueError(
            f"{branch_index} has no _CLONE_OF sidecar — not a branch"
        )
    if os.path.abspath(src_index) != origin["src_index"]:
        raise ValueError(
            f"branch was cloned from {origin['src_index']}, "
            f"not {os.path.abspath(src_index)}"
        )
    from pyspark.sql import functions as F

    src_cur = current_version(src_index)
    feed = read_changes(
        spark, data_path, branch_index,
        origin["branch_version"], current_version(branch_index), key=key,
    )
    feed = feed.persist()
    if not force and src_cur != origin["src_version"]:
        # three-way merge: both sides changed since the clone point —
        # allowed iff they touched DISJOINT key sets (each side's keyed
        # feed is change-bounded, so this check never scans the table)
        src_feed = read_changes(
            spark, data_path, src_index,
            origin["src_version"], src_cur, key=key,
        )
        conflicts = (
            feed.select(F.col(key).alias("__k")).distinct()
            .join(
                src_feed.select(F.col(key).alias("__k")).distinct(),
                "__k", "inner",
            )
        )
        sample = sorted(r["__k"] for r in conflicts.limit(20).collect())
        if sample:
            feed.unpersist()
            raise ConcurrentWriteError(
                f"source advanced from version {origin['src_version']} to "
                f"{src_cur} since the clone AND both sides changed "
                f"overlapping keys (first {len(sample)}: {sample}); "
                "rebase (re-clone and re-apply) or pass force=True for "
                "branch-wins semantics"
            )
    try:
        upserts = feed.filter(
            F.col("_change_type").isin("insert", "update_postimage")
        ).drop("_change_type", "_change_count")
        deletes = feed.filter(F.col("_change_type") == "delete").select(key)
        n_up = upserts.count()
        n_del = deletes.count()
        version = src_cur
        if n_up:
            from columnar_analytics_engine_spark.layout import (
                merge_upsert_files,
            )

            out = merge_upsert_files(
                spark, data_path, src_index, upserts, key
            )
            version = out["version"]
        if n_del:
            # PERSISTENT DV home inside the source index dir: the
            # delete publishes a versioned commit whose _DV_COMMITS
            # sidecar references this path, so it must outlive the
            # merge (a temp table deleted here would leave the commit
            # version's feed/as_of missing its tombstones until the
            # fold's file diff catches up).  Folded entries clear once
            # no retained version references their files.
            dv_home = os.path.join(src_index, "_DV_MERGEBACK")
            from columnar_analytics_engine_spark.deletes import (
                compact_deletes,
            )

            delete_keys(
                spark, data_path, dv_home, deletes, key,
                index_path=src_index,
            )
            compact_deletes(spark, data_path, dv_home, src_index)
            from columnar_analytics_engine_spark.manifest import (
                current_version as _cv,
            )

            version = _cv(src_index)
    finally:
        feed.unpersist()
    return {"upserted": n_up, "deleted": n_del, "version": version}
