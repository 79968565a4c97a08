"""Versioned stats-index manifests: atomic publish, time travel, vacuum.

Round-11's maintenance tier (``layout.publish_rewrite`` and friends)
kept ONE manifest snapshot and deleted rewritten originals immediately
— correct for a single sequential process, but a concurrent reader that
planned its file list before a compaction failed mid-query when the
originals vanished, and a crash during the manifest overwrite could
leave the table with no manifest at all.  Every production table format
solves both with the same structure (Delta's versioned transaction log,
Iceberg's snapshot metadata files): manifests are IMMUTABLE, each
maintenance operation writes a NEW manifest version, a single atomic
pointer flip publishes it, and data files are deleted only by an
explicit vacuum after a retention window.  This module is that
structure on plain Parquet:

* Layout: ``index_path/ver-00000001/`` (one immutable Parquet manifest
  per version) + ``index_path/_CURRENT`` (a text file holding the
  published version number, swapped with ``os.replace`` — atomic on
  POSIX).  A reader resolves ``_CURRENT`` once at plan time and reads a
  snapshot no writer will ever mutate or delete out from under it
  (until vacuum expires it).
* Crash safety: version numbers are allocated from the DIRECTORY
  listing (``ver-*``), not from ``_CURRENT``, so a writer that crashed
  after staging ``ver-7`` but before the pointer flip leaves
  ``_CURRENT`` at 6 — readers are consistent, the orphan dir is
  vacuum-able garbage, and the next writer allocates ``ver-8``.
* Time travel: ``read_manifest(..., as_of=N)`` plans from any retained
  version; since maintenance no longer deletes data files, the version-
  N file set is still on disk and the as-of read returns the table
  exactly as published at version N.
* Vacuum (:func:`layout.vacuum_unindexed`): deletes data files not
  referenced by any RETAINED version and expires old version dirs —
  the one place bytes are destroyed, run on an operator's schedule
  (Delta ``VACUUM``'s retention contract).
* Multi-table transactions build on the ``publish=False`` staging mode:
  stage versions for several tables, then flip one catalog pointer
  (``transaction.py``).
* Driver-side metadata: a manifest is file-count-sized and every reader
  already holds its file list on the driver, so manifests are read
  (:func:`manifest_table`) and written (:func:`write_manifest`) with
  ``pyarrow.parquet`` — no Spark job — and planners filter them with
  ``pyarrow.compute``.  :func:`read_manifest` wraps the Arrow table as
  a local relation for callers that join metadata with data.

Legacy layout (a flat Parquet directory at ``index_path`` with no
``_CURRENT``) is read transparently and upgraded to version 1 on the
first write — existing indexes keep working unchanged.
"""

from __future__ import annotations

import contextlib
import os
import re
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

_VER_RE = re.compile(r"^ver-(\d{8})$")
_CURRENT = "_CURRENT"
_HISTORY = "_HISTORY"
_LOCK = "_PUBLISH_LOCK"
# how long an above-current staged version dir is presumed in-flight
# (a concurrent writer between staging and publish) before expiry may
# reclaim it — Delta's log-retention grace for in-flight commits
ORPHAN_GRACE_SEC = 600.0


class ConcurrentWriteError(RuntimeError):
    """Another writer published a manifest version after this writer
    read its base snapshot (optimistic-concurrency conflict).  The
    loser's staged version remains on disk, unpublished — vacuum-able
    garbage; retry by re-reading the current manifest and re-applying
    the change (Delta's commit-conflict contract)."""


def _ver_dir(index_path: str, version: int) -> str:
    return os.path.join(index_path, f"ver-{version:08d}")


def list_versions(index_path: str) -> list[int]:
    """All staged manifest versions on disk (published or not),
    ascending."""
    if not os.path.isdir(index_path):
        return []
    out = []
    for name in os.listdir(index_path):
        m = _VER_RE.match(name)
        if m and os.path.isdir(os.path.join(index_path, name)):
            out.append(int(m.group(1)))
    return sorted(out)


def current_version(index_path: str) -> int | None:
    """The PUBLISHED version (``_CURRENT``), or ``None`` when the index
    is legacy-flat or absent."""
    cur = os.path.join(index_path, _CURRENT)
    try:
        with open(cur) as fh:
            return int(fh.read().strip())
    except (FileNotFoundError, ValueError):
        return None


def _is_legacy_flat(index_path: str) -> bool:
    return bool(parquet_parts(index_path))


def manifest_dir(index_path: str, as_of: int | None = None) -> str:
    """The directory holding the manifest snapshot to read: a specific
    retained version (``as_of``) or the published one."""
    if as_of is not None:
        d = _ver_dir(index_path, as_of)
        if not os.path.isdir(d):
            raise FileNotFoundError(
                f"manifest version {as_of} not found under {index_path} "
                f"(retained: {list_versions(index_path)}) — vacuumed or never "
                "published"
            )
        return d
    cur = current_version(index_path)
    if cur is not None:
        return _ver_dir(index_path, cur)
    if _is_legacy_flat(index_path):
        return index_path
    raise FileNotFoundError(f"no manifest at {index_path}")


def parquet_parts(d: str) -> list[str]:
    """The visible Parquet files directly under ``d``, sorted: Spark's
    ``_SUCCESS`` / ``.crc``, in-flight ``.tmp`` files and subdirs (a
    legacy flat index's ``ver-*``) are skipped."""
    if not os.path.isdir(d):
        return []
    return sorted(
        os.path.join(d, f)
        for f in os.listdir(d)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )


def read_parquet_parts(d: str, columns: list[str] | None = None, schema=None):
    """One Arrow table from :func:`parquet_parts` of ``d``.  With
    ``schema``, columns a part lacks read as nulls (an older file
    written before a column existed)."""
    import pyarrow.parquet as pq

    parts = parquet_parts(d)
    if not parts and schema is not None:
        return schema.empty_table()
    return pq.read_table(
        parts, columns=columns, schema=schema, partitioning=None
    )


def manifest_table(
    index_path: str, as_of: int | None = None, columns: list[str] | None = None
):
    """The manifest snapshot (current, or ``as_of`` a retained version)
    as a ``pyarrow.Table``, read on the driver with no Spark job.
    Reads Spark-written version dirs (part file + ``_SUCCESS`` +
    ``.crc``), Arrow-written ones and legacy flat indexes alike."""
    return read_parquet_parts(manifest_dir(index_path, as_of), columns=columns)


def manifest_files(index_path: str, as_of: int | None = None) -> list[str]:
    """The distinct data files a manifest snapshot lists, sorted."""
    files = manifest_table(index_path, as_of, columns=["file"]).column("file")
    return sorted(set(files.to_pylist()))


def file_rows(index_path: str, as_of: int | None = None) -> dict[str, int]:
    """Each file's footer row count (``file_rows``) in a stats-index
    manifest snapshot."""
    m = manifest_table(index_path, as_of, columns=["file", "file_rows"])
    return dict(zip(m.column("file").to_pylist(), m.column("file_rows").to_pylist()))


def read_manifest(
    spark: SparkSession, index_path: str, as_of: int | None = None
) -> DataFrame:
    """The manifest snapshot as a DataFrame (current, or ``as_of`` a
    retained version): :func:`manifest_table` as an Arrow-backed local
    relation, for callers that join metadata with data."""
    return spark.createDataFrame(manifest_table(index_path, as_of))


def _publish_pointer(index_path: str, version: int) -> None:
    """Atomically flip ``_CURRENT`` to ``version`` (tmp + os.replace —
    the single indivisible step of every publish), then journal the
    publish instant to ``_HISTORY`` (one line per publish; every
    pointer flip runs under the publish lock, so appends are
    serialized).  The journal is what timestamp time travel
    (:func:`version_at`) resolves against — bytes per publish, never
    pruned (a year of hourly maintenance is ~200 KB).

    Two repairs run first, both under the same lock the caller holds:

    * Journal backfill: a crash between a prior flip and its journal
      append leaves the published version un-journaled (``version_at``
      would resolve past it to its predecessor forever).  If the
      currently published version is missing from the journal, a
      best-effort entry stamped "now" is appended — timestamps between
      the crash and this repair still resolve to the predecessor, but
      the gap heals on the next publish instead of lasting forever.
    * DV-commit inheritance: if the version being published has no
      ``_DV_COMMITS`` sidecar of its own (every publish except a
      delete commit), it inherits the outgoing version's — so
      committed deletion-vector state carries forward through
      maintenance rewrites instead of silently resurrecting rows."""
    prev = current_version(index_path)
    if prev is not None:
        if all(v != prev for v, _ in publish_log(index_path)):
            with open(os.path.join(index_path, _HISTORY), "a") as fh:
                fh.write(f"{prev} {time.time():.6f}\n")
        _inherit_dv_commits(index_path, prev, version)
    tmp = os.path.join(index_path, f"{_CURRENT}.tmp-{uuid.uuid4().hex[:8]}")
    with open(tmp, "w") as fh:
        fh.write(f"{version}\n")
    os.replace(tmp, os.path.join(index_path, _CURRENT))
    with open(os.path.join(index_path, _HISTORY), "a") as fh:
        fh.write(f"{version} {time.time():.6f}\n")


def publish_log(index_path: str) -> list[tuple[int, float]]:
    """The publish journal: ``(version, epoch_seconds)`` per pointer
    flip, in publish order.  Empty for a pre-journal index (older
    rounds' tables — they upgrade on their next publish)."""
    out: list[tuple[int, float]] = []
    try:
        with open(os.path.join(index_path, _HISTORY)) as fh:
            for line in fh:
                parts = line.split()
                if len(parts) == 2:
                    out.append((int(parts[0]), float(parts[1])))
    except FileNotFoundError:
        pass
    return out


def version_at(index_path: str, ts: float) -> int:
    """TIMESTAMP AS OF: the version that was PUBLISHED most recently
    at or before ``ts`` (epoch seconds) — pass the result to any
    ``as_of=`` reader for Delta-style timestamp time travel.  Resolved
    from the publish journal; raises when ``ts`` predates the first
    journaled publish (or the journal is empty), naming the earliest
    readable instant.  The resolved version must still be RETAINED
    (un-vacuumed) to actually read — same contract as version-number
    time travel."""
    log = publish_log(index_path)
    best: int | None = None
    earliest: float | None = None
    for version, when in log:
        if earliest is None or when < earliest:
            earliest = when
        if when <= ts:
            best = version  # journal is in publish order: last wins
    if best is None:
        raise FileNotFoundError(
            f"no publish at or before ts={ts} at {index_path}"
            + (
                f" (earliest journaled publish: {earliest})"
                if earliest is not None
                else " (no publish journal — table predates it)"
            )
        )
    return best


# ---------------------------------------------------------------------------
# Deletion-vector commit sidecar: which DV commits are part of each
# manifest version's snapshot.  A versioned delete (``deletes.delete_
# where``/``delete_keys`` on a maintained table) appends tombstones
# tagged with a fresh commit id, stages a manifest version whose
# ``_DV_COMMITS`` sidecar adds that id, and publishes — so the feed and
# every ``as_of`` read can apply EXACTLY the tombstones committed as of
# a version.  A version with no sidecar inherits the outgoing one at
# flip time (see ``_publish_pointer``); a table whose versions have no
# sidecar at all keeps the legacy contract (all tombstones apply).
# ---------------------------------------------------------------------------

_DV_COMMITS = "_DV_COMMITS"


def dv_commits(index_path: str, version: int | None = None) -> dict | None:
    """The DV-commit sidecar of ``version`` (default: the published
    one): ``{"commits": [id, ...], "dv_path": abspath}`` — or ``None``
    when the version has no sidecar (a table that never did a
    versioned delete: every tombstone applies, the legacy contract)."""
    import json

    if version is None:
        version = current_version(index_path)
        if version is None:
            return None
    try:
        with open(os.path.join(_ver_dir(index_path, version), _DV_COMMITS)) as fh:
            return json.load(fh)
    except (FileNotFoundError, ValueError):
        return None


def write_dv_commits(
    index_path: str, version: int, commits: list[str], dv_path: str
) -> None:
    """Write a STAGED version's DV-commit sidecar (before its publish
    — the sidecar must be in place when the pointer flips so readers
    resolving the new version see it atomically)."""
    import json

    d = _ver_dir(index_path, version)
    tmp = os.path.join(d, f"{_DV_COMMITS}.tmp-{uuid.uuid4().hex[:8]}")
    with open(tmp, "w") as fh:
        json.dump(
            {"commits": commits, "dv_path": os.path.abspath(dv_path)}, fh
        )
    os.replace(tmp, os.path.join(d, _DV_COMMITS))


def _inherit_dv_commits(index_path: str, prev: int, version: int) -> None:
    """Copy the outgoing version's DV-commit sidecar onto a new version
    that lacks its own (runs under the publish lock, just before the
    flip)."""
    src = os.path.join(_ver_dir(index_path, prev), _DV_COMMITS)
    dst_dir = _ver_dir(index_path, version)
    dst = os.path.join(dst_dir, _DV_COMMITS)
    if os.path.exists(dst) or not os.path.exists(src):
        return
    if not os.path.isdir(dst_dir):
        return  # republish of an expired dir — nothing to inherit onto
    tmp = os.path.join(dst_dir, f"{_DV_COMMITS}.tmp-{uuid.uuid4().hex[:8]}")
    shutil.copyfile(src, tmp)
    os.replace(tmp, dst)


@contextlib.contextmanager
def mkdir_lock(
    lock_dir: str, stale_sec: float = 30.0, timeout_sec: float = 60.0
):
    """Short-critical-section mutex built on ``os.mkdir`` (atomic on
    every POSIX filesystem; the pattern maps to the conditional-put
    every object store offers).  Used for check-then-act commit steps
    that must serialize: the manifest pointer flip and the transaction
    catalog's read-merge-write.  The section is held for microseconds
    (a small read + a rename), so contention resolves by a short spin.
    A lock dir older than ``stale_sec`` is presumed a crashed holder
    (no live holder keeps a microsecond section for 30 s).

    Stale-break protocol (two invariants the naive rmdir-break lacks):

    * Exactly ONE breaker wins: the break is an atomic
      ``os.rename(lock_dir → lock_dir.broken-<uuid>)`` — a racing
      breaker's rename fails, so two breakers can never both "clear
      the way" around a third acquirer's fresh mkdir (the rmdir
      version let breaker B delete the lock breaker A had just
      re-acquired).
    * Only the OWNER releases: each holder drops a unique token file
      inside its lock dir and the release removes the token before
      the rmdir.  A stalled holder whose lock was stolen finds its
      token gone (it left with the renamed dir) and releases nothing,
      instead of rmdir-ing the NEW holder's lock."""
    os.makedirs(os.path.dirname(lock_dir) or ".", exist_ok=True)
    deadline = time.monotonic() + timeout_sec
    token = os.path.join(lock_dir, f"owner-{uuid.uuid4().hex}")
    while True:
        try:
            os.mkdir(lock_dir)
            with open(token, "w") as fh:
                fh.write(f"{os.getpid()}\n")
            break
        except FileExistsError:
            try:
                if time.time() - os.stat(lock_dir).st_mtime > stale_sec:
                    # crashed holder: steal with an atomic rename —
                    # only one breaker's rename succeeds
                    broken = f"{lock_dir}.broken-{uuid.uuid4().hex[:8]}"
                    with contextlib.suppress(OSError):
                        os.rename(lock_dir, broken)
                        shutil.rmtree(broken, ignore_errors=True)
            except FileNotFoundError:
                pass  # holder released between mkdir and stat — retry
            if time.monotonic() > deadline:
                raise TimeoutError(
                    f"could not acquire lock at {lock_dir} within "
                    f"{timeout_sec}s"
                )
            time.sleep(0.002)
    try:
        yield
    finally:
        # remove-token-then-rmdir: if the token is gone the lock was
        # stolen (or the dir now belongs to a new holder whose token
        # is present, failing the rmdir) — release nothing
        with contextlib.suppress(OSError):
            os.remove(token)
            os.rmdir(lock_dir)


@contextlib.contextmanager
def publish_lock(
    index_path: str, stale_sec: float = 30.0, timeout_sec: float = 60.0
):
    """Mutex for the manifest check-then-flip COMMIT step.  Without
    it, two writers computed from the same base can BOTH pass the
    ``cur == expected_current`` check and both flip — the first
    publish is silently shadowed even though ``write_manifest``
    returned success."""
    os.makedirs(index_path, exist_ok=True)
    with mkdir_lock(
        os.path.join(index_path, _LOCK),
        stale_sec=stale_sec, timeout_sec=timeout_sec,
    ):
        yield


def _allocate_version(index_path: str) -> int:
    """Claim the next version number with an atomic ``os.mkdir`` —
    two concurrent writers can never clobber each other's version dir
    (mkdir fails for the loser, who claims the next number)."""
    staged = list_versions(index_path)
    version = (staged[-1] if staged else 0) + 1
    while True:
        try:
            os.mkdir(_ver_dir(index_path, version))
            return version
        except FileExistsError:
            version += 1


def write_parquet_part(d: str, table) -> None:
    """Write ``table`` as one Parquet file into dir ``d`` (dot-prefixed
    tmp + ``os.replace``: readers see all of it or none).  Schema
    metadata is dropped: Spark trusts a copied Spark row-schema key
    over the file's real columns."""
    import pyarrow.parquet as pq

    name = f"part-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(d, f".{name}.tmp")
    pq.write_table(table.replace_schema_metadata(None), tmp)
    os.replace(tmp, os.path.join(d, name))


def write_manifest(
    spark: SparkSession,
    index_path: str,
    df,
    publish: bool = True,
    expected_current: int | None = None,
) -> int:
    """Write ``df`` (a ``pyarrow.Table``, or a DataFrame, collected once
    with ``toArrow``) as the next manifest version — one Parquet file
    written on the driver — and (by default) publish it with an atomic
    pointer flip.  Returns the version
    number.  With ``publish=False`` the version is STAGED only —
    invisible to readers until :func:`publish_version` (or a
    ``transaction.Catalog`` commit) flips a pointer; a crash before
    that leaves readers on the old version.

    Concurrency: version numbers are claimed with an atomic ``mkdir``
    (no clobber between racing writers), and ``expected_current``
    provides optimistic concurrency — pass the version your change was
    COMPUTED FROM, and the publish raises :class:`ConcurrentWriteError`
    if another writer published in between (your rows would silently
    drop theirs).  The conflicted version stays staged/unpublished —
    readers are unaffected, vacuum reclaims it, the caller re-reads and
    retries.  Every maintenance op threads this through, so two
    concurrent compactions cannot lose each other's updates.

    A legacy flat index is upgraded in place: its rows become
    ``ver-<n>`` and the flat files are removed after the pointer exists
    (a crash in between leaves both readable states consistent)."""
    table = df if not isinstance(df, DataFrame) else df.toArrow()
    os.makedirs(index_path, exist_ok=True)
    legacy = current_version(index_path) is None and _is_legacy_flat(index_path)
    version = _allocate_version(index_path)
    # write into the freshly CLAIMED (empty) dir: recreating it would
    # reopen the mkdir race window
    write_parquet_part(_ver_dir(index_path, version), table)
    if publish:
        # check + flip under the publish lock: two writers from the
        # same base must serialize, or both pass the check and the
        # first flip is silently shadowed (lost update)
        with publish_lock(index_path):
            if expected_current is not None:
                cur = current_version(index_path)
                if cur is not None and cur != expected_current:
                    raise ConcurrentWriteError(
                        f"manifest at {index_path} moved from version "
                        f"{expected_current} to {cur} while this change was "
                        f"being staged (staged as ver-{version}, left "
                        "unpublished); re-read and retry"
                    )
            _publish_pointer(index_path, version)
        if legacy:
            for f in parquet_parts(index_path):
                os.remove(f)
    return version


def copy_manifest(index_path: str, version: int) -> int:
    """Stage (never publish) a new version whose manifest is a byte copy
    of ``version``'s — the same-file-set version a delete commit
    publishes with a new ``_DV_COMMITS`` sidecar.  Returns the staged
    version number."""
    new = _allocate_version(index_path)
    for src in parquet_parts(_ver_dir(index_path, version)):
        name = os.path.basename(src)
        tmp = os.path.join(_ver_dir(index_path, new), f".{name}.tmp")
        shutil.copyfile(src, tmp)
        os.replace(tmp, os.path.join(_ver_dir(index_path, new), name))
    return new


def publish_version(
    index_path: str,
    version: int,
    monotonic: bool = False,
    expected_current: int | None = None,
) -> bool:
    """Publish a previously staged version (validates it exists).
    With ``monotonic=True`` the flip only happens when it moves the
    pointer FORWARD — the convergence roll a transaction commit does —
    and the read-compare-flip runs under the publish lock so two
    concurrent commits cannot interleave their flips into a backwards
    move.  ``expected_current`` adds the same optimistic-concurrency
    check as ``write_manifest``: the flip raises
    :class:`ConcurrentWriteError` when another writer published after
    the caller read its base snapshot (used by the staged delete-commit
    protocol, whose sidecar must be written between stage and flip).
    Returns whether the pointer moved."""
    if not os.path.isdir(_ver_dir(index_path, version)):
        raise FileNotFoundError(
            f"cannot publish: version {version} not staged at {index_path}"
        )
    with publish_lock(index_path):
        cur = current_version(index_path)
        if expected_current is not None and cur is not None and cur != expected_current:
            raise ConcurrentWriteError(
                f"manifest at {index_path} moved from version "
                f"{expected_current} to {cur} while version {version} was "
                "being staged (left unpublished); re-read and retry"
            )
        if monotonic and cur is not None and cur >= version:
            return False
        _publish_pointer(index_path, version)
    return True


def expire_versions(
    index_path: str,
    keep_last: int,
    protect: tuple[int, ...] = (),
    orphan_grace_sec: float = ORPHAN_GRACE_SEC,
) -> list[int]:
    """Drop manifest version dirs beyond the newest ``keep_last``
    PUBLISHED-or-older versions — never the current one, never a
    ``protect``-ed version (a transaction catalog's pinned snapshot:
    ``vacuum_unindexed(..., protect_versions=...)`` threads it
    through).  Returns the expired version numbers.  Orphan versions
    staged ABOVE the current pointer are dropped only once their dir
    mtime is older than ``orphan_grace_sec``: a young above-current dir
    is most likely a CONCURRENT writer between staging and publish
    (the sink runs expiry every batch — deleting it mid-write would
    leave a catalog or ``_CURRENT`` pointing at a missing manifest);
    an old one is a crashed or abandoned stage, never visible, safe to
    reclaim."""
    versions = list_versions(index_path)
    survivors = surviving_versions(
        index_path, keep_last, protect=protect,
        orphan_grace_sec=orphan_grace_sec,
    )
    expired = [v for v in versions if v not in survivors]
    for v in expired:
        shutil.rmtree(_ver_dir(index_path, v), ignore_errors=True)
    return expired


def surviving_versions(
    index_path: str,
    keep_last: int,
    protect: tuple[int, ...] = (),
    orphan_grace_sec: float = ORPHAN_GRACE_SEC,
) -> set[int]:
    """The version set :func:`expire_versions` would RETAIN under the
    same arguments — the one retention math, shared with
    ``layout.vacuum_unindexed``'s dry run so preview and reality can
    never disagree.  Empty-or-all when no pointer exists (legacy /
    unpublished index: expiry is a no-op there)."""
    cur = current_version(index_path)
    versions = list_versions(index_path)
    if cur is None:
        return set(versions)
    now = time.time()
    retained = set([v for v in versions if v <= cur][-max(1, keep_last):])
    retained |= set(protect) & set(versions)
    retained.add(cur)
    for v in versions:
        if v > cur and v not in retained:
            try:
                age = now - os.stat(_ver_dir(index_path, v)).st_mtime
            except FileNotFoundError:
                continue
            if age < orphan_grace_sec:
                retained.add(v)  # presumed in-flight stage — grace
    return retained & set(versions)


def referenced_files(
    index_path: str, versions: list[int] | None = None
) -> set[str]:
    """Union of data files referenced by the given manifest versions
    (default: every retained version — the set vacuum must NOT
    delete).  Read on the driver, one small Parquet file per version."""
    if versions is None:
        # a legacy flat index is its own single (current) version
        versions = list_versions(index_path) or (
            [None] if _is_legacy_flat(index_path) else []
        )
    return {f for v in versions for f in manifest_files(index_path, v)}
