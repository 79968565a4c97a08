"""Schema evolution on the indexed table layer: add / rename / widen
without rewriting data.

The reference fixes a table's schema at write time (SURVEY §1.3); any
long-lived 100 TB table cannot — new features add columns, types
outgrow int32, names get fixed.  Rewriting 100 TB for a metadata
change is the one unaffordable answer, so every table format does
METADATA-ONLY evolution (Delta schema evolution, Iceberg's field-id
mapping): record the change, let readers reconcile per-file cohorts,
and let normal maintenance rewrites materialize the new schema
lazily.  This module is that layer on the versioned stats-index
manifest:

* The TABLE SCHEMA lives in ``<index>/_SCHEMA`` (JSON, swapped with
  ``os.replace`` like the manifest pointer): ordered columns, each
  with a Spark DDL type, an optional default for pre-add files, and
  the chain of prior physical names (renames).
* :func:`add_column` / :func:`rename_column` / :func:`widen_type` are
  O(metadata): they rewrite only the spec.  No data file changes.
* :func:`read_evolved` is the ONE read of a maintained table: every
  index-planned read (``skipping.read_indexed`` / ``read_skipping`` /
  ``read_skipping_for_join``, ``deletes.read_with_deletes``, the MERGE
  rewrite) resolves its snapshot, plans its file list and calls it,
  so no caller chooses between a flat and an evolved read.  It
  reconciles: the manifest knows exactly which columns each file
  physically carries (one row per (file, column)), so files group
  into schema COHORTS; each cohort scans once with its own projection
  (missing column → default literal; old name → rename; narrow type →
  cast) and the cohorts union.  Distinguishing written-NULL from
  never-written (→ default) is exactly what a merged ``mergeSchema``
  scan cannot do and per-cohort reads can.
* Lazy materialization: ``layout.merge_upsert_files`` reads affected
  files through the evolved view, so every MERGE upgrades the files it
  touches to the current schema — the table converges physically
  without a bulk rewrite, Iceberg-style.  ``cluster_compact`` and
  ``compact_deletes`` instead preserve each file's PHYSICAL schema
  (their one rewrite loop, ``layout.rewrite_groups``, splits groups
  per cohort because a mixed-cohort read would silently drop the
  wider cohort's bytes); correctness never depends on which
  maintenance op ran.

Pruning stays sound for free: a predicate on an added/renamed column
finds no stats row under that name for pre-evolution files, and the
skipping layer KEEPS files with no usable stats (conservative), so
evolution can only cost pruning efficiency, never correctness.

Caveat (documented contract): the spec is current-only — ``as_of``
manifest time travel reads old FILE SETS under the CURRENT schema
spec, like Delta (schema is not time-traveled).
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from columnar_analytics_engine_spark.io import read_files

_SCHEMA_FILE = "_SCHEMA"

# widenings that are exact value-preserving casts in Spark AND DuckDB
_WIDEN_OK = {
    ("tinyint", "smallint"), ("tinyint", "int"), ("tinyint", "bigint"),
    ("smallint", "int"), ("smallint", "bigint"),
    ("int", "bigint"),
    ("float", "double"),
    ("tinyint", "double"), ("smallint", "double"), ("int", "double"),
}


def _spec_path(index_path: str) -> str:
    return os.path.join(index_path, _SCHEMA_FILE)


def read_schema_spec(index_path: str) -> dict | None:
    """The evolution spec, or None when the table has never evolved
    (physical schema == logical schema)."""
    try:
        with open(_spec_path(index_path)) as fh:
            return json.load(fh)
    except FileNotFoundError:
        return None


def _write_spec(index_path: str, spec: dict) -> None:
    os.makedirs(index_path, exist_ok=True)
    tmp = os.path.join(index_path, f"{_SCHEMA_FILE}.tmp-{uuid.uuid4().hex[:8]}")
    with open(tmp, "w") as fh:
        json.dump(spec, fh, indent=2)
    os.replace(tmp, _spec_path(index_path))


def _init_spec(spark: SparkSession, data_path: str, index_path: str) -> dict:
    """Bootstrap the spec from the table's current physical schema
    (footer-only read of the manifest's file list)."""
    from columnar_analytics_engine_spark.skipping import read_indexed

    schema = read_indexed(spark, data_path, index_path).schema
    return {
        "columns": [
            {
                "name": f.name,
                "type": f.dataType.simpleString(),
                "default": None,
                "sources": [],
            }
            for f in schema.fields
        ]
    }


def _get_col(spec: dict, name: str) -> dict:
    for c in spec["columns"]:
        if c["name"] == name:
            return c
    raise KeyError(f"column {name!r} not in table schema")


def add_column(
    spark: SparkSession,
    data_path: str,
    index_path: str,
    name: str,
    dtype: str,
    default=None,
) -> dict:
    """Append a column (metadata-only).  Files written before the add
    read back ``default`` (NOT null-vs-default ambiguity: the manifest
    knows which files physically lack the column).  Returns the new
    spec."""
    spec = read_schema_spec(index_path) or _init_spec(spark, data_path, index_path)
    if any(c["name"] == name or name in c["sources"] for c in spec["columns"]):
        raise ValueError(f"column {name!r} already exists")
    spec["columns"].append(
        {"name": name, "type": dtype, "default": default, "sources": []}
    )
    if name in spec.get("dropped", []):
        # without per-file field IDs, a re-added name is ambiguous: old
        # files still physically carry the dropped bytes and would leak
        # into the new column.  Iceberg solves this with field IDs; here
        # the honest contract is that dropped names are retired.
        raise ValueError(
            f"column {name!r} was dropped; names are not reusable "
            "(old files still carry its bytes)"
        )
    _write_spec(index_path, spec)
    return spec


def rename_column(
    spark: SparkSession, data_path: str, index_path: str, old: str, new: str
) -> dict:
    """Rename (metadata-only): files keep the old physical name; the
    spec records it in ``sources`` so cohort reads map it forward.
    New writes use the new name."""
    spec = read_schema_spec(index_path) or _init_spec(spark, data_path, index_path)
    if any(c["name"] == new or new in c["sources"] for c in spec["columns"]):
        raise ValueError(f"column {new!r} already exists")
    if new in spec.get("dropped", []):
        # same retirement rule as add_column: old files still
        # physically carry the dropped column's bytes, and the cohort
        # projection prefers a physically present name — renaming onto
        # a dropped name would leak those stale bytes into the renamed
        # logical column instead of reading the rename source
        raise ValueError(
            f"column {new!r} was dropped; names are not reusable "
            "(old files still carry its bytes)"
        )
    c = _get_col(spec, old)
    c["sources"] = [old] + c["sources"]
    c["name"] = new
    _write_spec(index_path, spec)
    return spec


def widen_type(
    spark: SparkSession, data_path: str, index_path: str, name: str, dtype: str
) -> dict:
    """Widen a column's type (metadata-only; value-preserving casts
    only — int→bigint, float→double, int-family→double).  Cohort reads
    cast old files up."""
    spec = read_schema_spec(index_path) or _init_spec(spark, data_path, index_path)
    c = _get_col(spec, name)
    if c["type"] != dtype and (c["type"], dtype) not in _WIDEN_OK:
        raise ValueError(
            f"cannot widen {name!r} from {c['type']} to {dtype} "
            f"(allowed: {sorted(_WIDEN_OK)})"
        )
    c["type"] = dtype
    _write_spec(index_path, spec)
    return spec


def drop_column(
    spark: SparkSession, data_path: str, index_path: str, name: str
) -> dict:
    """Drop a column (metadata-only): the spec stops projecting it;
    physical bytes remain in old files until maintenance rewrites them
    out.  The dropped name (and its rename sources) are RETIRED — a
    later ``add_column`` of the same name is rejected, because old
    files still carry the dropped bytes and would leak into the new
    column (Iceberg avoids this with field IDs; plain Parquet has
    none)."""
    spec = read_schema_spec(index_path) or _init_spec(spark, data_path, index_path)
    c = _get_col(spec, name)
    if len(spec["columns"]) == 1:
        raise ValueError("cannot drop the last column")
    spec["columns"].remove(c)
    spec.setdefault("dropped", []).extend([c["name"]] + c["sources"])
    _write_spec(index_path, spec)
    return spec


def _cohort_projection(spec: dict, physical: set[str]) -> list:
    """Column expressions mapping one cohort's physical columns to the
    logical schema: present → cast, renamed → first present source,
    absent → default literal."""
    out = []
    for c in spec["columns"]:
        src = None
        if c["name"] in physical:
            src = c["name"]
        else:
            for s in c["sources"]:
                if s in physical:
                    src = s
                    break
        if src is not None:
            expr = F.col(src).cast(c["type"])
        else:
            expr = F.lit(c["default"]).cast(c["type"])
        out.append(expr.alias(c["name"]))
    return out


def read_evolved(
    spark: SparkSession,
    data_path: str,
    index_path: str,
    as_of: int | None = None,
    files: list[str] | None = None,
    dv_path: str | None = None,
    dv_commit_ids: list[str] | None = None,
) -> DataFrame:
    """The table under its CURRENT logical schema — the ONE read of a
    maintained table: every index-planned read (``skipping.read_indexed``,
    ``read_skipping``, ``read_skipping_for_join``,
    ``deletes.read_with_deletes``, the MERGE rewrite) turns its
    manifest snapshot or planned file list into a DataFrame here.
    Manifest-listed files (optionally restricted to ``files`` — a
    pruning plan or a maintenance rewrite) are grouped into
    physical-schema cohorts, each scanned with its own reconciling
    projection, unioned.  Without a spec it is one flat scan of the
    snapshot's (or ``files``') files.  Cohort count is the number of
    distinct physical schemas ever written — a handful in practice —
    and each cohort is one ordinary pruned scan, so the plan stays
    scan-shaped at any table size.

    ``dv_path`` subtracts deletion vectors INSIDE each cohort scan
    (before the reconciling projection, while ``_metadata`` is still
    addressable) — the composition ``deletes.read_with_deletes`` uses
    for evolved tables.  ``dv_commit_ids`` restricts the subtraction
    to legacy tombstones plus those commits (the versioned-delete
    snapshot contract, ``deletes.applied_commit_ids``); ``None``
    subtracts everything."""
    from columnar_analytics_engine_spark.deletes import _dv, subtract_tombstones
    from columnar_analytics_engine_spark.layout import columns_by_file
    from columnar_analytics_engine_spark.manifest import manifest_files

    dv = _dv(spark, dv_path, dv_commit_ids) if dv_path is not None else None

    def minus_dv(df: DataFrame) -> DataFrame:
        return df if dv is None else subtract_tombstones(df, dv)

    spec = read_schema_spec(index_path)
    if spec is None:
        flist = manifest_files(index_path, as_of) if files is None else sorted(files)
        return minus_dv(read_files(spark, data_path, flist))
    wanted = set(files) if files is not None else None
    cohorts: dict[frozenset, list[str]] = {}
    for f, cs in columns_by_file(index_path, as_of).items():
        if wanted is None or f in wanted:
            cohorts.setdefault(frozenset(cs), []).append(f)
    if not cohorts:
        fields = ", ".join(
            f"{c['name']} {c['type']}" for c in spec["columns"]
        )
        return spark.createDataFrame([], fields)
    parts = []
    for physical, flist in sorted(cohorts.items(), key=lambda kv: sorted(kv[1])):
        parts.append(
            minus_dv(read_files(spark, data_path, sorted(flist))).select(
                *_cohort_projection(spec, set(physical))
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
