"""Partition/cluster-spec EVOLUTION: a table can switch its Z-order /
clustering columns mid-history without rewriting history.

``evolution.py`` lets the logical SCHEMA change while old files keep
their physical one; this module is the same idea for the physical
LAYOUT (Iceberg's partition-spec evolution): the spec history lives in
``<index>/_CLUSTER_SPEC`` (JSON, atomic ``os.replace`` like the
manifest pointer), each entry recording the clustering columns and the
manifest version it became active at.  Files are assigned to the spec
that was active when they were FIRST published (their first-appearance
manifest version), so

* old cohorts are still understood under their own spec — the
  clustering-depth report (:func:`cohort_cluster_report`) scores each
  cohort against ITS columns instead of averaging apples and oranges;
* maintenance converges the table lazily: every
  ``layout.cluster_compact`` under the new spec moves the files it
  rewrites into the new cohort (their first appearance is the new
  manifest version), Iceberg-style, with no bulk rewrite;
* READS never depend on the spec at all — they are manifest-driven
  and stats-pruned per file, so a mid-history spec switch can only
  change pruning efficiency, never results (the evolution module's
  soundness argument, one level down).

Everything is metadata-scale: the spec file is bytes, first-appearance
versions come from the retained manifest dirs (one Spark plan over a
handful of small parquet dirs), and the depth metric runs over the
file-count-sized extents frame.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_SPEC_FILE = "_CLUSTER_SPEC"


def _spec_path(index_path: str) -> str:
    return os.path.join(index_path, _SPEC_FILE)


def read_spec_history(index_path: str) -> list[dict]:
    """The cluster-spec history (ascending ``since_version``), empty
    when the table never declared one."""
    try:
        with open(_spec_path(index_path)) as fh:
            return json.load(fh)["specs"]
    except FileNotFoundError:
        return []


def set_cluster_spec(
    index_path: str,
    cols: list[str],
    method: str = "linear",
    since_version: int | None = None,
) -> dict:
    """Append a cluster-spec entry: files first published AFTER
    ``since_version`` (default: the current manifest version — i.e.
    files written from now on) belong to this spec.  Pass
    ``since_version=0`` for a table's INITIAL spec so the existing
    files are covered.  Metadata-only; returns the new entry."""
    from columnar_analytics_engine_spark.manifest import current_version

    if since_version is None:
        since_version = current_version(index_path) or 0
    hist = read_spec_history(index_path)
    if hist and hist[-1]["since_version"] > since_version:
        raise ValueError(
            f"spec history is ordered by since_version; last entry is at "
            f"{hist[-1]['since_version']} > {since_version}"
        )
    entry = {
        "cols": list(cols),
        "method": method,
        "since_version": int(since_version),
    }
    hist.append(entry)
    os.makedirs(index_path, exist_ok=True)
    tmp = os.path.join(index_path, f"{_SPEC_FILE}.tmp-{uuid.uuid4().hex[:8]}")
    with open(tmp, "w") as fh:
        json.dump({"specs": hist}, fh, indent=2)
    os.replace(tmp, _spec_path(index_path))
    return entry


def active_cluster_spec(index_path: str) -> dict | None:
    """The spec new writes should cluster by (the latest entry)."""
    hist = read_spec_history(index_path)
    return hist[-1] if hist else None


def file_first_versions(spark: SparkSession, index_path: str) -> DataFrame:
    """``(file, first_version)`` for every file in the CURRENT
    manifest: the earliest RETAINED manifest version that references
    it.  Files predating retained history surface at the oldest
    retained version — consistent with the retention contract (history
    beyond the window is gone for time travel too).  Resolved on the
    driver from the retained manifests (an Arrow-backed local
    relation)."""
    import pyarrow as pa

    from columnar_analytics_engine_spark.manifest import (
        current_version,
        list_versions,
        manifest_files,
    )

    cur = current_version(index_path)
    versions = [v for v in list_versions(index_path) if cur is None or v <= cur]
    first: dict[str, int] = {}
    for v in versions or [None]:  # None: a legacy flat index's one version
        for f in manifest_files(index_path, v):
            first.setdefault(f, v or 1)
    live = [f for f in manifest_files(index_path) if f in first]
    return spark.createDataFrame(
        pa.table(
            {"file": live, "first_version": [first[f] for f in live]},
            schema=pa.schema([("file", pa.string()), ("first_version", pa.int32())]),
        )
    )


def file_cohorts(spark: SparkSession, index_path: str) -> DataFrame:
    """``(file, first_version, spec_idx)``: each current-manifest file
    assigned to the spec active when it first appeared (``spec_idx``
    indexes :func:`read_spec_history`; -1 = before any spec)."""
    hist = read_spec_history(index_path)
    fv = file_first_versions(spark, index_path)
    # spec_idx = number of specs with since_version < first_version,
    # minus 1 — a literal-array expression, no join
    bounds = F.array(
        *[F.lit(int(e["since_version"])) for e in hist]
    )
    idx = (
        F.size(F.filter(bounds, lambda b: b < F.col("first_version")))
        - F.lit(1)
    )
    return fv.withColumn("spec_idx", idx.cast("int"))


def cohort_cluster_report(
    spark: SparkSession, index_path: str
) -> DataFrame:
    """Per-cohort clustering depth: every spec cohort scored against
    ITS OWN clustering columns — ``(spec_idx, spec_cols, probe_col,
    n_buckets, overlap_pairs, avg_depth)``.  A table that switched
    Z-order columns mid-history reads as two cohorts, each measured by
    the layout it was written under; the single-spec report
    (``layout.clustering_depth`` over all files) would average the old
    cohort's (good) depth on ITS columns with its (bad) depth on the
    new ones and report noise."""
    from columnar_analytics_engine_spark.layout import (
        clustering_depth,
        index_extents,
    )

    hist = read_spec_history(index_path)
    if not hist:
        raise ValueError(
            f"no cluster spec declared at {index_path}; use "
            "set_cluster_spec (or layout.clustering_depth for a "
            "spec-less report)"
        )
    cohorts = file_cohorts(spark, index_path)
    parts: list[DataFrame] = []
    for i, entry in enumerate(hist):
        files_i = cohorts.filter(F.col("spec_idx") == i).select("file")
        ext = index_extents(
            spark, index_path, list(entry["cols"]), layout=f"spec-{i}"
        ).join(
            F.broadcast(files_i),
            F.col("bucket") == F.col("file"),
            "left_semi",
        )
        parts.append(
            clustering_depth(ext).select(
                F.lit(i).alias("spec_idx"),
                F.lit(",".join(entry["cols"])).alias("spec_cols"),
                "probe_col",
                "n_buckets",
                "overlap_pairs",
                "avg_depth",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("spec_idx", "probe_col")
