"""Data-layout quality: deterministic clustering buckets + clustering depth.

File skipping (``skipping.py``), Parquet row-group pruning, and the
reference's zone maps (SURVEY §2.2, ``src/execution.cpp``
``Predicate::canSkipPage``) all prune IFF each file/page covers a
NARROW value range — which is a property of the data LAYOUT, not of
the index.  At 100 TB layout is the whole game: the same stats index
prunes 99% of files over a well-clustered table and 0% over a
randomly-written one.  This module makes layout measurable and
plannable:

* :func:`with_linear_bucket` / :func:`with_zorder_bucket` —
  DETERMINISTIC bucket assignment (single-column range bins, or
  Morton/Z-order bit interleaving across several columns).  Unlike
  ``repartitionByRange`` (whose boundaries come from sampling),
  bucket ids here are pure expressions of the row's values and the
  table's exact min/max — reproducible across engines, which is what
  lets the clustering metrics below be hash-verified against DuckDB.
* :func:`bucket_extents` / :func:`clustering_depth` — the layout
  quality metric: per bucket (or per written file, via
  :func:`index_extents`) min/max extents of a probe column, and from
  them the OVERLAP DEPTH — for each bucket, how many buckets' ranges
  overlap its own, averaged (the number Snowflake publishes as
  "clustering depth"; avg_depth == 1.0 is perfect clustering: a point
  query on the probe column touches exactly one bucket/file).
* Z-order's value proposition, measurable: clustering on ONE column
  gives depth ~1 on that column and depth ~n on every other; Z-order
  over k columns gives intermediate depth on ALL k — multi-column
  pruning from a single layout.  ``queries/layout.py`` registers the
  comparison as a hash-verified query.

All arithmetic is JVM column expressions (whole-stage codegen); the
only aggregates are the 1-row exact min/max (broadcast in-plan) and
bucket-count-sized groupBys.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from columnar_analytics_engine_spark.functions.dialect import SPARK, Dialect
from columnar_analytics_engine_spark.io import read_files


def scaled_bin(c: str, mn: str, mx: str, levels: int) -> str:
    """Range-bin the expression ``c`` into ``0..levels`` (inclusive)
    given exact [``mn``, ``mx``] bounds: ``floor((c - mn) / (mx - mn)
    * levels)``, clamped.  Every operation is a single IEEE-754 double
    op, so the result is bit-identical across engines (the determinism
    the SQL oracles rely on); the text is the same in both dialects."""
    frac = f"(CAST({c} AS DOUBLE) - {mn}) / greatest({mx} - {mn}, 1e-300)"
    return (
        f"least({levels}, greatest(0, CAST(floor(({frac})"
        f" * CAST({levels} AS DOUBLE)) AS BIGINT)))"
    )


def morton(bins: list[str], bits: int, d: Dialect = SPARK) -> str:
    """Interleave the low ``bits`` bits of each bigint bin expression
    (bin i owns output bit positions ``bit*len(bins) + i``) into one
    Z-order / Morton value — pure shift/mask SQL."""
    terms = " + ".join(
        f"(({d.shift_right(b, bit)} & 1) << {bit * len(bins) + i})"
        for bit in range(bits)
        for i, b in enumerate(bins)
    )
    return f"(CAST(0 AS BIGINT) + {terms})"


def rank_bin(c: str, cuts: list[float], d: Dialect = SPARK) -> str:
    """Quantile-rank bin: the number of ``cuts`` at or below the
    expression ``c`` — 0..len(cuts), one higher-order filter over a
    literal cut array (JVM-side, no join).  With equi-probable cuts
    every bin holds ~the same ROW COUNT regardless of the value
    distribution — the skew-robust twin of :func:`scaled_bin` (whose
    equal-WIDTH bins collapse to one hot bin under power-law columns,
    destroying the interleave's balance)."""
    arr = d.array([f"CAST('{float(x)!r}' AS DOUBLE)" for x in cuts])
    hits = f"{d.filter}({arr}, _x -> CAST({c} AS DOUBLE) >= _x)"
    return f"CAST({d.size}({hits}) AS BIGINT)"


def _with_minmax(df: DataFrame, cols: list[str]) -> DataFrame:
    """Join the exact per-column min/max (as double) alongside every
    row: one 1-row aggregate, broadcast in-plan — no driver collect."""
    stats = df.agg(
        *[F.min(F.col(SPARK.quote(c))).cast("double").alias(f"_mn_{c}") for c in cols],
        *[F.max(F.col(SPARK.quote(c))).cast("double").alias(f"_mx_{c}") for c in cols],
    )
    return df.join(F.broadcast(stats))


def _minmax_bin(c: str, levels: int) -> str:
    """:func:`scaled_bin` of column ``c`` against the ``_with_minmax``
    bounds, every name quoted."""
    q = SPARK.quote
    return scaled_bin(q(c), q(f"_mn_{c}"), q(f"_mx_{c}"), levels)


def with_linear_bucket(df: DataFrame, col: str, n_buckets: int) -> DataFrame:
    """``_bucket`` = deterministic range bin of ``col`` into
    ``n_buckets`` buckets (the model of a single-column clustered
    write, e.g. ``io.write_sorted``)."""
    j = _with_minmax(df, [col])
    return j.withColumn(
        "_bucket",
        F.expr(_minmax_bin(col, n_buckets - 1)),
    ).drop(f"_mn_{col}", f"_mx_{col}")


def with_zorder_bucket(
    df: DataFrame, cols: list[str], n_buckets: int, bits: int = 8
) -> DataFrame:
    """``_bucket`` = top ``log2(n_buckets)`` bits of the Morton value
    over ``cols`` (each range-binned to ``bits`` bits) — the model of a
    Z-order clustered write (``io.write_zorder``).  ``n_buckets`` must
    be a power of two no larger than the Morton key space."""
    k = n_buckets.bit_length() - 1
    if 1 << k != n_buckets:
        raise ValueError("n_buckets must be a power of two")
    width = bits * len(cols)
    if k > width:
        raise ValueError("n_buckets exceeds the Morton key space")
    if width > 62:
        raise ValueError("bits * len(cols) must be <= 62")
    j = _with_minmax(df, cols)
    bins = [_minmax_bin(c, (1 << bits) - 1) for c in cols]
    return j.withColumn(
        "_bucket",
        F.expr(SPARK.shift_right(morton(bins, bits), width - k)),
    ).drop(*[f"_mn_{c}" for c in cols], *[f"_mx_{c}" for c in cols])


def quantile_cuts(
    df: DataFrame, cols: list[str], bits: int, relative_error: float = 0.001
) -> dict[str, list[float]]:
    """Per-column equi-probable cut points for ``2**bits`` rank bins —
    one distributed Greenwald-Khanna pass (``approxQuantile``), cut
    lists collected to the driver (``2**bits - 1`` doubles per column;
    quantile mode caps ``bits`` at 8, so ≤ 255 values)."""
    probs = [i / (1 << bits) for i in range(1, 1 << bits)]
    qs = df.stat.approxQuantile(cols, probs, relative_error)
    return {c: qs[i] for i, c in enumerate(cols)}


def zorder_frame(
    df: DataFrame,
    cols: list[str],
    n_files: int,
    bits: int = 16,
    method: str = "linear",
) -> DataFrame:
    """``df`` arranged in Z-order: Morton value over ``cols`` (each
    binned to ``bits`` bits), range-partitioned into ``n_files`` and
    sorted within each — the arrangement ``io.write_zorder`` persists,
    reusable wherever the writer is different (e.g. per-micro-batch
    clustering inside a ``foreachBatch`` sink).

    ``method='linear'`` (default) bins by equal-WIDTH ranges against
    the exact min/max — zero extra passes, deterministic, right for
    roughly uniform keys.  ``method='quantile'`` bins by equal-
    FREQUENCY rank (one ``approxQuantile`` pass, ``bits`` ≤ 8): under
    a skewed column the linear variant packs most rows into a few hot
    bins — the interleave then orders by the OTHER columns only and
    the skewed column's depth degrades toward no-clustering; rank bins
    keep every bin population-balanced, so the Z-curve keeps locality
    in both dimensions at any skew."""
    if bits * len(cols) > 62:
        raise ValueError("bits * len(cols) must be <= 62")
    if method == "linear":
        j = _with_minmax(df, cols)
        bins = [_minmax_bin(c, (1 << bits) - 1) for c in cols]
        drop = [f"_mn_{c}" for c in cols] + [f"_mx_{c}" for c in cols]
    elif method == "quantile":
        if bits > 8:
            raise ValueError("quantile binning caps bits at 8 (256 bins)")
        cuts = quantile_cuts(df, cols, bits)
        j = df
        bins = [rank_bin(SPARK.quote(c), cuts[c]) for c in cols]
        drop = []
    else:
        raise ValueError(f"unknown binning method {method!r}")
    out = j.withColumn("_z", F.expr(morton(bins, bits)))
    if drop:
        out = out.drop(*drop)
    return (
        out.repartitionByRange(n_files, F.col("_z"))
        .sortWithinPartitions("_z")
        .drop("_z")
    )


def bucket_extents(
    df_bucketed: DataFrame, probe_cols: list[str], layout: str
) -> DataFrame:
    """Long-form per-bucket extents: one row per (bucket, probe column)
    with the bucket's min/max of that column — the inputs to
    :func:`clustering_depth`.  Probe values are compared as double
    (exact for integers up to 2^53).  One explode + one groupBy; the
    shuffle is bucket-count-sized."""
    pairs: list[Column] = []
    for c in probe_cols:
        pairs.extend([F.lit(c), F.col(c).cast("double")])
    long = df_bucketed.select(
        F.lit(layout).alias("layout"),
        F.col("_bucket").cast("string").alias("bucket"),
        F.explode(F.create_map(*pairs)).alias("probe_col", "val"),
    )
    return long.groupBy("layout", "probe_col", "bucket").agg(
        F.min("val").alias("mn"), F.max("val").alias("mx")
    )


def index_extents(
    spark: SparkSession, index_path: str, probe_cols: list[str],
    layout: str = "files",
) -> DataFrame:
    """Per-FILE extents from a stats-skipping index
    (``skipping.build_stats_index``) in the same long form as
    :func:`bucket_extents` — the metric over what was actually
    written, file granularity.  Only int/num columns carry comparable
    bounds; files without stats contribute no row (they would read as
    depth-unknown, not as well-clustered).  A projection of the
    manifest's local relation: collecting it runs no Spark job."""
    from columnar_analytics_engine_spark.manifest import read_manifest

    return (
        read_manifest(spark, index_path)
        .filter(
            F.col("column").isin(*probe_cols)
            & F.col("has_stats")
            & F.col("kind").isin("int", "num")
        )
        .select(
            F.lit(layout).alias("layout"),
            F.col("file").alias("bucket"),
            F.col("column").alias("probe_col"),
            F.coalesce(F.col("min_int").cast("double"), F.col("min_num")).alias("mn"),
            F.coalesce(F.col("max_int").cast("double"), F.col("max_num")).alias("mx"),
        )
    )


def clustering_depth(extents: DataFrame) -> DataFrame:
    """Overlap-depth metrics from a long-form extents frame
    (``layout, probe_col, bucket, mn, mx``):

    * ``n_buckets`` — buckets with non-null extents,
    * ``overlap_pairs`` — unordered bucket pairs whose [mn, mx] ranges
      intersect,
    * ``avg_depth`` — mean over buckets of how many buckets overlap it
      (self included); 1.0 = perfectly disjoint ranges, ``n_buckets``
      = every file overlaps every other (nothing prunes).

    The self-join runs over the bucket-count-sized extents frame (a
    broadcast nested-loop over ≤ file-count rows — planning-scale, not
    data-scale), and the final aggregate is a keyed groupBy, not a
    global reduce."""
    from columnar_analytics_engine_spark.functions.caching import persist_once

    e = persist_once(
        extents.filter(F.col("mn").isNotNull() & F.col("mx").isNotNull())
    )
    a, b = e.alias("a"), F.broadcast(e.alias("b"))
    j = a.join(
        b,
        (F.col("a.layout") == F.col("b.layout"))
        & (F.col("a.probe_col") == F.col("b.probe_col"))
        & (F.col("a.mn") <= F.col("b.mx"))
        & (F.col("b.mn") <= F.col("a.mx")),
    )
    n = F.countDistinct(F.col("a.bucket"))
    total = F.count(F.lit(1))
    return (
        j.groupBy(F.col("a.layout").alias("layout"), F.col("a.probe_col").alias("probe_col"))
        .agg(
            n.alias("n_buckets"),
            ((total - n) / F.lit(2)).cast("long").alias("overlap_pairs"),
            (total.cast("double") / n).alias("avg_depth"),
        )
        .orderBy("layout", "probe_col")
    )


# ---------------------------------------------------------------------------
# Incremental clustering maintenance: at 100 TB the table is never
# rewritten whole.  Appends land as new files whose value ranges
# overlap the clustered ones and the depth metric degrades exactly
# there; compaction selects the overlap-heaviest files FROM THE INDEX
# (a planning-scale decision — no data is read to decide), rewrites
# only those clustered, and swaps the index manifest.  Readers that
# plan from the index (skipping.read_skipping / plan_skipping collect
# the file list from the index, and the streaming sink keeps the same
# contract — streaming/maintenance.py) see the old files until the
# swap and only the new ones after; a crash strands at worst an
# unreferenced rewrite directory, which vacuum_unindexed garbage-
# collects.  This is the OPTIMIZE/compaction loop of the table formats
# (Delta OPTIMIZE ZORDER, Iceberg rewrite_data_files), on plain
# Parquet + the stats index.
# ---------------------------------------------------------------------------


def overlap_candidates(
    spark: SparkSession,
    index_path: str,
    col: str,
    max_files: int = 64,
    min_overlaps: int = 1,
) -> list[str]:
    """Files whose ``col`` extent overlaps at least ``min_overlaps``
    OTHER files' extents, worst first, capped at ``max_files`` — the
    rewrite set.  Computed on the driver from the (file-count-sized)
    extents: with both bound arrays sorted, a file's overlap count is
    ``#{mn <= its mx} - #{mx < its mn}`` minus itself, so the whole
    count is two binary searches per file.  Ties broken by file name
    so the selection is deterministic."""
    import numpy as np

    ext = [
        (r["bucket"], r["mn"], r["mx"])
        for r in index_extents(spark, index_path, [col]).collect()
        if r["mn"] is not None and r["mx"] is not None
    ]
    mn = np.array([e[1] for e in ext], dtype=float)
    mx = np.array([e[2] for e in ext], dtype=float)
    n = (
        np.searchsorted(np.sort(mn), mx, side="right")
        - np.searchsorted(np.sort(mx), mn, side="left")
        - 1
    )
    ranked = sorted(
        (-int(k), f)
        for (f, _, _), k in zip(ext, n)
        if k >= max(1, min_overlaps)
    )
    return [f for _, f in ranked[:max_files]]


def group_by_partition_dir(
    files: list[str], data_path: str
) -> dict[str, list[str]]:
    """Group leaf files by their hive partition directory (files not
    under a ``key=value`` path group under the dataset root).  Every
    partition-scoped rewrite (``cluster_compact``,
    ``deletes.compact_deletes``) must keep rows inside their partition
    directory: renaming rewritten files into the dataset ROOT of a
    partitioned layout mixes leaf files with ``key=value`` dirs, which
    breaks plain directory reads AND basePath leaf-list reads with
    conflicting-directory-structure errors."""
    import os

    def pdir(f: str) -> str:
        rel = os.path.relpath(os.path.dirname(f), data_path)
        return os.path.dirname(f) if "=" in rel else data_path

    groups: dict[str, list[str]] = {}
    for f in files:
        groups.setdefault(pdir(f), []).append(f)
    return groups


def columns_by_file(index_path: str, as_of: int | None = None) -> dict[str, set[str]]:
    """Each manifest file's indexed column set (its physical schema
    cohort on an evolved table)."""
    from columnar_analytics_engine_spark.manifest import manifest_table

    m = manifest_table(index_path, as_of, columns=["file", "column"])
    out: dict[str, set[str]] = {}
    for f, c in zip(m.column("file").to_pylist(), m.column("column").to_pylist()):
        out.setdefault(f, set()).add(c)
    return out


def split_groups_by_cohort(
    spark: SparkSession,
    index_path: str,
    groups: dict[str, list[str]],
) -> list[tuple[str, list[str]]]:
    """The rewrite groups as ``(dest_dir, files)`` pairs, ordered by
    directory: on a schema-EVOLVED table each partition group is
    further split by physical-schema cohort (the per-file column set
    in the manifest).  A multi-file Spark read without mergeSchema
    takes the first file's schema: mixing cohorts in one rewrite would
    silently DROP the bytes of columns the sampled schema lacks.
    Cohort-homogeneous groups preserve every byte; the evolved view
    reconciles at read time as always.  One pair per directory when
    the table never evolved."""
    from columnar_analytics_engine_spark.evolution import read_schema_spec

    cols_of = {} if read_schema_spec(index_path) is None else {
        f: frozenset(cs) for f, cs in columns_by_file(index_path).items()
    }
    out: list[tuple[str, list[str]]] = []
    for dest, files in sorted(groups.items()):
        by_cohort: dict[frozenset, list[str]] = {}
        for f in files:
            by_cohort.setdefault(cols_of.get(f, frozenset()), []).append(f)
        out.extend((dest, fl) for fl in sorted(by_cohort.values(), key=sorted))
    return out


def partition_keys_of(groups: dict[str, list[str]], data_path: str) -> set[str]:
    """The path-encoded partition column names appearing in a
    :func:`group_by_partition_dir` result."""
    import os

    return {
        seg.split("=", 1)[0]
        for d in groups
        if d != data_path
        for seg in os.path.relpath(d, data_path).split(os.sep)
        if "=" in seg
    }


def _swap_index(
    spark: SparkSession,
    index_path: str,
    drop_files: list[str],
    add_files: list[str],
    base_path: str,
    publish: bool = True,
    expected_current: int | None = None,
) -> int:
    """Write the next index-manifest VERSION: current rows minus
    ``drop_files`` plus footer-scanned rows for ``add_files``, then an
    atomic pointer flip (``manifest.write_manifest``).  A crash at any
    point leaves ``_CURRENT`` on the old, complete version — never a
    manifest-less table.  ``publish=False`` stages the version for a
    multi-table transaction commit.  Returns the version number."""
    from columnar_analytics_engine_spark.manifest import (
        current_version,
        manifest_table,
        write_manifest,
    )
    from columnar_analytics_engine_spark.skipping import _rebase_index

    # the conflict check runs against the version this change was
    # computed FROM: the caller's plan-time base when supplied (a
    # compaction's candidate selection may predate this call by the
    # whole rewrite), else this function's own read
    base_version = (
        expected_current if expected_current is not None
        else current_version(index_path)
    )
    # optimistic concurrency: this new version was computed FROM
    # base_version; refuse to publish over someone else's newer one
    return write_manifest(
        spark, index_path,
        _rebase_index(
            spark, index_path, manifest_table(index_path),
            drop_files, add_files, base_path,
        ),
        publish=publish, expected_current=base_version,
    )


def publish_rewrite(
    spark: SparkSession,
    data_path: str,
    index_path: str,
    drop_files: list[str],
    df: DataFrame,
    dest_dir: str | None = None,
    publish: bool = True,
    expected_current: int | None = None,
) -> tuple[list[str], int]:
    """The shared rewrite-publish discipline (cluster_compact /
    compact_deletes / merge_upsert_files): write ``df`` to a staging
    SIBLING of the dataset (a nested subdir would corrupt plain
    directory-listing reads), rename its part files into ``dest_dir``
    (default: the dataset root; a hive partition directory for
    partition-scoped rewrites) under unique ``rewrite-*`` names
    (per-file-atomic), then publish the next index-manifest VERSION
    (drop ``drop_files``, add the new files) with an atomic pointer
    flip.  The originals are NOT deleted: they stay referenced by the
    prior manifest version, so a concurrent reader that planned before
    the flip finishes against intact files, and ``as_of`` reads keep
    working — exactly Delta/Iceberg's tombstone-then-vacuum contract.
    Bytes are reclaimed only by an explicit ``vacuum_unindexed`` after
    the retention window.  A crash strands at worst an unreferenced
    staging sibling or an unpublished manifest version, both vacuum-able
    garbage.  ``df`` must already be arranged (sorted /
    range-partitioned / coalesced) the way the caller wants it
    persisted — and, when ``dest_dir`` is a partition directory, must
    NOT carry the path-encoded partition columns.  ``publish=False``
    stages the manifest version for a multi-table transaction commit.
    Returns ``(new_files, version)`` — the version comes straight from
    ``write_manifest``'s return, never from re-listing the version
    directory (a concurrent writer staging a higher version between
    this publish and a listing would otherwise be reported — and then
    pinned by a transaction commit — as OUR snapshot).

    NOTE: after a rewrite and before vacuum, a PLAIN directory read of
    ``data_path`` sees both the originals and the rewrite (double
    rows).  A maintained table is read through its manifest
    (``skipping.read_skipping`` / ``read_indexed``); plain directory
    reads are only exact again after ``vacuum_unindexed``."""
    import os
    import shutil
    import uuid

    from columnar_analytics_engine_spark.skipping import list_parquet_files

    tag = uuid.uuid4().hex[:12]
    staging = data_path.rstrip("/") + f".rewrite-{tag}"
    df.write.parquet(staging)
    new_files = []
    for i, src in enumerate(list_parquet_files(staging)):
        dst = os.path.join(dest_dir or data_path, f"rewrite-{tag}-{i:05d}.parquet")
        os.rename(src, dst)
        new_files.append(dst)
    shutil.rmtree(staging, ignore_errors=True)
    version = _swap_index(
        spark, index_path, drop_files, new_files, data_path, publish=publish,
        expected_current=expected_current,
    )
    return new_files, version


def _n_out(files: list[str], target_file_bytes: int) -> int:
    """Output file count for rewriting ``files`` at the target size."""
    import os

    total = sum(os.path.getsize(f) for f in files)
    return max(1, int((total + target_file_bytes - 1) // target_file_bytes))


def rewrite_groups(
    spark: SparkSession,
    data_path: str,
    index_path: str,
    files: list[str],
    arrange: Callable[[DataFrame, list[str]], DataFrame],
    expected_current: int | None,
    min_files: int = 2,
    sort_cols: list[str] | tuple[str, ...] = (),
) -> dict:
    """The one rewrite loop of the maintenance ops (``cluster_compact``,
    ``compact_small_files``, ``deletes.compact_deletes``): group
    ``files`` by hive partition directory, then by schema cohort
    (:func:`split_groups_by_cohort`); read each group of at least
    ``min_files`` as leaf files WITHOUT basePath (partition values stay
    path-encoded and out of the rewritten files), persist
    ``arrange(df, group_files)`` with :func:`publish_rewrite` into the
    group's own directory, and thread the optimistic-concurrency base
    version from one publish to the next, starting at
    ``expected_current`` (the caller's plan-time version).  Rows never
    leave their partition directory: a root-level rewrite would mix
    leaf files with ``key=value`` dirs and corrupt plain
    directory-listing reads; cross-partition overlap cannot be merged
    (the path IS the partition value).  ``sort_cols`` that are
    path-encoded partition columns are rejected before anything is
    written."""
    by_dir = group_by_partition_dir(files, data_path)
    bad = partition_keys_of(by_dir, data_path) & set(sort_cols)
    if bad:
        raise ValueError(
            f"columns {sorted(bad)} are path-encoded partition columns; "
            "cluster or sort on data columns inside each partition"
        )
    out = {"rewritten": 0, "new_files": 0, "groups": 0}
    for dest, group in split_groups_by_cohort(spark, index_path, by_dir):
        if len(group) < min_files:
            continue
        df = read_files(spark, data_path, group, base_path=False)
        new_files, expected_current = publish_rewrite(
            spark, data_path, index_path, group, arrange(df, group),
            dest_dir=dest if dest != data_path else None,
            expected_current=expected_current,
        )
        out["rewritten"] += len(group)
        out["new_files"] += len(new_files)
        out["groups"] += 1
    return out


def cluster_compact(
    spark: SparkSession,
    data_path: str,
    index_path: str,
    cols: list[str] | None = None,
    max_files: int = 64,
    min_overlaps: int = 1,
    bits: int = 16,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> dict:
    """Index-driven incremental re-clustering: rewrite only the
    overlap-heaviest files (chosen on ``cols[0]``'s extents) Z-ordered
    over ``cols`` (range-sorted when one column), then publish the next
    index-manifest version; originals persist until
    ``vacuum_unindexed``.

    Rewriting ANY subset preserves results — the new files hold
    exactly the rewritten rows, just re-arranged — so the cap bounds
    each maintenance run's I/O to ``max_files`` regardless of table
    size, and repeated runs converge the depth metric.  The rewrite is
    staged in a SIBLING directory (a nested subdir would corrupt plain
    directory-listing parquet reads), its part files are renamed into
    the dataset root under unique ``rewrite-*`` names (per-file-atomic
    on POSIX), and the next index-manifest version publishes with an
    atomic pointer flip.  The rewritten originals stay on disk,
    referenced by the prior manifest version, until
    ``vacuum_unindexed`` reclaims them — concurrent index-planned
    readers and ``as_of`` reads never see a torn state, and a crash
    strands at worst vacuum-able garbage.  ``update_stats_index`` is
    retention-aware: it never re-adopts files an older retained
    version references.

    ``cols=None`` clusters by the table's ACTIVE cluster spec
    (``clusterspec.set_cluster_spec``) — the maintenance loop that
    lazily converges old cohorts onto a switched spec, Iceberg's
    partition-spec-evolution shape.
    """
    from columnar_analytics_engine_spark.manifest import current_version

    if cols is None:
        from columnar_analytics_engine_spark.clusterspec import (
            active_cluster_spec,
        )

        spec = active_cluster_spec(index_path)
        if spec is None:
            raise ValueError(
                "cols=None requires a declared cluster spec "
                "(clusterspec.set_cluster_spec)"
            )
        cols = list(spec["cols"])
    expected = current_version(index_path)
    cand = overlap_candidates(
        spark, index_path, cols[0], max_files=max_files,
        min_overlaps=min_overlaps,
    )
    if len(cand) < 2:
        return {"rewritten": 0, "new_files": 0, "groups": 0}

    def arrange(df: DataFrame, files: list[str]) -> DataFrame:
        n = _n_out(files, target_file_bytes)
        if len(cols) == 1:
            return df.repartitionByRange(n, *cols).sortWithinPartitions(*cols)
        return zorder_frame(df, cols, n, bits=bits)

    return rewrite_groups(
        spark, data_path, index_path, cand, arrange, expected, sort_cols=cols
    )


def vacuum_unindexed(
    spark: SparkSession,
    data_path: str,
    index_path: str,
    keep_versions: int = 1,
    protect_versions: tuple[int, ...] = (),
    dry_run: bool = False,
    extra_indexes: tuple[str, ...] = (),
) -> list[str]:
    """The one place bytes are destroyed (Delta ``VACUUM``'s role):
    expire manifest versions beyond the newest ``keep_versions``
    published ones, then delete data files no RETAINED version
    references — rewritten originals past their retention window,
    crashed-compact strays — plus crashed staging SIBLINGS
    (``<data>.rewrite-*``).  Returns the deleted paths.

    ``keep_versions=1`` reclaims everything but the current snapshot
    (plain directory reads of ``data_path`` are exact again after
    this); a larger window keeps ``as_of`` time travel and in-flight
    readers alive for the last N maintenance operations.  Run it on
    the operator's schedule, after the longest query you expect to
    overlap a maintenance run — a reader holding a plan older than the
    retention window is the one failure mode this contract does not
    cover (same as every table format).  ``protect_versions`` pins
    specific versions past the window — thread a transaction catalog's
    pinned snapshots through here so vacuum never destroys a version a
    committed catalog still references
    (``transaction.pinned_versions``).  ``dry_run=True`` returns what
    WOULD be deleted (data files + staging siblings; version expiry is
    simulated against the same retention math) without touching
    anything — the look-before-you-delete every retention tool
    needs.

    ``extra_indexes``: other indexes sharing this data directory —
    zero-copy branches (``branch.clone_table``); pass
    ``branch.family_indexes(index_path)`` so no file a live branch's
    retained versions reference is deleted.  Version expiry still
    applies only to ``index_path`` (each branch runs its own vacuum
    for its own history)."""
    import glob
    import os
    import shutil
    import time

    from columnar_analytics_engine_spark.manifest import (
        ORPHAN_GRACE_SEC,
        expire_versions,
        referenced_files,
        surviving_versions,
    )
    from columnar_analytics_engine_spark.skipping import list_parquet_files

    if dry_run:
        # version expiry simulated with the same retention math
        retained = list(
            surviving_versions(index_path, keep_versions, protect=protect_versions)
        ) or None
    else:
        # expire FIRST, then protect every version still on disk: one
        # staged concurrently after the expiry stays protected
        expire_versions(index_path, keep_versions, protect=protect_versions)
        retained = None
    norm_self = os.path.normpath(index_path)
    others = [e for e in extra_indexes if os.path.normpath(e) != norm_self]
    keep = referenced_files(index_path, retained)
    for idx in others:
        keep |= referenced_files(idx)
    doomed = [f for f in list_parquet_files(data_path) if f not in keep]
    # staging siblings: reclaim only past the in-flight grace window —
    # with branches, a rewrite may be mid-flight from ANOTHER owner
    now = time.time()
    staging = []
    for d in sorted(glob.glob(data_path.rstrip("/") + ".rewrite-*")):
        try:
            if others and now - os.stat(d).st_mtime < ORPHAN_GRACE_SEC:
                continue  # possibly a live branch's in-flight rewrite
        except FileNotFoundError:
            continue
        staging.append(d)
    if not dry_run:
        for f in doomed:
            os.remove(f)
        for d in staging:
            shutil.rmtree(d, ignore_errors=True)
    return doomed + staging


def vacuum_expired_references(
    spark: SparkSession,
    index_path: str,
    keep_versions: int = 1,
    protect_versions: tuple[int, ...] = (),
) -> list[str]:
    """The NARROW retention step for an automated (per-batch) cadence:
    expire manifest versions beyond the window and delete ONLY the data
    files those just-expired versions referenced and no surviving
    version still does — i.e. compaction-dropped originals leaving the
    retention window.  Returns the deleted paths.

    Unlike :func:`vacuum_unindexed` (disk-minus-referenced — the full
    sweep an OPERATOR runs), this never touches a file the index has
    never referenced: a parquet file appended to the data directory by
    another writer (a backfill, a second pipeline) between index
    updates is left alone for ``update_stats_index``'s documented
    new-file adoption instead of being destroyed.  The coupled
    expire+reclaim still prevents the re-adoption hazard the streaming
    sink documents: a dropped original is deleted at exactly the
    moment the last manifest version naming it expires, so it can
    never be re-adopted as a "new" file and double-count."""
    import os

    from columnar_analytics_engine_spark.manifest import (
        expire_versions,
        list_versions,
        referenced_files,
        surviving_versions,
    )

    survivors = surviving_versions(
        index_path, keep_versions, protect=protect_versions
    )
    expiring = [v for v in list_versions(index_path) if v not in survivors]
    if not expiring:
        return []
    doomed_refs = referenced_files(index_path, expiring)
    expire_versions(index_path, keep_versions, protect=protect_versions)
    keep = referenced_files(index_path)
    removed = []
    for f in sorted(doomed_refs - keep):
        try:
            os.remove(f)
        except FileNotFoundError:
            continue
        removed.append(f)
    return removed


def compact_small_files(
    spark: SparkSession,
    data_path: str,
    index_path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    small_bytes: int | None = None,
    max_files: int = 64,
    cols: list[str] | None = None,
) -> dict:
    """Small-file compaction (the OTHER maintenance axis):
    ``cluster_compact`` selects by value-range OVERLAP, so a
    well-sorted table of ten thousand tiny files — exactly what a
    micro-batch streaming sink produces — never qualifies.  This
    selects by SIZE: files under ``small_bytes`` (default: half the
    target) from the current manifest, grouped per partition directory
    and schema cohort (same safety rules as every rewrite here),
    bin-packed into ``ceil(total/target)`` outputs per group, capped at
    ``max_files`` per run so each maintenance tick is bounded I/O.
    With ``cols`` the rewritten rows are range-sorted on those columns
    (repairing clustering while compacting); without, files coalesce
    as-is — row order inside the group is preserved per Spark's
    file-order scan, and results are identical either way (manifest
    publish discipline, originals persist until vacuum)."""
    import os

    from columnar_analytics_engine_spark.manifest import current_version, manifest_files

    files = manifest_files(index_path)
    cutoff = small_bytes if small_bytes is not None else target_file_bytes // 2
    expected = current_version(index_path)
    small = [
        f for f in files
        if os.path.exists(f) and os.path.getsize(f) < cutoff
    ][:max_files]

    def arrange(df: DataFrame, flist: list[str]) -> DataFrame:
        n = _n_out(flist, target_file_bytes)
        if cols:
            return df.repartitionByRange(n, *cols).sortWithinPartitions(*cols)
        return df.coalesce(n)

    return rewrite_groups(
        spark, data_path, index_path, small, arrange, expected,
        sort_cols=cols or (),
    )


def table_health(
    spark: SparkSession,
    data_path: str,
    index_path: str,
    dv_path: str | None = None,
    probe_cols: list[str] | None = None,
) -> dict:
    """One-call health report for a maintained table — the numbers an
    operator reads before scheduling OPTIMIZE / VACUUM (Delta's
    DESCRIBE DETAIL + OPTIMIZE preview, on plain Parquet):

    * size: current-manifest file count, bytes, mean file MB (small-file
      pressure), plus rows from the manifest's footer counts;
    * history: retained manifest versions and the published one;
    * reclaimable: what a ``vacuum_unindexed(keep_versions=1)`` would
      delete right now (dry run — nothing is touched);
    * deletes: live tombstone count and how many files carry them;
    * clustering: per probe column, the avg overlap depth from the
      stats index (1.0 = point query touches one file) and the
      ``overlap_candidates`` count a compaction would rewrite;
    * evolution: whether a schema spec exists and the physical cohort
      count.

    Everything is metadata-scale: manifest reads, footer counts already
    in the index, zero data-file I/O."""
    import os

    from columnar_analytics_engine_spark.deletes import dv_table
    from columnar_analytics_engine_spark.evolution import read_schema_spec
    from columnar_analytics_engine_spark.manifest import (
        current_version,
        file_rows,
        list_versions,
    )

    rows_of = file_rows(index_path)
    n_files = len(rows_of)
    total_bytes = sum(os.path.getsize(f) for f in rows_of if os.path.exists(f))
    report: dict = {
        "files": n_files,
        "rows": sum(rows_of.values()) if rows_of else None,
        "total_mb": round(total_bytes / 1e6, 2),
        "avg_file_mb": round(total_bytes / 1e6 / max(1, n_files), 2),
        "current_version": current_version(index_path),
        "retained_versions": list_versions(index_path),
        "reclaimable_files": len(
            vacuum_unindexed(
                spark, data_path, index_path, keep_versions=1, dry_run=True
            )
        ),
    }
    dv_files = dv_table(dv_path).column("file").to_pylist() if dv_path else []
    report["tombstones"] = len(dv_files)
    report["tombstoned_files"] = len(set(dv_files))
    from columnar_analytics_engine_spark.clusterspec import (
        read_spec_history,
    )

    cluster_hist = read_spec_history(index_path)
    report["cluster_specs"] = len(cluster_hist)
    if cluster_hist:
        report["active_cluster_cols"] = cluster_hist[-1]["cols"]
    spec = read_schema_spec(index_path)
    report["evolved"] = spec is not None
    report["cohorts"] = len(
        {frozenset(cs) for cs in columns_by_file(index_path).values()}
    )
    if probe_cols:
        depth = {
            (r["probe_col"]): round(r["avg_depth"], 2)
            for r in clustering_depth(
                index_extents(spark, index_path, probe_cols)
            ).collect()
        }
        report["avg_depth"] = depth
        report["compact_candidates"] = {
            c: len(overlap_candidates(spark, index_path, c, max_files=10_000))
            for c in probe_cols
        }
    return report


def merge_upsert_files(
    spark: SparkSession,
    data_path: str,
    index_path: str,
    source: DataFrame,
    key: str,
    max_keys: int = 100_000,
    bloom_path: str | None = None,
    target_file_bytes: int = 128 * 1024 * 1024,
    publish: bool = True,
) -> dict:
    """MERGE-on-write with I/O bounded by the AFFECTED files: upsert
    ``source`` rows into the dataset by ``key`` (source wins on
    conflict, unmatched source rows insert), rewriting only the files
    the stats index says might contain a source key.

    The affected set comes from ``skipping.plan_skipping_join`` (files
    whose key interval — and bloom filter, when ``bloom_path`` is
    given — can contain at least one source key; files without usable
    stats count as affected).  Its superset guarantee is exactly what
    MERGE needs: a key absent from every affected file is absent from
    the table, so writing ALL source rows into the rewrite both
    updates matches and inserts the rest.  On a key-clustered table a
    10k-row upsert rewrites a handful of files; on a shuffled table
    the honest answer is "most of them" (the bloom index tightens it).

    Same contract as ``operators.merge.merge_upsert`` (key-unique
    sides, matching schemas — the frame-level twin for when a full
    rewrite is intended anyway) and the same publish discipline /
    crash story as the other maintenance ops (``publish_rewrite``).
    Fold deletion vectors FIRST (``deletes.compact_deletes``): the
    rewrite reads physical rows and does not consult DVs.
    ``publish=False`` stages the new manifest version without the
    pointer flip — the building block of a multi-table transaction
    (``transaction.py``); the returned ``version`` is what the catalog
    commit pins.

    Hive-partitioned layouts are rejected: a MERGE rewrite would have
    to route every merged row (including inserts for partitions with no
    affected file) into its ``key=value`` directory, which requires the
    partition columns in ``source`` and a per-partition publish — MERGE
    each partition directory separately (``data_path=<partition dir>``
    with a partition-scoped index), or use
    ``operators.merge.merge_upsert`` when a full rewrite is intended."""
    from columnar_analytics_engine_spark.skipping import (
        list_parquet_files,
        plan_skipping_join,
    )

    part_groups = group_by_partition_dir(
        list_parquet_files(data_path), data_path
    )
    if any(d != data_path for d in part_groups):
        raise ValueError(
            "merge_upsert_files does not support hive-partitioned "
            f"layouts (partition columns {sorted(partition_keys_of(part_groups, data_path))}); "
            "merge each partition directory separately or use "
            "operators.merge.merge_upsert for a full rewrite"
        )

    from columnar_analytics_engine_spark.manifest import current_version

    expected = current_version(index_path)
    plan = plan_skipping_join(
        spark, index_path, key, source.select(key), max_keys,
        bloom_path=bloom_path,
    )
    affected = plan["files"]
    if not affected:
        # no file can hold any source key: pure insert
        n_files = 1
        new_files, version = publish_rewrite(
            spark, data_path, index_path, [], source.coalesce(n_files),
            publish=publish, expected_current=expected,
        )
        return {"affected_files": 0, "new_files": len(new_files),
                "pruned_files": plan["files_pruned"],
                "version": version}
    n_files = _n_out(affected, target_file_bytes)
    # evolved tables: read affected cohorts under the CURRENT logical
    # schema so the rewrite lazily materializes adds/renames/widenings
    from columnar_analytics_engine_spark.evolution import read_evolved

    old = read_evolved(spark, data_path, index_path, files=affected)
    merged = old.join(
        F.broadcast(source.select(key)), key, "left_anti"
    ).unionByName(source)
    new_files, version = publish_rewrite(
        spark, data_path, index_path, affected,
        merged.repartitionByRange(n_files, key).sortWithinPartitions(key),
        publish=publish, expected_current=expected,
    )
    return {
        "affected_files": len(affected),
        "new_files": len(new_files),
        "pruned_files": plan["files_pruned"],
        "version": version,
    }
