"""Table I/O: read/write Parquet tables and inspect file-level metadata.

Reference parity (SURVEY.md §2.1):
  - FileWriter (format.h:93-112, src/format.cpp:130-441)  -> ``write_table``
    Parquet owns row groups / column chunks / pages / encodings / stats;
    ``rows_per_row_group`` maps to ``parquet.block.size``-style chunking
    the reference exposed as flushRowGroup().
  - FileReader (format.h:115-131, src/format.cpp:444-718) -> ``read_table``
  - CLI ``scan`` metadata dump (src/cli.cpp:120-170)      -> ``describe``
    Spark doesn't expose page-level detail; PyArrow (already a PySpark
    dependency) reads the same Parquet footer.
"""

from __future__ import annotations

import os
import re
import threading
from contextlib import contextmanager
from typing import Any, Callable, Iterator, TypeVar

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


_T = TypeVar("_T")


def stat_memo(cache: dict[str, tuple[tuple, _T]], path: str, key: tuple | None,
              build: Callable[[], _T]) -> _T:
    """``build()``, memoized in ``cache`` for ``path`` under ``key``
    (one that embeds :func:`_stat_identity`, so a changed file misses).
    One entry per absolute path: a new key replaces the superseded
    entry, so the memo is bounded by the paths read.  ``key`` None (no
    identity: missing path, no part file) builds without storing."""
    if key is None:
        return build()
    apath = os.path.abspath(path)
    hit = cache.get(apath)
    if hit is not None and hit[0] == key:
        return hit[1]
    value = build()
    cache[apath] = (key, value)
    return value


_CONF_LOCK = threading.RLock()


@contextmanager
def session_confs(spark: SparkSession, confs: dict[str, str]) -> Iterator[None]:
    """Set ``confs`` on ``spark`` for the block, then restore (or unset)
    the previous values.  Session confs are shared by every thread using
    the session, so blocks are serialized by one process-wide lock: two
    threads cannot interleave their saves and restores and leave a value
    set.  Keep the block to plan construction — Spark captures the confs
    into the plan there — so the lock is held only briefly."""
    with _CONF_LOCK:
        prev = {k: spark.conf.get(k, None) for k in confs}
        for k, v in confs.items():
            spark.conf.set(k, v)
        try:
            yield
        finally:
            for k, old in prev.items():
                if old is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, old)


# path -> (stat identity, ns-column list).  ``read_table`` runs on every
# query INVOCATION (the bench times 3 runs per query), and the pyarrow
# footer open below is driver-side, single-threaded work paid per call;
# the answer only changes when a file changes, so the memo
# (:func:`stat_memo`) is keyed on the stat identity.
_NS_FIELDS_CACHE: dict[str, tuple[tuple, list[str]]] = {}


def _first_part(p: str) -> str | None:
    """The first data part file of a parquet file-or-directory path —
    the file schema inspection actually reads (None: empty dir)."""
    if not os.path.isdir(p):
        return p
    parts = [
        f
        for f in sorted(os.listdir(p))
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    ]
    return os.path.join(p, parts[0]) if parts else None


def _stat_identity(path: str) -> tuple | None:
    """Stat-based identity of a parquet file/directory: the path stat
    plus every part file's ``(name, mtime_ns, size)``, so both dirent
    changes (files added/removed/renamed — every Spark-style rewrite)
    and an in-place rewrite of ANY part file change it (None: missing
    path or no part file)."""
    try:
        st = os.stat(path)
        if not os.path.isdir(path):
            return (os.path.abspath(path), st.st_mtime_ns, st.st_size)
        parts = tuple(
            (e.name, e.stat().st_mtime_ns, e.stat().st_size)
            for e in sorted(os.scandir(path), key=lambda e: e.name)
            if e.name.endswith(".parquet") and not e.name.startswith(("_", "."))
        )
    except OSError:
        return None
    if not parts:
        return None
    return (os.path.abspath(path), st.st_mtime_ns, st.st_size, parts)


def _ns_timestamp_fields(path: str) -> list[str]:
    """Names of TIMESTAMP(NANOS) columns in a parquet file/directory.

    Spark has no nanosecond timestamp type; such columns are read as
    raw int64 (``spark.sql.legacy.parquet.nanosAsLong``) and converted
    to microsecond timestamps — the same truncation DuckDB applies.
    """
    import pyarrow.parquet as pq
    import pyarrow.types as pat

    def _compute() -> list[str]:
        file_path = _first_part(path)
        if file_path is None:
            return []
        schema = pq.read_schema(file_path)
        ns_names = {
            f.name
            for f in schema
            if pat.is_timestamp(f.type) and f.type.unit == "ns"
        }
        if not ns_names:
            return []
        # PyArrow also reports legacy INT96 timestamps as timestamp[ns],
        # but Spark decodes INT96 natively (nanosAsLong does not apply);
        # only physical-INT64 TIMESTAMP(NANOS) columns need the raw-long
        # path.
        phys = pq.ParquetFile(file_path).schema
        int64_cols = {
            phys.column(i).name
            for i in range(len(phys))
            if phys.column(i).physical_type == "INT64"
        }
        return sorted(ns_names & int64_cols)

    return stat_memo(_NS_FIELDS_CACHE, path, _stat_identity(path), _compute)


# path -> ((applicationId, table stat identity), resolved DataFrame).
# ``spark.read.parquet`` lists the directory and infers the schema from
# a footer on EVERY call — ~80 ms of driver-side work per table per
# invocation (measured round 15: join_star_tpch_q5 re-resolved its six
# tables per timed run, 0.49 s of its 0.55 s total).  A DataFrame is a
# lazy immutable plan, so reusing it across invocations is CATALOG
# metadata caching (what a metastore does in production), not result
# caching: no rows are materialized, every action recomputes from the
# parquet files, and the memo invalidates when the table's stat
# identity changes (file added/removed/rewritten) or the session is a
# different application (:func:`stat_memo`).
_TABLE_DF_CACHE: dict[str, tuple[tuple, DataFrame]] = {}


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one named table from a scale-factor directory.

    Equivalent of FileReader(path) + typed column reads
    (src/format.cpp:444-718): schema comes from the Parquet footer,
    column decode is the vectorized Parquet reader, and predicate /
    projection pushdown happen when the caller filters/selects.
    Nanosecond timestamps are truncated to Spark's microsecond
    resolution on read.

    The resolved DataFrame is memoized per path and re-resolved when
    any part file is added, removed or rewritten, so repeated calls
    return the SAME DataFrame object.  Callers share it: a self-join
    must alias the two sides (``df.alias("a")``) or rename columns
    first, as a join condition built from ``df["col"]`` on both sides
    of one shared object is ambiguous.
    """
    from pyspark.sql import functions as F

    path = table_path(sf_dir, name)
    ident = _stat_identity(path)

    def _resolve() -> DataFrame:
        ns_cols = _ns_timestamp_fields(path)
        # Parquet TIMESTAMP(MICROS, isAdjustedToUTC=false) would otherwise
        # be inferred as TIMESTAMP_NTZ, which Spark's epoch/tz functions
        # reject; reading it as session-tz TIMESTAMP (session tz is pinned
        # UTC) gives the exact semantics the DuckDB oracle applies to naive
        # timestamps, and keeps filter pushdown on the scan (a post-read
        # cast would not).  Confs are captured into the scan at read-plan
        # time, so they can be restored immediately — later reads by the
        # caller are unaffected.
        confs = {"spark.sql.parquet.inferTimestampNTZ.enabled": "false"}
        if ns_cols:
            confs["spark.sql.legacy.parquet.nanosAsLong"] = "true"
        with session_confs(spark, confs):
            df = spark.read.parquet(path)
        for c in ns_cols:
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` DIV 1000")))
        return df

    key = None if ident is None else (spark.sparkContext.applicationId,) + ident
    return stat_memo(_TABLE_DF_CACHE, path, key, _resolve)


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLE_NAMES) -> dict[str, DataFrame]:
    """Read every table in ``sf_dir`` and register each as a temp view so
    the SQL API (spark.sql) works against the same catalog names the
    DuckDB oracle uses."""
    out: dict[str, DataFrame] = {}
    for name in names:
        path = table_path(sf_dir, name)
        if os.path.exists(path):
            df = read_table(spark, sf_dir, name)  # handles ns timestamps
            df.createOrReplaceTempView(name)
            out[name] = df
    return out


def read_files(
    spark: SparkSession, data_path: str, files: list[str], base_path: bool = True
) -> DataFrame:
    """Read the Parquet ``files`` of the table at ``data_path`` (none:
    its schema, no rows).  ``base_path`` keeps hive partition columns
    alive; rewrites pass ``False`` so partition values stay out of the
    rewritten files.  The schema Spark's inference would take verbatim
    — the row-metadata key in the lexicographically first file's footer
    — is read on the driver and passed to ``.schema(...)``, saving the
    inference job; without that key (pandas/DuckDB writers), a footer
    the driver cannot read, or ``mergeSchema`` on, Spark infers.

    Past ``spark.sql.sources.parallelPartitionDiscovery.threshold``
    paths (default 32) Spark lists leaf files with a Spark job, although
    the list is already here; for local (scheme-less or ``file:``)
    paths the threshold is raised to ``len(files)`` while the DataFrame
    is built (the listing happens then) and restored after it, under
    :func:`session_confs`.  Object-store URIs keep Spark's parallel
    listing."""
    if not files:
        return spark.read.parquet(data_path).where("false")
    reader = spark.read
    if base_path and os.path.isdir(data_path):
        reader = reader.option("basePath", data_path)
    schema = _spark_footer_schema(min(files))
    if schema and spark.conf.get("spark.sql.parquet.mergeSchema").lower() != "true":
        reader = reader.schema(schema)
    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    if len(files) <= int(spark.conf.get(key)) or any(
        re.match(r"[A-Za-z][A-Za-z0-9+.-]*:", f) and not f.startswith("file:") for f in files
    ):
        return reader.parquet(*files)
    with session_confs(spark, {key: str(len(files))}):
        return reader.parquet(*files)


def _spark_footer_schema(path: str):
    """The ``StructType`` Spark stored in ``path``'s footer, or None."""
    import json

    import pyarrow.parquet as pq
    from pyspark.sql.types import StructType

    try:
        meta = pq.read_metadata(path).metadata or {}
        raw = meta.get(b"org.apache.spark.sql.parquet.row.metadata")
        return StructType.fromJson(json.loads(raw)) if raw else None
    except (OSError, ValueError, KeyError):
        # unreadable from the driver, or a pre-JSON (Spark 1.x) schema
        # string: Spark infers it as before
        return None


def write_table(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    row_group_bytes: int | None = None,
    partition_by: list[str] | None = None,
    compression: str | None = None,
    column_options: dict[str, dict[str, Any]] | None = None,
) -> None:
    """Write a DataFrame as Parquet.

    Mirrors FileWriter + flushRowGroup (src/format.cpp:380-420): one
    reference row group ≈ one Parquet row group, sized here in bytes via
    ``parquet.block.size``.  Encodings (PLAIN / RLE / DELTA / DICTIONARY,
    src/encoding.cpp) and min/max/null-count page stats
    (src/format.cpp:153-205) are chosen and written by Parquet
    automatically.  ``partition_by`` adds directory-level partition
    pruning the reference never had — the 100 TB path.  ``compression``
    picks the parquet codec ('snappy' default, 'zstd' for cold data,
    'none' for parity with the reference's uncompressed format —
    /root/reference/README.md:132 lists "no compression" as a limit).

    ``column_options`` is the per-column control surface the reference
    declares in its schema (``include/format.h:49-61`` carries the
    encoding per column; ``cli.cpp:29-62`` sets it at write time).
    Parquet picks ENCODINGS automatically, but the writer exposes the
    same *control* per column via parquet-hadoop's ``option#column``
    form::

        column_options={"city": {"dictionary": False},
                        "user_id": {"bloom_filter": True}}

    ``dictionary`` toggles dictionary encoding for that column;
    ``bloom_filter`` writes a split-block bloom filter (the point-lookup
    analogue of the reference's min/max page stats).
    """
    writer = df.write.mode(mode)
    if row_group_bytes is not None:
        writer = writer.option("parquet.block.size", str(row_group_bytes))
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if compression is not None:
        writer = writer.option("compression", compression)
    for col, opts in (column_options or {}).items():
        if "dictionary" in opts:
            writer = writer.option(
                f"parquet.enable.dictionary#{col}", str(bool(opts["dictionary"])).lower()
            )
        if "bloom_filter" in opts:
            writer = writer.option(
                f"parquet.bloom.filter.enabled#{col}", str(bool(opts["bloom_filter"])).lower()
            )
    writer.parquet(path)


def write_jsonl(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    compression: str | None = None,
    n_files: int | None = None,
) -> None:
    """Export as JSON-lines — the interchange format training loaders
    (and the ``read_json`` ingest path) consume.

    ``n_files`` controls shard fan-out: training readers want
    many similar-size shards, so a repartition (round-robin, one
    shuffle) right-sizes them; None keeps the input partitioning.
    ``compression`` ('gzip'/'zstd'/None) trades CPU for the 3-10x
    text-ratio — at 100 TB the uncompressed export is usually the
    mistake.
    """
    out = df.repartition(n_files) if n_files else df
    writer = out.write.mode(mode)
    if compression is not None:
        writer = writer.option("compression", compression)
    writer.json(path)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    n_buckets: int = 16,
    sort_col: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist as a bucketed (hash-clustered) managed table.

    Bucketing is the 100 TB co-location primitive: two tables bucketed
    on the same key with the same bucket count join WITHOUT a shuffle
    (asserted in tests/test_scale_ops.py).  Spark requires
    ``saveAsTable`` for bucket metadata — files alone can't carry it.
    """
    writer = df.write.mode(mode).bucketBy(n_buckets, bucket_col)
    if sort_col:
        writer = writer.sortBy(sort_col)
    writer.saveAsTable(table_name)


def write_sorted(
    df: DataFrame,
    path: str,
    sort_cols: list[str],
    n_files: int = 32,
    mode: str = "overwrite",
    row_group_bytes: int | None = None,
) -> None:
    """Range-partitioned, within-file-sorted Parquet export.

    ``repartitionByRange`` splits rows into ``n_files`` contiguous key
    ranges (sampled range bounds, one shuffle) and ``sortWithinPartitions``
    orders each range locally — a distributed global sort with NO
    single-partition stage.  The payoff at 100 TB: every file covers a
    narrow, non-overlapping key range, so Parquet min/max row-group
    stats prune reads down to the files that can match (the zone-map
    effect the reference got per page, here per file × row group), and
    merge-style consumers stream files in key order.
    """
    out = df.repartitionByRange(n_files, *sort_cols).sortWithinPartitions(*sort_cols)
    writer = out.write.mode(mode)
    if row_group_bytes is not None:
        writer = writer.option("parquet.block.size", str(row_group_bytes))
    writer.parquet(path)


def read_evolved(spark: SparkSession, *paths: str) -> DataFrame:
    """Read Parquet shards written under an EVOLVING schema as one
    DataFrame with the merged (union) schema.

    A 100 TB corpus is written over months; later shards grow columns
    (a new quality score, a language tag).  A plain read takes the
    schema from one footer and silently DROPS the newer columns —
    ``mergeSchema`` reconciles all footers instead; shards missing a
    column surface NULLs there.  Type conflicts across shards raise
    (the correct outcome — silent coercion corrupts data at scale).
    """
    return spark.read.option("mergeSchema", "true").parquet(*paths)


def write_shuffled(
    df: DataFrame,
    path: str,
    key_col: str,
    seed: int = 0,
    n_files: int = 32,
    mode: str = "overwrite",
) -> None:
    """Deterministic (seeded) global shuffle export — training-order
    randomization that is reproducible across runs and engines.

    ``rand()`` reshuffles differently every run (and per task retry!),
    which breaks resumable training and run-to-run comparisons.  Here
    BOTH the shard a row lands in and its order within the shard are
    pure functions of (key, seed): shard = keyed-md5(key) mod n_files,
    within-shard order = (hash, key).  Same seed ⇒ the same rows in the
    same order in every shard, run after run — so "resume from shard N"
    re-reads exactly the same data; new seed ⇒ a fresh permutation.
    (``repartitionByRange`` would NOT give this: its range bounds come
    from run-local sampling, so file membership drifts between runs.)

    The output is directory-partitioned by ``shard_id`` (readable back
    as a column — the shard manifest).  Rows sharing a key collide into
    the same shard at the same rank with nondeterministic relative
    order; use a unique key (doc id) for full determinism.  NULL keys
    hash via a sentinel and shuffle like any other value.
    """
    from pyspark.sql import functions as F

    from columnar_analytics_engine_spark.functions.dialect import SPARK
    from columnar_analytics_engine_spark.functions.hashing import h60

    key = f"coalesce(CAST({SPARK.quote(key_col)} AS STRING), {SPARK.lit(chr(0))})"
    rk = F.expr(h60(f"shuffle{seed}:", key))
    out = (
        df.withColumn("_shuffle_rank", rk)
        .withColumn("shard_id", F.pmod(F.col("_shuffle_rank"), F.lit(n_files)).cast("int"))
        .repartition(n_files, F.col("shard_id"))
        .sortWithinPartitions("shard_id", "_shuffle_rank", key_col)
        .drop("_shuffle_rank")
    )
    out.write.mode(mode).partitionBy("shard_id").parquet(path)


def write_zorder(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_files: int = 32,
    bits: int = 16,
    mode: str = "overwrite",
    row_group_bytes: int | None = None,
    method: str = "linear",
) -> None:
    """Z-order (Morton-curve) clustered Parquet export: multi-column
    locality for multi-column pruning.

    ``write_sorted`` clusters on ONE key — file min/max stats prune
    scans filtering that key, but a filter on any other column still
    reads every file.  Z-ordering interleaves the bits of ``cols``
    (each range-binned to ``bits`` bits) into one Morton value and
    range-partitions + sorts on it, so every file covers a small
    hyper-rectangle of the combined key space: row-group/file stats
    prune scans filtering ANY of the z-columns (the layout Delta/
    Iceberg call Z-ORDER BY; here as a plain-Parquet writer).

    All arithmetic is JVM expressions; the per-column min/max needed
    for binning is a 1-row aggregate broadcast-joined in-plan — no
    driver collect, one extra (tiny) pass.  ``bits``·len(cols) must
    stay ≤ 62 (signed long).  ``method='quantile'`` switches to
    equi-frequency rank bins (one approxQuantile pass, bits ≤ 8) —
    use it when a z-column is skewed (see ``layout.zorder_frame``).
    """
    from columnar_analytics_engine_spark.layout import zorder_frame

    out = zorder_frame(df, cols, n_files, bits=bits, method=method)
    writer = out.write.mode(mode)
    if row_group_bytes is not None:
        writer = writer.option("parquet.block.size", str(row_group_bytes))
    writer.parquet(path)


def compact_files(
    spark: SparkSession,
    path: str,
    out_path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    mode: str = "overwrite",
) -> int:
    """Small-file compaction: rewrite a Parquet dataset into files of
    ~``target_file_bytes`` each and return the file count written.

    Long-running ingest (especially streaming sinks) accumulates many
    small files; each costs a task + footer read per query.  Compaction
    sizes the output from the dataset's actual on-disk bytes — a driver
    metadata computation, no data collect — and coalesces (no shuffle)
    to that count.
    """
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                total += os.path.getsize(os.path.join(root, f))
    n_files = max(1, (total + target_file_bytes - 1) // target_file_bytes)
    df = spark.read.parquet(path)
    df.coalesce(n_files).write.mode(mode).parquet(out_path)
    return n_files


def write_csv(df: DataFrame, path: str, mode: str = "overwrite", header: bool = True) -> None:
    """CSV sink (the reference only emits CSV for benchmark results,
    benches/benchmark.cpp:233-258; here it is a first-class connector)."""
    df.write.mode(mode).option("header", str(header).lower()).csv(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """ORC sink — the other mainstream columnar format (same row-group/
    stats/pushdown model as Parquet; Spark support is native)."""
    df.write.mode(mode).orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.orc(path)


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """JSON-lines sink (reference: benches/benchmark.cpp:260-276)."""
    df.write.mode(mode).json(path)


def read_json(
    spark: SparkSession,
    path: str,
    schema: Any = None,
    corrupt_col: str | None = None,
) -> DataFrame:
    """JSON/JSONL source.  With ``corrupt_col`` set, malformed lines are
    captured in that column instead of being dropped (PERMISSIVE mode) —
    the ingest contract for web-scale JSONL corpora, where a crawl drop
    always contains some broken records and silently losing them skews
    the corpus.  The column must be declared in ``schema`` (Spark only
    populates it for schemas that carry it)."""
    reader = spark.read
    if corrupt_col is not None:
        reader = reader.option("mode", "PERMISSIVE").option(
            "columnNameOfCorruptRecord", corrupt_col
        )
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: Any = None,
    header: bool = True,
    delimiter: str = ",",
    corrupt_col: str | None = None,
) -> DataFrame:
    """CSV source with the same malformed-record contract as
    :func:`read_json`: with ``corrupt_col`` set (and declared in
    ``schema``), unparseable lines land in that column instead of
    vanishing.  Without an explicit schema the reader infers one —
    fine interactively, but at 100 TB inference costs a full extra
    pass, so production ingest always passes ``schema``."""
    reader = spark.read.option("header", str(header).lower()).option("sep", delimiter)
    if corrupt_col is not None:
        reader = reader.option("mode", "PERMISSIVE").option(
            "columnNameOfCorruptRecord", corrupt_col
        )
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def describe(path: str) -> dict[str, Any]:
    """Metadata scan: schema + row groups + per-column chunk stats.

    Parity with the CLI ``scan`` command (src/cli.cpp:120-170), which
    dumps total_rows, row-group count, schema with encodings, and
    per-page num_values/size/min/max.  Parquet footers carry the same
    information; PyArrow exposes it.
    """
    import pyarrow.parquet as pq

    if _is_colfile_path(path):
        return describe_col(path)

    def _one(file_path: str) -> dict[str, Any]:
        pf = pq.ParquetFile(file_path)
        md = pf.metadata
        row_groups = []
        for rg_idx in range(md.num_row_groups):
            rg = md.row_group(rg_idx)
            cols = []
            for c_idx in range(rg.num_columns):
                col = rg.column(c_idx)
                stats = col.statistics
                cols.append(
                    {
                        "column": col.path_in_schema,
                        "encodings": list(col.encodings),
                        "compressed_size": col.total_compressed_size,
                        "uncompressed_size": col.total_uncompressed_size,
                        "num_values": col.num_values,
                        "min": stats.min if stats and stats.has_min_max else None,
                        "max": stats.max if stats and stats.has_min_max else None,
                        "null_count": stats.null_count if stats else None,
                    }
                )
            row_groups.append({"num_rows": rg.num_rows, "columns": cols})
        return {
            "file": file_path,
            "total_rows": md.num_rows,
            "num_row_groups": md.num_row_groups,
            "schema": {pf.schema_arrow.field(i).name: str(pf.schema_arrow.field(i).type) for i in range(len(pf.schema_arrow))},
            "row_groups": row_groups,
        }

    if os.path.isdir(path):
        parts = sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
        files = [_one(p) for p in parts]
        return {
            "path": path,
            "total_rows": sum(f["total_rows"] for f in files),
            "num_files": len(files),
            "schema": files[0]["schema"] if files else {},
            "files": files,
        }
    return _one(path)


def _is_colfile_path(path: str) -> bool:
    if path.endswith(".col"):
        return True
    # mirror _list_col_files' visibility rule: dot/underscore-prefixed
    # shards (temp/staged files) must not route a directory to the
    # colfile reader that would then find no readable shards
    return os.path.isdir(path) and any(
        f.endswith(".col") and not f.startswith((".", "_"))
        for f in os.listdir(path)
    )


def describe_col(path: str) -> dict[str, Any]:
    """Metadata scan of a native ``.col`` file or shard directory —
    same shape as :func:`describe` on parquet (schema, row groups,
    per-chunk min/max/null stats), read from the .col footer by the
    pure-Python reader (sources/colfile.py)."""
    from columnar_analytics_engine_spark.sources import colfile as cf

    def _one(file_path: str) -> dict[str, Any]:
        meta = cf.ColFileReader(file_path).metadata
        row_groups = []
        for rg in meta.row_groups:
            cols = []
            for spec, cc in zip(meta.schema, rg.column_chunks):
                ph = cc.page_headers[0]
                cols.append(
                    {
                        "column": spec.name,
                        "encodings": [cf._ENC_NAMES[ph.encoding].upper()],
                        "compressed_size": ph.compressed_size,
                        "uncompressed_size": ph.uncompressed_size,
                        "num_values": ph.num_values,
                        "min": ph.min_int,
                        "max": ph.max_int,
                        "null_count": ph.null_count if ph.min_int is not None else None,
                    }
                )
            row_groups.append({"num_rows": rg.num_rows, "columns": cols})
        return {
            "file": file_path,
            "total_rows": meta.total_rows,
            "num_row_groups": len(meta.row_groups),
            "schema": {s.name: cf._TYPE_NAMES[s.ctype] for s in meta.schema},
            "row_groups": row_groups,
        }

    if os.path.isdir(path):
        parts = sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.endswith(".col") and not f.startswith(("_", "."))
        )
        files = [_one(p) for p in parts]
        return {
            "path": path,
            "total_rows": sum(f["total_rows"] for f in files),
            "num_files": len(files),
            "schema": files[0]["schema"] if files else {},
            "files": files,
        }
    return _one(path)


def read_colfile(spark: SparkSession, path: str, where: str | None = None) -> DataFrame:
    """Read native ``.col`` file(s) as a DataFrame.  The footers are
    read on the driver, where the optional ``where`` (``col op int``
    clauses joined by AND) prunes row groups by their zone maps; the
    result is ``spark.range(n).mapInArrow(...)`` with one partition per
    surviving row group, each decoded and row-filtered in its task
    (sources/colfile.py).  Constructing it runs no Spark job.  ``path``
    must be a local or shared (NFS-style) filesystem path visible on
    driver and executors; object-store/HDFS URIs are rejected up front.
    ``spark.read.format("colfile")`` reads the same rows through the
    Python DataSource adapter over the same planning and decoding."""
    from columnar_analytics_engine_spark.sources.colfile import read_col_spark

    return read_col_spark(spark, path, where=where)


def write_colfile(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    encodings: dict[str, str] | None = None,
) -> None:
    """Write a DataFrame as a directory of native ``.col`` shards: one
    ``mapInArrow`` job stages one shard per partition (one row group
    per Arrow batch), then the driver commits them.  Columns must be
    int/long/string — the format's whole type system; ``encodings``
    maps column → plain|rle|delta|dictionary (per-column control,
    parity with ``include/format.h:49-61``).  ``mode`` is
    ``overwrite`` or ``append``.  ``path`` must be a local/shared
    filesystem path (URI schemes are rejected); overwrite is
    transactional — prior shards survive a failed job (staged-rename
    commit, sources/colfile.py)."""
    from columnar_analytics_engine_spark.sources.colfile import write_col_spark

    write_col_spark(df, path, mode=mode, encodings=encodings)


def write_with_metrics(
    df: DataFrame,
    path: str,
    metric_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> dict[str, Any]:
    """Audited single-pass write: write ``df`` as parquet AND return
    data-quality metrics (row count + per-column null counts) collected
    DURING the write via ``DataFrame.observe`` — no second scan.

    At 100 TB the naive ``count()-then-write`` audit doubles the most
    expensive stage of the pipeline; ``observe`` attaches accumulator-
    style aggregates to the write job itself, so the audit is free.
    Metrics flow through the Observation handle (the PySpark wrapper
    over the query-execution listener), not through the data path.
    """
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    cols = metric_cols if metric_cols is not None else df.columns
    obs = Observation("write_metrics")
    exprs = [F.count(F.lit(1)).alias("n_rows")] + [
        F.count(F.when(F.col(c).isNull(), 1)).alias(f"n_null_{c}") for c in cols
    ]
    df.observe(obs, *exprs).write.mode(mode).parquet(path)
    return dict(obs.get)


def atomic_build_dir(final_dir: str, build, ok_name: str = "_INDEX_OK", token: str = "v1") -> str:
    """Race- and crash-safe publish of a build-once artifact directory
    (persisted dedup/ANN indexes keyed by corpus identity).

    Two concurrent processes (bench + pytest over the same corpus) can
    both observe the keyed directory missing and build simultaneously;
    writing into the keyed path directly lets their output interleave
    into a mixed directory that every later run then trusts, because
    the cache key (corpus path+mtime+size) never changes.  Here each
    builder writes into a private pid+uuid-suffixed sibling and
    publishes with ONE ``os.rename`` — atomic on POSIX — so the loser's
    rename fails against the existing destination and its staging tree
    is discarded.  A crash mid-build leaves only an unreferenced
    ``.build-*`` sibling, never a half-valid index; the completeness
    marker ``ok_name`` is written LAST inside the staging dir, so a
    directory carrying it is always a whole publish.

    ``build(staging_dir)`` must write the artifact's files under the
    given staging directory (not ``final_dir``).
    """
    import shutil
    import uuid

    ok_path = os.path.join(final_dir, ok_name)
    if os.path.exists(ok_path):
        return final_dir
    os.makedirs(os.path.dirname(final_dir) or ".", exist_ok=True)
    staging = f"{final_dir}.build-{os.getpid()}-{uuid.uuid4().hex[:8]}"
    os.makedirs(staging)
    try:
        build(staging)
        with open(os.path.join(staging, ok_name), "w") as fh:
            fh.write(token)
        if os.path.isdir(final_dir) and not os.path.exists(ok_path):
            # pre-atomic stale partial (no marker): clear the slot so
            # this complete build can land
            shutil.rmtree(final_dir, ignore_errors=True)
        try:
            os.rename(staging, final_dir)
        except OSError:
            if not os.path.exists(ok_path):
                raise  # destination is neither complete nor claimable
            # lost the race to another COMPLETE build — use theirs
    finally:
        if os.path.exists(staging):
            shutil.rmtree(staging, ignore_errors=True)
    return final_dir
