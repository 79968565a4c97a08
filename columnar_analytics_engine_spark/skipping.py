"""File-level stats-skipping index for Parquet datasets (manifest pruning).

Spark's Parquet reader prunes ROW GROUPS from footer statistics — but
only after listing every file and opening every footer, and it still
schedules a task per file split.  At 100 TB a dataset is ~10^6 files;
per-query footer opens and task scheduling for files the predicate
provably excludes dominate short queries.  Table formats solve this
with per-file statistics kept OUTSIDE the data files (Delta's per-file
stats in the transaction log, Iceberg's manifest files — the layer the
reference approximates with its in-footer zone maps, SURVEY §2.2 /
``src/execution.cpp`` ``Predicate::canSkipPage``, which still requires
opening the file).  This module is that layer for plain Parquet
directories:

* :func:`build_stats_index` — one small Parquet table, one row per
  (file, column) with min/max/null_count read from footers (on the
  driver for small file lists, else in executors — ``_stats_table``),
  written as a manifest version on the driver.
* :func:`update_stats_index` — incremental: only footers of files not
  yet indexed are read (an appending corpus never re-reads old
  footers), and rows for vanished files are dropped.
* :func:`plan_skipping` / :func:`read_skipping` — evaluate a
  conjunctive predicate against the index (interval logic per clause,
  conservative wherever stats are missing) on the driver with
  ``pyarrow.compute`` — one definition of the rule (:func:`_prune_mask`),
  shared by the join planner, touching no Spark object (driver memory
  bounded by the file list — the same planning shape as Iceberg
  manifest pruning) — and read only the surviving files through
  ``evolution.read_evolved``, the one read of a maintained table (per
  schema cohort, each via ``io.read_files``, which takes the read
  schema from a footer instead of a Spark inference job).
  Constructing the read runs no Spark job.
  The predicate is still applied exactly on top of the pruned scan, so
  skipping is a pure superset optimization: it can never change
  results, only skip I/O.

Soundness of the interval tests rests on Parquet stats being BOUNDS,
not exact extrema: writers may truncate binary min/max, but truncation
keeps min a lower bound and max an upper bound, so every prune rule
below remains conservative.  Rows where any row group lacks statistics
are recorded with ``has_stats = false`` and never prune.  NULLs
satisfy no comparison predicate, so an all-null file prunes under any
clause on that column and a mixed file prunes on its non-null bounds.

Predicate grammar (:func:`parse_predicate`) is a typed superset of the
reference CLI's conjunctive six-op grammar (``src/cli.cpp:177-184``,
integer literals only): ``col (eq|ne|lt|le|gt|ge|=|==|!=|<|<=|>|>=)
literal`` joined by ``and``, with integer, float, and single-quoted
string literals.  Columns whose type the index does not carry bounds
for (timestamps, nested) are indexed as kind ``other`` and are simply
never pruned — correct, just not accelerated.
"""

from __future__ import annotations

import operator
import os
import re
from functools import reduce
from typing import Any, Iterator

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from columnar_analytics_engine_spark.evolution import read_evolved, read_schema_spec

INDEX_SCHEMA = (
    "file string, column string, kind string, "
    "min_int long, max_int long, min_num double, max_num double, "
    "min_str string, max_str string, "
    "null_count long, file_rows long, has_stats boolean"
)
# the same schema in Arrow: manifests are written on the driver
INDEX_ARROW_SCHEMA = pa.schema([
    (n, {"string": pa.string(), "long": pa.int64(), "double": pa.float64(),
         "boolean": pa.bool_()}[t])
    for n, t in (f.split() for f in INDEX_SCHEMA.split(", "))
])


_OPS = {
    "eq": "eq", "=": "eq", "==": "eq",
    "ne": "ne", "!=": "ne",
    "lt": "lt", "<": "lt",
    "le": "le", "<=": "le",
    "gt": "gt", ">": "gt",
    "ge": "ge", ">=": "ge",
}

_LIT_RE = r"(?:'((?:[^']|'')*)'|(-?\d+\.\d+(?:[eE][-+]?\d+)?)|(-?\d+))"

_CLAUSE_RE = re.compile(
    r"\s*([A-Za-z_][A-Za-z0-9_]*)\s*"
    r"(eq|ne|lt|le|gt|ge|==|=|!=|<=|>=|<|>)\s*"
    + _LIT_RE
    + r"\s*",
)

_IN_RE = re.compile(
    r"\s*([A-Za-z_][A-Za-z0-9_]*)\s+(?i:in)\s*\(([^)]*)\)\s*"
)

_MAX_IN_LIST = 1000


def _parse_literal(s_lit, f_lit, i_lit) -> Any:
    if s_lit is not None:
        return s_lit.replace("''", "'")
    if f_lit is not None:
        return float(f_lit)
    return int(i_lit)


def parse_predicate(expr: str) -> list[tuple[str, str, Any]]:
    """Parse an AND-conjoined predicate into (column, op, literal)
    clauses; literals are int, float, or str (single-quoted, ``''``
    escapes a quote).  ``col in (lit, lit, ...)`` parses to an ``in``
    clause whose literal is the value LIST (≤ 1000 entries — an eq-set,
    so it composes with interval AND bloom pruning per value)."""
    clauses: list[tuple[str, str, Any]] = []
    for part in re.split(r"(?i)\s+and\s+", expr.strip()):
        if not part:
            continue
        m = _CLAUSE_RE.fullmatch(part)
        if m:
            col, op, s_lit, f_lit, i_lit = m.groups()
            clauses.append((col, _OPS[op.lower()], _parse_literal(s_lit, f_lit, i_lit)))
            continue
        m = _IN_RE.fullmatch(part)
        if m:
            col, body = m.groups()
            if not body.strip():
                raise ValueError(
                    f"skipping predicate: IN list must have 1..{_MAX_IN_LIST} items"
                )
            vals = []
            for item in body.split(","):
                lm = re.fullmatch(r"\s*" + _LIT_RE + r"\s*", item)
                if not lm:
                    raise ValueError(
                        f"skipping predicate: bad IN-list item {item!r}"
                    )
                vals.append(_parse_literal(*lm.groups()))
            if not vals or len(vals) > _MAX_IN_LIST:
                raise ValueError(
                    f"skipping predicate: IN list must have 1..{_MAX_IN_LIST} items"
                )
            clauses.append((col, "in", vals))
            continue
        raise ValueError(
            f"skipping predicate: cannot parse clause {part!r} "
            "(grammar: col [eq|ne|lt|le|gt|ge|=|==|!=|<|<=|>|>=] "
            "(int|float|'string') | col in (lit, ...), joined with AND)"
        )
    return clauses


def list_parquet_files(data_path: str) -> list[str]:
    """Visible ``.parquet`` files under ``data_path`` (recursive),
    sorted — the dataset manifest this index stands in for."""
    if os.path.isfile(data_path):
        return [data_path]
    out: list[str] = []
    for root, dirs, files in os.walk(data_path):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        for f in files:
            if f.endswith(".parquet") and not f.startswith((".", "_")):
                out.append(os.path.join(root, f))
    return sorted(out)


def _make_footer_scanner(columns: list[str] | None, base_path: str | None = None):
    """Build the per-(file, column) footer-stats generator.

    Defined as a FACTORY so the returned function is a closure and
    cloudpickle ships it to executors BY VALUE: a module-level function
    would pickle by reference and force workers to import this package,
    which fails under the driver contract (the runner ``sys.path``-
    injects the repo into its own process only).  The closure therefore
    references nothing but stdlib + pyarrow, both present on every
    worker.  Footer reads are pure metadata — no data pages."""

    def _footer_stats_rows(files: list[str]) -> Iterator[dict]:
        import os as _os
        import urllib.parse

        import pyarrow as pa
        import pyarrow.parquet as pq

        for file_path in files:
            pf = pq.ParquetFile(file_path)
            md = pf.metadata
            # hive-style partition values live in the PATH, not the
            # footer: index them as point intervals (min == max) so
            # partition-column clauses prune exactly like data-column
            # clauses; __HIVE_DEFAULT_PARTITION__ reads back as NULL,
            # which satisfies no comparison — an all-null row
            if base_path:
                rel = _os.path.relpath(file_path, base_path)
                for seg in rel.split(_os.sep)[:-1]:
                    if "=" not in seg:
                        continue
                    k, _, raw = seg.partition("=")
                    if columns is not None and k not in columns:
                        continue
                    v = urllib.parse.unquote(raw)
                    row = {
                        "file": file_path, "column": k,
                        "min_int": None, "max_int": None,
                        "min_num": None, "max_num": None,
                        "min_str": None, "max_str": None,
                        "null_count": 0, "file_rows": md.num_rows,
                        "has_stats": True,
                    }
                    if v == "__HIVE_DEFAULT_PARTITION__":
                        row["kind"] = "str"
                        row["null_count"] = md.num_rows
                    else:
                        try:
                            row["kind"] = "int"
                            row["min_int"] = row["max_int"] = int(v)
                        except ValueError:
                            try:
                                row["kind"] = "num"
                                row["min_num"] = row["max_num"] = float(v)
                            except ValueError:
                                row["kind"] = "str"
                                row["min_str"] = row["max_str"] = v
                    yield row
            arrow_schema = pf.schema_arrow
            names = [arrow_schema.field(i).name for i in range(len(arrow_schema))]
            wanted = [n for n in names if columns is None or n in columns]
            # column index in the flat parquet schema == arrow index only
            # for flat schemas; map by path name to stay correct for any
            # file that carries nested columns we skip
            paths = {
                md.row_group(0).column(i).path_in_schema: i
                for i in range(md.row_group(0).num_columns)
            } if md.num_row_groups else {}
            for name in wanted:
                field = arrow_schema.field(name)
                typ = field.type
                if pa.types.is_integer(typ):
                    kind = "int"
                elif pa.types.is_floating(typ):
                    kind = "num"
                elif pa.types.is_string(typ) or pa.types.is_large_string(typ):
                    kind = "str"
                else:
                    kind = "other"  # timestamps/nested: indexed, never prunes
                row = {
                    "file": file_path, "column": name, "kind": kind,
                    "min_int": None, "max_int": None,
                    "min_num": None, "max_num": None,
                    "min_str": None, "max_str": None,
                    "null_count": 0, "file_rows": md.num_rows,
                    "has_stats": kind != "other" and name in paths,
                }
                mins: list[Any] = []
                maxs: list[Any] = []
                if row["has_stats"]:
                    for rg_idx in range(md.num_row_groups):
                        col = md.row_group(rg_idx).column(paths[name])
                        st = col.statistics
                        if st is None or st.null_count is None:
                            row["has_stats"] = False
                            break
                        row["null_count"] += st.null_count
                        if st.num_values:  # non-null values present
                            if not st.has_min_max:
                                row["has_stats"] = False
                                break
                            mins.append(st.min)
                            maxs.append(st.max)
                if row["has_stats"] and mins:
                    lo, hi = min(mins), max(maxs)
                    if kind == "int":
                        row["min_int"], row["max_int"] = int(lo), int(hi)
                    elif kind == "num":
                        row["min_num"], row["max_num"] = float(lo), float(hi)
                    else:
                        row["min_str"], row["max_str"] = str(lo), str(hi)
                yield row

    return _footer_stats_rows


def _stats_table(
    spark: SparkSession,
    files: list[str],
    columns: list[str] | None,
    base_path: str | None = None,
):
    """Footer scan → index rows, as a ``pyarrow.Table`` in
    :data:`INDEX_ARROW_SCHEMA`.

    Footer reads are pure metadata (no data pages), so the executor is
    chosen by FILE COUNT, not data size (round 15, guide §5):

    * ``len(files)`` ≤ ``SPARK_GRAFT_INDEX_DRIVER_MAX`` (default 64):
      the driver scans the footers itself.  Measured on the bench
      fixture (16 files): 0.004 s driver-side vs 0.6 s warm / 9 s cold
      for the distributed path — the distributed cost is Python-worker
      spin-up and per-task dispatch, not footer I/O.  An ``OSError``
      (a data path only executors can reach) falls back to the
      distributed path; set ``SPARK_GRAFT_INDEX_DRIVER_MAX=0`` on such
      clusters to skip the attempt.  The INDEX path must be
      driver-reachable either way.
    * larger file lists keep the distributed ``mapInPandas`` scan (one
      task per slice), collected once with ``toArrow`` — at 100 TB
      per-footer latency on object storage dominates.

    Both paths run the SAME scanner closure, so the row set is
    identical; only file-list parallelization differs.
    """
    cols = list(columns) if columns is not None else None
    footer_stats_rows = _make_footer_scanner(cols, base_path)

    driver_max = int(os.environ.get("SPARK_GRAFT_INDEX_DRIVER_MAX", "64"))
    if len(files) <= driver_max:
        try:
            rows = list(footer_stats_rows(files))
        except OSError:
            pass  # not reachable from the driver: scan on executors
        else:
            return pa.table(
                {k: [r[k] for r in rows] for k in INDEX_ARROW_SCHEMA.names},
                schema=INDEX_ARROW_SCHEMA,
            )
    scan = _scan_files(spark, files, footer_stats_rows, INDEX_SCHEMA)
    return scan.toArrow().cast(INDEX_ARROW_SCHEMA)


def _scan_files(spark: SparkSession, files: list[str], rows_fn, schema: str) -> DataFrame:
    """``rows_fn`` (a scanner closure: file list → row dicts) run over
    ``files`` in executors, one task per slice.  The file list is an
    Arrow-backed (pandas) frame, not Python tuples: a tuple-list
    ``createDataFrame`` is Python-RDD backed and re-runs Python workers
    on every action over it."""
    import pandas as pd

    fields = [f.split()[0] for f in schema.split(", ")]
    n_slices = max(1, min(len(files), spark.sparkContext.defaultParallelism))
    files_df = spark.createDataFrame(
        pd.DataFrame({"file": files})
    ).repartition(n_slices)

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = list(rows_fn(list(b["file"])))
            yield pd.DataFrame({k: [r[k] for r in rows] for k in fields})

    return files_df.mapInPandas(scan, schema=schema)


def build_stats_index(
    spark: SparkSession,
    data_path: str,
    index_path: str,
    columns: list[str] | None = None,
) -> int:
    """Build the per-file stats index for ``data_path`` at
    ``index_path``; returns the number of files indexed.  The index is
    tiny relative to the data (rows = files × columns), so each
    manifest snapshot is a single file — one footer to open at plan
    time.  Written as a new manifest VERSION with an atomic pointer
    flip (``manifest.write_manifest``); a rebuild never clobbers the
    snapshot a concurrent reader planned from."""
    from columnar_analytics_engine_spark.manifest import write_manifest

    files = list_parquet_files(data_path)
    if not files:
        raise FileNotFoundError(f"no parquet files under {data_path}")
    write_manifest(
        spark, index_path, _stats_table(spark, files, columns, base_path=data_path)
    )
    return len(files)


def _rebase_index(
    spark: SparkSession,
    index_path: str,
    idx,
    drop_files: list[str],
    add_files: list[str],
    base_path: str,
):
    """Manifest rows ``idx`` minus the rows of ``drop_files`` plus
    footer-scanned rows for ``add_files`` — the next version's table,
    computed on the driver (shared by ``update_stats_index`` and
    ``layout._swap_index``)."""
    out = idx.select(INDEX_ARROW_SCHEMA.names).cast(INDEX_ARROW_SCHEMA)
    if drop_files:
        gone = pc.is_in(out["file"], value_set=pa.array(drop_files, pa.string()))
        out = out.filter(pc.invert(gone))
    if add_files:
        # new files are indexed on the columns the index already carries
        # — except on a schema-evolved table, where they may carry new
        # columns that cohort detection (read_evolved) must see
        columns = (
            None if read_schema_spec(index_path) is not None
            else sorted(set(idx.column("column").to_pylist()))
        )
        new = _stats_table(spark, sorted(add_files), columns, base_path=base_path)
        out = pa.concat_tables([out, new])
    return out


def update_stats_index(
    spark: SparkSession, data_path: str, index_path: str
) -> dict[str, int]:
    """Incremental index maintenance: footer-scan only files missing
    from the index, drop rows for files that vanished (compaction /
    retention deletes).  Returns ``{"added": n, "removed": m}``.  Cost
    is bounded by the CHANGE, not the corpus — the property that makes
    a stats index viable on an appending 100 TB dataset.

    Published as a new manifest VERSION (``manifest.write_manifest``).
    Files that are on disk but referenced only by OLDER retained
    versions are NOT re-adopted: they were dropped by a maintenance
    rewrite and are awaiting vacuum — re-indexing them would resurrect
    their rows.  Truly new files are those no retained version has ever
    referenced."""
    from columnar_analytics_engine_spark.manifest import (
        current_version as _manifest_current,
        manifest_table,
        referenced_files,
        write_manifest,
    )

    base_version = _manifest_current(index_path)
    current = set(list_parquet_files(data_path))
    idx = manifest_table(index_path)
    indexed = set(idx.column("file").to_pylist())
    known = referenced_files(index_path)
    added = sorted(current - indexed - known)
    # layout guard: on a hive-partitioned table, a candidate file whose
    # directory structure does not match the manifest's partition
    # scheme (e.g. a root-level backfill dropped next to batch_id=N
    # dirs) is NOT adopted — Spark's basePath leaf-file read silently
    # DROPS such a file's rows (indexed-but-invisible, the worst
    # outcome), and a hive-dir file on a flat table would mutate the
    # read schema.  The stray stays on disk for the operator to place
    # correctly; narrow vacuum (vacuum_expired_references) never
    # touches it.
    def _pkeys(f: str) -> tuple[str, ...]:
        rel = os.path.relpath(f, data_path)
        return tuple(
            seg.split("=", 1)[0]
            for seg in os.path.dirname(rel).split(os.sep)
            if "=" in seg
        )

    if indexed:
        scheme = _pkeys(next(iter(indexed)))
        added = [f for f in added if _pkeys(f) == scheme]
    removed = sorted(indexed - current)
    if not added and not removed:
        return {"added": 0, "removed": 0}
    write_manifest(
        spark, index_path,
        _rebase_index(spark, index_path, idx, removed, added, data_path),
        expected_current=base_version,
    )
    return {"added": len(added), "removed": len(removed)}


_TWO53 = 1 << 53  # |int| bounds exact in IEEE double up to here
_I64_MIN, _I64_MAX = -(1 << 63), (1 << 63) - 1


def _interval_excludes(op: str, lo, hi, lit):
    """TRUE iff [lo, hi] provably contains no value satisfying
    ``x op lit`` — the zone-map rule, per file instead of per page
    (reference: ``src/execution.cpp`` ``Predicate::canSkipPage``).
    ``lo``/``hi`` are Arrow arrays, ``lit`` a scalar; a null bound
    yields null, which never prunes."""
    if op == "eq":
        return pc.or_kleene(pc.less(lit, lo), pc.greater(lit, hi))
    if op == "ne":
        return pc.and_kleene(pc.equal(lo, hi), pc.equal(lo, lit))
    cmp = {"lt": pc.greater_equal, "le": pc.greater, "gt": pc.less_equal, "ge": pc.less}
    return cmp[op](lo if op in ("lt", "le") else hi, lit)


def _prune_mask(tbl: pa.Table, op: str, val: Any):
    """Boolean mask over manifest rows ``tbl``: TRUE iff the file
    provably contains no matching row for ``col op val`` (the caller
    restricts to the clause's column).  Evaluated with Kleene logic, so
    a null result — a missing bound — is not selected and the file is
    kept, exactly as a Spark ``filter`` would treat it.

    Soundness at the type seams: integer bounds are compared as LONG
    when the literal is an int (exact), and as double only when both
    bounds sit within ±2^53 (where the cast is exact); double bounds
    are compared with an int literal only when that literal is itself
    exact in double.  Every guard failure yields "keep", never a wrong
    prune.  NULLs satisfy no comparison, so an all-null file prunes
    under every op.  A NaN bound compares false (IEEE), so it never
    prunes — conservative against Spark, which orders NaN above every
    double.
    """
    if op == "in":
        # an eq-set: the file is excludable iff EVERY member is
        return reduce(pc.and_kleene, [_prune_mask(tbl, "eq", v) for v in val])
    kind = tbl["kind"]

    def bounded(k: str, lo, hi, lit):
        return pc.and_kleene(
            pc.equal(kind, k), _interval_excludes(op, lo, hi, lit)
        )

    if isinstance(val, str):
        branches = [bounded("str", tbl["min_str"], tbl["max_str"], pa.scalar(val))]
    elif isinstance(val, int):
        branches = []
        if _I64_MIN <= val <= _I64_MAX:
            branches.append(bounded(
                "int", tbl["min_int"], tbl["max_int"], pa.scalar(val, pa.int64())
            ))
        if abs(val) <= _TWO53:
            branches.append(bounded(
                "num", tbl["min_num"], tbl["max_num"], pa.scalar(float(val))
            ))
        if not branches:
            return pa.array([False] * tbl.num_rows, pa.bool_())
    else:
        lo_i, hi_i = tbl["min_int"], tbl["max_int"]
        exact_in_double = pc.and_kleene(
            pc.greater_equal(pc.min_element_wise(lo_i, hi_i, skip_nulls=False), -_TWO53),
            pc.less_equal(pc.max_element_wise(lo_i, hi_i, skip_nulls=False), _TWO53),
        )
        as_double = [pc.cast(b, pa.float64(), safe=False) for b in (lo_i, hi_i)]
        lit = pa.scalar(float(val))
        branches = [
            pc.and_kleene(exact_in_double, bounded("int", *as_double, lit)),
            bounded("num", tbl["min_num"], tbl["max_num"], lit),
        ]
    all_null = pc.and_kleene(
        pc.not_equal(kind, "other"),
        pc.greater_equal(tbl["null_count"], tbl["file_rows"]),
    )
    return pc.and_kleene(
        tbl["has_stats"], pc.or_kleene(all_null, reduce(pc.or_kleene, branches))
    )


def _pruned_files(tbl: pa.Table, clauses: list[tuple[str, str, Any]]) -> set[str]:
    """Files of manifest ``tbl`` that some clause of the conjunction
    provably excludes: the OR over clauses of :func:`_prune_mask`,
    each restricted to its column's rows."""
    if not clauses or not tbl.num_rows:
        return set()
    mask = reduce(pc.or_kleene, [
        pc.and_kleene(pc.equal(tbl["column"], col), _prune_mask(tbl, op, val))
        for col, op, val in clauses
    ])
    return set(tbl["file"].filter(mask).to_pylist())


def _row_filter(clauses: list[tuple[str, str, Any]]) -> F.Column | None:
    """The exact row predicate of the conjunction (None for no clause).
    Only the comparisons used are built: each costs py4j round trips."""
    cond = None
    for col, op, val in clauses:
        c = F.col(col)
        c = c.isin(*val) if op == "in" else getattr(operator, op)(c, F.lit(val))
        cond = c if cond is None else (cond & c)
    return cond


def plan_skipping(
    spark: SparkSession,
    index_path: str,
    predicate: str,
    bloom_path: str | None = None,
    as_of: int | None = None,
) -> dict[str, Any]:
    """Prune the file manifest with the stats index.  Returns
    ``{"files": [...kept...], "files_total": n, "files_pruned": m,
    "clauses": [...]}``.  The manifest is read on the driver with Arrow
    (``manifest.manifest_table``) and the prune rule
    (:func:`_prune_mask`, one OR over the clauses) is evaluated over it
    with ``pyarrow.compute``: planning touches no Spark object and runs
    no Spark job.  Driver memory is bounded by the manifest, exactly
    like Iceberg planning.
    With ``bloom_path``, eq and in clauses additionally prune through
    the Bloom index (``build_bloom_index``) — effective even on columns
    the layout does not cluster.
    """
    from columnar_analytics_engine_spark.manifest import manifest_table

    clauses = parse_predicate(predicate)
    tbl = manifest_table(index_path, as_of=as_of)
    all_files = list(dict.fromkeys(tbl.column("file").to_pylist()))
    pruned_files = _pruned_files(tbl, clauses)
    if bloom_path is not None:
        for col, op, val in clauses:
            if op in ("eq", "in"):
                pruned_files |= bloom_prune_many(
                    spark, bloom_path, col, val if op == "in" else [val]
                ) or set()
    kept = [f for f in all_files if f not in pruned_files]
    return {
        "files": kept,
        "files_total": len(all_files),
        "files_pruned": len(all_files) - len(kept),
        "clauses": clauses,
    }


def read_skipping(
    spark: SparkSession,
    data_path: str,
    index_path: str,
    predicate: str,
    bloom_path: str | None = None,
    as_of: int | None = None,
    as_of_ts: float | None = None,
) -> DataFrame:
    """Read ``data_path`` under ``predicate`` touching only files the
    stats index cannot exclude.  The exact predicate is re-applied on
    the pruned scan (and pushes down into it), so the result is
    IDENTICAL to filtering the full dataset — the index only removes
    file opens and tasks.  ``as_of``/``as_of_ts`` time-travel the plan
    to a retained manifest version (``as_of_ts`` is epoch seconds,
    resolved through the publish journal — ``manifest.version_at``).
    The pruned file list is read by ``evolution.read_evolved``, the one
    read of a maintained table, so an evolved table is read per cohort
    and the predicate applies to LOGICAL columns.  Pruning stays sound
    there: clauses on added/renamed columns find no stats row under
    the logical name for pre-evolution files, which are kept."""
    return _read_planned(
        spark, data_path, index_path, predicate, bloom_path,
        _resolve_as_of(index_path, as_of, as_of_ts),
    )


def _read_planned(
    spark: SparkSession,
    data_path: str,
    index_path: str,
    predicate: str | None,
    bloom_path: str | None,
    as_of: int | None,
    dv_path: str | None = None,
    dv_commit_ids: list[str] | None = None,
) -> DataFrame:
    """Plan ``predicate`` (None: the whole snapshot), read the kept
    files through ``read_evolved`` (minus the DV's tombstones when
    ``dv_path`` is given) and re-apply the exact predicate."""
    files = cond = None
    if predicate is not None:
        plan = plan_skipping(
            spark, index_path, predicate, bloom_path=bloom_path, as_of=as_of
        )
        files, cond = plan["files"], _row_filter(plan["clauses"])
    df = read_evolved(
        spark, data_path, index_path, as_of=as_of, files=files,
        dv_path=dv_path, dv_commit_ids=dv_commit_ids,
    )
    return df if cond is None else df.where(cond)


def _resolve_as_of(
    index_path: str, as_of: int | None, as_of_ts: float | None
) -> int | None:
    """Resolve the one-of (version, timestamp) time-travel argument
    pair to a version number (Delta's VERSION/TIMESTAMP AS OF)."""
    if as_of_ts is None:
        return as_of
    if as_of is not None:
        raise ValueError("pass as_of or as_of_ts, not both")
    from columnar_analytics_engine_spark.manifest import version_at

    return version_at(index_path, as_of_ts)


def read_indexed(
    spark: SparkSession, data_path: str, index_path: str,
    as_of: int | None = None,
    as_of_ts: float | None = None,
) -> DataFrame:
    """Read exactly the files the stats-index manifest lists — no
    predicate pruning, just the manifest's view of the table.  This is
    the safe read for a table under maintenance: directory listing can
    see stranded/pre-vacuum files, the manifest cannot.  ``as_of=N``
    time-travels: maintenance keeps dropped files on disk until vacuum,
    so the version-N snapshot reads exactly as it was published;
    ``as_of_ts=<epoch seconds>`` is TIMESTAMP AS OF, resolved through
    the publish journal (``manifest.version_at``).
    The snapshot is read by ``evolution.read_evolved``, the one read of
    a maintained table: on a schema-EVOLVED table a flat multi-file
    read would sample one cohort's physical schema and silently
    drop/null the others' columns."""
    return read_evolved(
        spark, data_path, index_path,
        as_of=_resolve_as_of(index_path, as_of, as_of_ts),
    )


# ---------------------------------------------------------------------------
# Dynamic file pruning for joins (Delta/Databricks "DFP", Iceberg
# runtime filtering): prune the FACT side's file manifest from the
# DIM side's join keys before the join runs.  At 100 TB the fact table
# is the I/O bill; when the dim side is filtered ("orders from one
# week"), most fact files provably contain none of the surviving join
# keys — their key intervals miss every key — and never need to be
# listed into tasks.  Spark's own DPP only fires on hive-PARTITION
# columns; this works on any clustered data column via the stats index.
# ---------------------------------------------------------------------------

_KIND_BOUNDS = {
    "int": ("min_int", "max_int"),
    "num": ("min_num", "max_num"),
    "str": ("min_str", "max_str"),
}


def _key_kind(dtype: str) -> str | None:
    base = dtype.lower()
    if base in ("tinyint", "smallint", "int", "integer", "bigint", "long"):
        return "int"
    if base in ("float", "double"):
        return "num"
    if base == "string":
        return "str"
    return None


def _files_holding_a_key(rows, keys: list, kind: str) -> set[str]:
    """Files of ``rows`` (file, lo, hi) whose [lo, hi] holds at least
    one of ``keys`` — a binary search per file over the sorted keys, in
    Spark's value order (for doubles NaN sorts above +inf and equals
    itself), so the result is what ``key BETWEEN lo AND hi`` keeps.
    Rows with a null bound hold no key."""
    from bisect import bisect_left

    def order(v):
        return ((1, 0.0) if v != v else (0, v)) if kind == "num" else v

    ks = sorted(map(order, keys))

    def holds(lo, hi) -> bool:
        i = bisect_left(ks, order(lo))
        return i < len(ks) and ks[i] <= order(hi)

    return {f for f, lo, hi in rows if lo is not None and hi is not None and holds(lo, hi)}


def _bloom_join_survivors(
    spark: SparkSession,
    bloom_path: str,
    column: str,
    kind: str,
    prunable: pa.Table,
    sample: list,
) -> set[str]:
    """Files of ``prunable`` (file, lo, hi) holding a key of ``sample``
    in [lo, hi] that their Bloom filter does not refute (no Bloom row
    keeps); key hashes are computed once on the driver."""
    if not prunable.num_rows:
        return set()
    _, lo_c, hi_c = prunable.column_names
    h1, h2 = zip(*(_bloom_hash_pair(_bloom_canon(v)) for v in sample))
    k2 = spark.createDataFrame(pa.table({
        "_k": pa.array(sample, pa.int64() if kind == "int" else pa.string()),
        "_h1": pa.array(h1, pa.int64()),
        "_h2": pa.array(h2, pa.int64()),
    }))
    pairs = spark.createDataFrame(prunable).join(
        F.broadcast(k2), F.col("_k").between(F.col(lo_c), F.col(hi_c))
    ).select("file", "_h1", "_h2")
    bl = spark.createDataFrame(_bloom_table(bloom_path, column, kind))
    hit = pairs.join(bl, "file", "left").filter(
        F.col("m").isNull() | F.expr(_bloom_member_sql("_h1", "_h2"))
    )
    return {r["file"] for r in hit.select("file").distinct().collect()}


def plan_skipping_join(
    spark: SparkSession,
    index_path: str,
    column: str,
    keys: DataFrame,
    max_keys: int = 100_000,
    bloom_path: str | None = None,
) -> dict[str, Any]:
    """Prune the manifest to files whose ``column`` interval can contain
    at least one value of ``keys`` (a one-column DataFrame of join
    keys, e.g. the filtered dim side's key column).

    Two tiers, both sound:

    * ``keys`` has ≤ ``max_keys`` distinct non-null values → exact
      membership: a file survives iff SOME key lands inside its
      [min, max] (the key set is collected once — it is the
      filtered-dim side a broadcast join was going to ship anyway —
      and tested against the index rows on the driver; with a bloom
      index the per-(file, key) test runs in Spark).
    * more keys → interval envelope: a file survives iff its interval
      intersects [min(keys), max(keys)] (two 1-row aggregates; key
      count never collects).

    Conservative everywhere it must be: files with no stats row for
    ``column``, ``has_stats = false``, non-comparable kinds, or an
    index kind different from the key column's type are always KEPT;
    NULL keys never join, so they are dropped from the key set, and an
    all-null file (null bounds) prunes — it cannot produce a match.

    The caller must consume the pruned read through an INNER or
    LEFT SEMI join on ``column`` = key (see
    :func:`read_skipping_for_join`): those are exactly the shapes where
    dropping provably-keyless fact files cannot change the result.
    """
    if len(keys.columns) != 1:
        raise ValueError("keys must be a one-column DataFrame of join keys")
    from columnar_analytics_engine_spark.manifest import manifest_table

    kind = _key_kind(dict(keys.dtypes)[keys.columns[0]])
    tbl = manifest_table(index_path)
    all_files = list(dict.fromkeys(tbl.column("file").to_pylist()))
    if kind is None:
        # non-comparable key type: nothing prunable, keep everything
        return {
            "files": all_files, "files_total": len(all_files),
            "files_pruned": 0, "mode": "none", "n_keys": None,
        }
    k = keys.select(F.col(keys.columns[0]).alias("_k")).where(
        F.col("_k").isNotNull()
    ).distinct()
    lo_c, hi_c = _KIND_BOUNDS[kind]
    # rows this key type can prune: the column's rows of matching kind
    # with usable stats
    prunable = tbl.filter(pc.and_kleene(
        pc.and_kleene(pc.equal(tbl["column"], column), tbl["has_stats"]),
        pc.equal(tbl["kind"], kind),
    )).select(["file", lo_c, hi_c])
    covered = set(prunable["file"].to_pylist())
    # one collect of at most max_keys + 1 distinct keys: it both counts
    # them and, under the cap, feeds the driver-side membership test
    sample = [r["_k"] for r in k.limit(max_keys + 1).collect()]
    n_keys = len(sample)
    if n_keys == 0:
        # inner/semi join against an empty dim matches nothing
        survivors: set[str] = set()
        mode = "empty"
    elif n_keys <= max_keys:
        if bloom_path is not None and kind in ("int", "str"):
            survivors = _bloom_join_survivors(
                spark, bloom_path, column, kind, prunable, sample
            )
            mode = "keys+bloom"
        else:
            survivors = _files_holding_a_key(
                zip(*(prunable[c].to_pylist() for c in ("file", lo_c, hi_c))),
                sample, kind,
            )
            mode = "keys"
    else:
        b = k.agg(F.min("_k").alias("lo"), F.max("_k").alias("hi")).first()
        lo, hi = prunable[lo_c], prunable[hi_c]
        excluded = pc.or_kleene(
            _interval_excludes("ge", lo, hi, pa.scalar(b["lo"])),
            _interval_excludes("le", lo, hi, pa.scalar(b["hi"])),
        )
        survivors = covered - set(prunable["file"].filter(excluded).to_pylist())
        mode = "interval"
    # files with no prunable stats row for the column are always kept
    kept = [f for f in all_files if f not in covered or f in survivors]
    return {
        "files": kept,
        "files_total": len(all_files),
        "files_pruned": len(all_files) - len(kept),
        "mode": mode,
        "n_keys": n_keys if n_keys <= max_keys else None,
    }


def read_skipping_for_join(
    spark: SparkSession,
    data_path: str,
    index_path: str,
    column: str,
    keys: DataFrame,
    max_keys: int = 100_000,
    bloom_path: str | None = None,
) -> DataFrame:
    """Read ``data_path`` keeping only files that can contain a join
    key from ``keys`` — the scan half of dynamic file pruning.  The
    result is a SUPERSET of the matching rows (file granularity); it is
    only correct to consume it through an inner or left-semi join on
    ``column`` against those same keys.  The kept files are read by
    ``evolution.read_evolved``, the one read of a maintained table, so
    an evolved table joins under its current logical schema."""
    plan = plan_skipping_join(
        spark, index_path, column, keys, max_keys, bloom_path=bloom_path
    )
    return read_evolved(spark, data_path, index_path, files=plan["files"])


def broadcast_join_skipping(
    spark: SparkSession,
    data_path: str,
    index_path: str,
    fact_key: str,
    dim: DataFrame,
    dim_key: str,
    how: str = "inner",
    max_keys: int = 100_000,
    bloom_path: str | None = None,
) -> DataFrame:
    """File-pruned fact ⋈ broadcast dim: prune the fact manifest from
    the dim side's keys, then broadcast-join the surviving files.
    ``how`` is restricted to the join shapes under which file pruning
    is semantics-preserving on the fact side (``inner``/``left_semi``
    — a left/full outer join must keep keyless fact rows, which live
    in pruned files)."""
    if how not in ("inner", "left_semi", "semi", "leftsemi"):
        raise ValueError(
            "file-pruned join supports inner/left_semi only: outer joins "
            "need fact rows that pruning removes"
        )
    fact = read_skipping_for_join(
        spark, data_path, index_path, fact_key, dim.select(dim_key), max_keys,
        bloom_path=bloom_path,
    )
    return fact.join(
        F.broadcast(dim), fact[fact_key] == dim[dim_key], how
    )


# ---------------------------------------------------------------------------
# Bloom-filter file index: point-lookup pruning where min/max can't.
# Interval stats prune range predicates over CLUSTERED columns; an eq
# probe (or a join-key set) against a column the layout does not sort
# prunes nothing — every file's [min, max] spans the domain.  A
# per-(file, column) Bloom filter over the column's distinct values
# answers "can this file contain THIS value" irrespective of layout —
# the needle-in-100 TB id lookup.  Same external-manifest design as
# the stats index (Parquet's own optional column bloom filters sit in
# the files and still cost a footer+filter read per file per query;
# Delta/Iceberg keep theirs out-of-line for the same reason as here).
# Safety: a MISSING bloom row (unindexed file/column, too many
# distinct values, unsupported kind) always KEEPS the file, and false
# positives only keep files — pruning stays a superset optimization.
# Maintenance can lag safely in one direction: rows for deleted files
# are dead weight, NEW files without rows are merely unpruned —
# update_bloom_index catches both up incrementally.
# ---------------------------------------------------------------------------

BLOOM_SCHEMA = (
    "file string, column string, kind string, m long, k long, "
    "n_values long, words array<long>"
)


def _bloom_params(n: int, fpp: float) -> tuple[int, int]:
    """Classic sizing: m = -n ln(fpp)/ln(2)^2 bits (rounded up to a
    multiple of 64, floor 64), k = (m/n) ln 2 hashes (1..32)."""
    import math

    n = max(1, n)
    m = int(math.ceil(-n * math.log(fpp) / (math.log(2) ** 2)))
    m = max(64, ((m + 63) // 64) * 64)
    k = max(1, min(32, round(m / n * math.log(2))))
    return m, k


def _bloom_hash_pair(canon: str) -> tuple[int, int]:
    """(h1, h2) from md5 of the canonical value string; h2 forced odd.
    Positions are ``((h1 % m) + i*(h2 % m)) % m`` for i in [0, k) —
    written in the overflow-free form so the Spark-side probe
    expression computes the identical sequence in 64-bit arithmetic."""
    import hashlib

    h = hashlib.md5(canon.encode("utf-8")).hexdigest()
    return int(h[:15], 16), int(h[15:30], 16) | 1


def _bloom_canon(value: Any) -> str | None:
    """Canonical hash string per supported kind: ints as ``str(int)``
    (so Python build and collected-LongType probe agree), strings
    as-is; anything else (floats — eq on floats is a footgun anyway —
    nested, null) is not bloom-indexable."""
    if value is None or isinstance(value, bool):
        return None
    if isinstance(value, int):
        return str(value)
    if isinstance(value, str):
        return value
    return None


def _make_bloom_scanner(columns: list[str], fpp: float, max_bits: int):
    """Executor-side (file → bloom rows) generator factory; closure
    ships by value (same rationale as ``_make_footer_scanner``) and
    touches only stdlib + pyarrow + numpy."""

    def _bloom_rows(files: list[str]) -> Iterator[dict]:
        import hashlib as _hashlib
        import math as _math

        import numpy as _np
        import pyarrow as pa
        import pyarrow.parquet as pq

        def params(n: int) -> tuple[int, int]:
            n = max(1, n)
            m = int(_math.ceil(-n * _math.log(fpp) / (_math.log(2) ** 2)))
            m = max(64, ((m + 63) // 64) * 64)
            k = max(1, min(32, round(m / n * _math.log(2))))
            return m, k

        for file_path in files:
            pf = pq.ParquetFile(file_path)
            schema = pf.schema_arrow
            present = [c for c in columns if schema.get_field_index(c) >= 0]
            if not present:
                continue
            tbl = pf.read(columns=present)
            for c in present:
                typ = schema.field(c).type
                if pa.types.is_integer(typ):
                    kind = "int"
                elif pa.types.is_string(typ) or pa.types.is_large_string(typ):
                    kind = "str"
                else:
                    continue  # unsupported kind: no row => never prunes
                vals = [
                    v for v in tbl.column(c).unique().to_pylist() if v is not None
                ]
                m, k = params(len(vals))
                if m > max_bits:
                    continue  # too wide to index: no row => never prunes
                words = _np.zeros(m // 64, dtype=_np.uint64)
                for v in vals:
                    canon = str(v) if kind == "int" else v
                    h = _hashlib.md5(canon.encode("utf-8")).hexdigest()
                    h1, h2 = int(h[:15], 16), int(h[15:30], 16) | 1
                    a, b = h1 % m, h2 % m
                    for i in range(k):
                        p = (a + i * b) % m
                        words[p >> 6] |= _np.uint64(1) << _np.uint64(p & 63)
                yield {
                    "file": file_path, "column": c, "kind": kind,
                    "m": m, "k": k, "n_values": len(vals),
                    "words": words.view(_np.int64).tolist(),
                }

    return _bloom_rows


def build_bloom_index(
    spark: SparkSession,
    data_path: str,
    bloom_path: str,
    columns: list[str],
    fpp: float = 0.01,
    max_bits: int = 1 << 22,
    mode: str = "overwrite",
) -> int:
    """Build per-(file, column) Bloom filters for ``columns`` (int and
    string columns only).  Unlike the stats index this reads the
    column DATA — a one-pass distributed scan of the indexed columns
    (``mapInPandas`` over the file list), priced like any other full
    read of those columns.  Returns the number of bloom rows written."""
    files = list_parquet_files(data_path)
    if not files:
        raise FileNotFoundError(f"no parquet files under {data_path}")
    out = _scan_files(
        spark, files, _make_bloom_scanner(list(columns), fpp, max_bits),
        BLOOM_SCHEMA,
    )
    # repartition(1), not coalesce(1): coalesce would collapse the
    # mapInPandas stage into the single write task, serializing the
    # per-file DATA scans one Python round trip at a time; the tiny
    # extra exchange keeps the scan stage at n_slices-way parallelism
    # (round 15, guide §2.6 — don't let the sink's 1 task starve the
    # scan)
    out.repartition(1).write.mode(mode).parquet(bloom_path)
    from columnar_analytics_engine_spark.manifest import read_parquet_parts

    return read_parquet_parts(bloom_path, columns=["file"]).num_rows


def update_bloom_index(
    spark: SparkSession, data_path: str, bloom_path: str, fpp: float = 0.01
) -> dict[str, int]:
    """Incremental bloom maintenance, same contract as
    ``update_stats_index``: scan only files missing from the bloom
    table, drop rows for vanished files; cost bounded by the change.
    Rewritten on the driver with Arrow: one new file, then the old
    files removed (a reader in between sees rows twice, never none)."""
    from columnar_analytics_engine_spark.manifest import (
        parquet_parts,
        read_parquet_parts,
        write_parquet_part,
    )

    current = set(list_parquet_files(data_path))
    old = parquet_parts(bloom_path)
    bl = read_parquet_parts(bloom_path)
    indexed = set(bl.column("file").to_pylist())
    added = sorted(current - indexed)
    removed = sorted(indexed - current)
    if not added and not removed:
        return {"added": 0, "removed": 0}
    gone = pc.is_in(bl["file"], value_set=pa.array(removed, pa.string()))
    out = bl.filter(pc.invert(gone))
    if added:
        columns = sorted(set(bl.column("column").to_pylist()))
        rows = _scan_files(
            spark, added, _make_bloom_scanner(columns, fpp, 1 << 22), BLOOM_SCHEMA
        )
        out = pa.concat_tables([out, rows.toArrow().cast(out.schema)])
    write_parquet_part(bloom_path, out)
    for f in old:
        os.remove(f)
    return {"added": len(added), "removed": len(removed)}


def _bloom_member_sql(h1: str, h2: str) -> str:
    """SQL fragment: TRUE iff every probe position is set in ``words``
    — evaluated per bloom row, entirely JVM-side (higher-order
    functions; the modular form keeps every intermediate below 2^60).
    ``h1``/``h2`` are SQL expressions (literals or lambda fields)."""
    return (
        f"forall(transform(sequence(0L, k - 1L),"
        f" i -> pmod(pmod({h1}, m) + i * pmod({h2}, m), m)),"
        f" p -> (shiftright(words[CAST(p DIV 64 AS INT)],"
        f" CAST(pmod(p, 64) AS INT)) & 1) = 1)"
    )


def _bloom_table(bloom_path: str, column: str, kind: str) -> pa.Table:
    """(file, m, k, words) of the Bloom table's usable rows (a real
    filter, ``m > 0``) for ``column`` of ``kind``, read on the driver."""
    from columnar_analytics_engine_spark.manifest import read_parquet_parts

    bl = read_parquet_parts(bloom_path)
    return bl.filter(pc.and_kleene(
        pc.and_kleene(pc.equal(bl["column"], column), pc.equal(bl["kind"], kind)),
        pc.greater(bl["m"], 0),
    )).select(["file", "m", "k", "words"])


def bloom_prune(
    spark: SparkSession, bloom_path: str, column: str, value: Any
) -> set[str] | None:
    """Files whose bloom filter PROVES ``column`` never equals
    ``value`` (None when the value's kind is not bloom-indexable —
    caller keeps everything).  Files without a bloom row are never in
    the returned set."""
    return bloom_prune_many(spark, bloom_path, column, [value])


def bloom_prune_many(
    spark: SparkSession, bloom_path: str, column: str, values: list[Any]
) -> set[str] | None:
    """Files whose bloom filter refutes EVERY value in ``values`` (the
    IN-list / join-key-set prune), in one pass over the bloom table:
    per row, ``forall`` over the (driver-hashed) value pairs of NOT
    member.  Returns None — caller keeps everything — if any value is
    not bloom-indexable or the values mix kinds."""
    canons = [_bloom_canon(v) for v in values]
    if not canons or any(c is None for c in canons):
        return None
    kinds = {"int" if isinstance(v, int) else "str" for v in values}
    if len(kinds) != 1:
        return None
    (kind,) = kinds
    bl = _bloom_table(bloom_path, column, kind)
    if not bl.num_rows:
        return set()
    pairs = ", ".join(
        "named_struct('h1', {0}L, 'h2', {1}L)".format(*_bloom_hash_pair(c))
        for c in canons
    )
    # a filter over a local relation: Spark folds it on the driver
    miss = spark.createDataFrame(bl).filter(
        F.expr(
            f"forall(array({pairs}),"
            f" q -> NOT ({_bloom_member_sql('q.h1', 'q.h2')}))"
        )
    ).select("file")
    return {r["file"] for r in miss.collect()}


def verify_stats_index(
    spark: SparkSession, data_path: str, index_path: str
) -> dict[str, Any]:
    """Index/disk drift report (the ops check before trusting a
    manifest after manual surgery or a crashed maintenance run):

    * ``missing`` — files on disk the index does not know (invisible
      to index-planned readers; ``update_stats_index`` adopts them,
      ``layout.vacuum_unindexed`` deletes them — the operator chooses
      which was intended),
    * ``orphans`` — index rows whose file vanished (prune noise;
      ``update_stats_index`` drops them),
    * ``row_drift`` — indexed files whose current footer row count
      disagrees with the indexed ``file_rows`` (an in-place overwrite,
      which the maintenance ops here never do — a red flag).

    Read-only; footer opens only for files the index already lists.
    """
    import pyarrow.parquet as pq

    from columnar_analytics_engine_spark.manifest import file_rows

    disk = set(list_parquet_files(data_path))
    indexed_rows = file_rows(index_path)
    indexed = set(indexed_rows)
    drift = []
    for f in sorted(indexed & disk):
        actual = pq.ParquetFile(f).metadata.num_rows
        if actual != indexed_rows[f]:
            drift.append({"file": f, "indexed": indexed_rows[f], "actual": actual})
    return {
        "files_on_disk": len(disk),
        "files_indexed": len(indexed),
        "missing": sorted(disk - indexed),
        "orphans": sorted(indexed - disk),
        "row_drift": drift,
        "consistent": disk == indexed and not drift,
    }
