"""``table_changes`` Python DataSource: the change-data-feed as a
STREAMING SOURCE (VERDICT r13 item 5) — a downstream pipeline runs

    spark.dataSource.register(TableChangesDataSource)
    (spark.readStream.format("table_changes")
          .option("index", index_path).load(data_path))

and receives exactly the net row changes of a maintained table
(``manifest.py`` versioned index), with ``_change_type`` /
``_change_count`` columns, EXACTLY ONCE across restarts: the stream
offset is the manifest VERSION — the same cursor
``cdf.consume_changes``/``advance_cursor`` use — and retained manifest
versions are immutable, so ``readBetweenOffsets`` replays any
committed interval bit-identically (Structured Streaming's replayable-
source contract; Delta's ``readChangeFeed`` shape).

Implementation note: ``SimpleDataSourceStreamReader.read`` runs
driver-side in plain Python, so the netting (the same
added-files(+1) / removed-files(−1) / DV-commit-delta algebra as
``cdf.read_changes`` — see that docstring for the derivation) is
computed here with pyarrow over ONLY the files that changed between
the two versions.  Volume per micro-batch is therefore bounded by the
table's CHANGE rate, not its size — the right envelope for the simple
stream API, which ferries rows through the driver.  Limits (each
raises loudly rather than mis-reading): schema-evolved tables
(``_SCHEMA`` spec) and hive-partitioned layouts are not supported by
this source — consume those through ``cdf.consume_changes`` in a
foreachBatch loop instead.

Offset model: ``{"version": N}`` (N = last manifest version fully
emitted).  ``initialOffset`` is 0 → the first batch BOOTSTRAPS the
current snapshot as inserts (``cdf.consume_changes``'s first-read
contract) unless ``.option("starting", "latest")`` skips history.
Versions must stay retained (un-vacuumed) until the checkpoint passes
them — the same retention contract every cursor consumer has.
"""

from __future__ import annotations

import os
from collections import Counter

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

CHANGE_COLS = "_change_type string, _change_count long"


def _require_plain_table(index_path: str) -> None:
    from columnar_analytics_engine_spark.evolution import read_schema_spec

    if read_schema_spec(index_path) is not None:
        raise NotImplementedError(
            "table_changes source does not support schema-evolved tables; "
            "consume via cdf.consume_changes in foreachBatch instead"
        )


def _manifest_files(index_path: str, version: int) -> list[str]:
    from columnar_analytics_engine_spark.manifest import manifest_files

    files = manifest_files(index_path, version)
    for f in files:
        if "=" in os.path.basename(os.path.dirname(f)):
            raise NotImplementedError(
                "table_changes source does not support hive-partitioned "
                "layouts (partition values live in paths, not files)"
            )
    return files


def _dv_pairs(
    index_path: str, version: int
) -> dict[str, set[int]]:
    """(file → deleted row positions) applying at ``version`` — the
    committed tombstones, resolved by ``deletes.applied_commit_ids``
    and read with pyarrow (driver-side, DV tables are delete-count-sized)."""
    from columnar_analytics_engine_spark.deletes import (
        applied_commit_ids,
        dv_table,
    )
    from columnar_analytics_engine_spark.manifest import dv_commits

    side = dv_commits(index_path, version)
    if side is None or not os.path.exists(side.get("dv_path", "")):
        return {}
    tbl = dv_table(side["dv_path"], applied_commit_ids(index_path, version))
    out: dict[str, set[int]] = {}
    for f, i in zip(tbl.column("file").to_pylist(), tbl.column("row_index").to_pylist()):
        out.setdefault(f, set()).add(i)
    return out


def _file_rows(path: str, col_order: list[str], skip: set[int]) -> list[tuple]:
    import pyarrow.parquet as pq

    tbl = pq.read_table(path, columns=col_order)
    cols = [tbl.column(c).to_pylist() for c in col_order]
    return [
        tuple(col[i] for col in cols)
        for i in range(tbl.num_rows)
        if i not in skip
    ]


def _table_columns(index_path: str) -> list[str]:
    """Column order of the table (from the first manifest-listed
    file's footer)."""
    import pyarrow.parquet as pq

    from columnar_analytics_engine_spark.manifest import current_version

    cur = current_version(index_path)
    if cur is None:
        raise FileNotFoundError(f"no published manifest at {index_path}")
    files = _manifest_files(index_path, cur)
    if not files:
        raise FileNotFoundError(f"manifest at {index_path} lists no files")
    return [
        f.name for f in pq.read_schema(files[0]) if not f.name.startswith("_")
    ]


def _arrow_ddl(index_path: str) -> str:
    import pyarrow.parquet as pq

    from columnar_analytics_engine_spark.manifest import current_version

    files = _manifest_files(index_path, current_version(index_path))
    schema = pq.read_schema(files[0])
    parts = []
    for f in schema:
        if f.name.startswith("_"):
            continue
        t = str(f.type)
        ddl = {
            "int64": "long", "int32": "int", "int16": "short",
            "int8": "tinyint", "double": "double", "float": "float",
            "string": "string", "large_string": "string", "bool": "boolean",
            "date32[day]": "date", "binary": "binary",
        }.get(t)
        if ddl is None:
            if t.startswith("timestamp"):
                ddl = "timestamp"
            elif t.startswith("decimal"):
                ddl = t.replace("decimal128", "decimal")
            else:
                raise NotImplementedError(
                    f"table_changes: unmapped arrow type {t} for {f.name}"
                )
        parts.append(f"{f.name} {ddl}")
    return ", ".join(parts) + ", " + CHANGE_COLS


def net_changes_py(
    index_path: str, v_from: int, v_to: int
) -> list[tuple]:
    """The net change rows between two retained versions, computed
    driver-side with pyarrow: added files +1 under v_to's committed
    tombstones, removed files −1 under v_from's, unchanged files that
    picked up new DV commits on both sides (the ``cdf.read_changes``
    algebra; scan bounded by changed files).  ``v_from=0`` bootstraps
    the v_to snapshot as inserts."""
    _require_plain_table(index_path)
    cols = _table_columns(index_path)
    dv_to = _dv_pairs(index_path, v_to)
    if v_from == 0:
        rows: list[tuple] = []
        for f in _manifest_files(index_path, v_to):
            for r in _file_rows(f, cols, dv_to.get(f, set())):
                rows.append((*r, "insert", 1))
        return rows
    dv_from = _dv_pairs(index_path, v_from)
    f_from = set(_manifest_files(index_path, v_from))
    f_to = set(_manifest_files(index_path, v_to))
    added = sorted(f_to - f_from)
    removed = sorted(f_from - f_to)
    # unchanged files whose delete state changed between the versions
    dv_delta = sorted(
        f
        for f in (f_from & f_to)
        if dv_to.get(f, set()) != dv_from.get(f, set())
    )
    net: Counter = Counter()
    for f in added + dv_delta:
        for r in _file_rows(f, cols, dv_to.get(f, set())):
            net[r] += 1
    for f in removed + dv_delta:
        for r in _file_rows(f, cols, dv_from.get(f, set())):
            net[r] -= 1
    return [
        (*r, "insert" if n > 0 else "delete", abs(n))
        for r, n in sorted(net.items(), key=lambda kv: str(kv[0]))
        if n != 0
    ]


class _SnapshotPartition(InputPartition):
    def __init__(self, index_path: str):
        self.index_path = index_path


class TableChangesBatchReader(DataSourceReader):
    """Batch twin: the current snapshot as a bootstrap feed (all
    inserts) — what a new consumer's first micro-batch sees."""

    def __init__(self, options: dict):
        self.index = options.get("index")
        if not self.index:
            raise ValueError("table_changes: .option('index', path) required")

    def partitions(self):
        return [_SnapshotPartition(self.index)]

    def read(self, partition: _SnapshotPartition):
        from columnar_analytics_engine_spark.manifest import current_version

        yield from net_changes_py(
            partition.index_path, 0, current_version(partition.index_path)
        )


class TableChangesStreamReader(SimpleDataSourceStreamReader):
    def __init__(self, options: dict):
        self.index = options.get("index")
        if not self.index:
            raise ValueError("table_changes: .option('index', path) required")
        self.starting = options.get("starting", "0")

    def initialOffset(self) -> dict:
        if self.starting == "latest":
            from columnar_analytics_engine_spark.manifest import (
                current_version,
            )

            return {"version": current_version(self.index) or 0}
        return {"version": int(self.starting)}

    def read(self, start: dict):
        from columnar_analytics_engine_spark.manifest import current_version

        v0 = int(start.get("version", 0))
        cur = current_version(self.index)
        if cur is None or cur <= v0:
            return iter([]), start
        return iter(net_changes_py(self.index, v0, cur)), {"version": cur}

    def readBetweenOffsets(self, start: dict, end: dict):
        v0 = int(start.get("version", 0))
        v1 = int(end.get("version", 0))
        if v1 <= v0:
            return iter([])
        return iter(net_changes_py(self.index, v0, v1))


class TableChangesDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "table_changes"

    def schema(self) -> str:
        index = self.options.get("index")
        if not index:
            raise ValueError("table_changes: .option('index', path) required")
        return _arrow_ddl(index)

    def reader(self, schema) -> TableChangesBatchReader:
        return TableChangesBatchReader(self.options)

    def simpleStreamReader(self, schema) -> TableChangesStreamReader:
        return TableChangesStreamReader(self.options)
