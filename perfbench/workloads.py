"""The four benchmark workloads and the op context they run in.

Every op is one closed-loop request: the runner sends the next op only
after the previous one returned and was checked.  ``Op.run`` is timed;
``Op.check`` is not, and returns an error string for a wrong result.
"""

from __future__ import annotations

import os
import shutil
from contextlib import nullcontext
from dataclasses import dataclass
from typing import Any, Callable, Iterator

import numpy as np

import tracer as tracing

# The interactive and curation inputs are fixed: byte copies of the
# engine's reference scale-factor tables (seed 42).  The run seed only
# orders the ops.
DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


@dataclass
class Op:
    name: str
    kind: str  # "read" or "write"
    run: Callable[[], Any]
    check: Callable[[Any], str | None]
    user_bytes: float = 0.0  # logical bytes of user rows the op writes


class Ctx:
    """What an op needs: the session and, in a traced run, the tracer."""

    def __init__(self, tracer: tracing.Tracer | None) -> None:
        self.spark = None
        self.tracer = tracer

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()

    def count(self, name: str, value: float) -> None:
        if self.tracer:
            self.tracer.count(name, value)

    def construct(self, span_name: str, build: Callable[[], Any]) -> Any:
        """Build a DataFrame (driver-side construction only); a traced
        run also counts the py4j round trips it makes."""
        if not self.tracer:
            return build()
        counters = self.tracer.counters[self.tracer.op_id]
        before = counters["py4j_calls"]
        with self.span(span_name):
            out = build()
        self.tracer.count(span_name + ".py4j_calls", counters["py4j_calls"] - before)
        return out

    def _probe_plan(self, df) -> None:
        import time

        from columnar_analytics_engine_spark.plans.explain import formatted_plan

        with self.span("trace.plan"):
            t0 = time.perf_counter()
            df._jdf.queryExecution().executedPlan()
            self.tracer.count("plans.plan_s", time.perf_counter() - t0)
            self.tracer.count("plans.planned", 1)
            for key, n in tracing.plan_node_counts(formatted_plan(df)).items():
                self.tracer.count("plans." + key, n)

    def materialize(self, df, sums: tuple[str, ...] = ()) -> dict[str, int]:
        """Force every output column with a ``noop`` write and return
        the row count (plus the sum of each column in ``sums``), observed
        during that same write."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        if self.tracer:
            self._probe_plan(df)
        obs = Observation()
        aggs = [F.count(F.lit(1)).alias("rows")] + [
            F.coalesce(F.sum(c), F.lit(0)).cast("long").alias(f"sum_{c}") for c in sums
        ]
        with self.span("exec.action"):
            df.observe(obs, *aggs).write.format("noop").mode("overwrite").save()
            return dict(obs.get)

    def collect(self, df) -> list[tuple]:
        """Collect a small result (every column) as sorted tuples."""
        if self.tracer:
            self._probe_plan(df)
        with self.span("exec.action"):
            rows = df.collect()
        return sorted(tuple(r) for r in rows)

    def action(self, call: Callable[[], Any]) -> Any:
        """An op that is one call into the engine (a table write)."""
        with self.span("exec.action"):
            return call()


def _expect(got, want, what: str) -> str | None:
    return None if got == want else f"{what}: got {got!r}, expected {want!r}"


def tree_state(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            st = os.stat(os.path.join(d, f))
            out[os.path.join(d, f)] = (st.st_size, st.st_mtime_ns)
    return out


def _tree_bytes(root: str) -> int:
    return sum(size for size, _ in tree_state(root).values())


# ---------------------------------------------------------------------------
# interactive / curation: registry queries over the reference tables
# ---------------------------------------------------------------------------

INTERACTIVE_OPS = (
    "scan_full_count", "filter_count", "agg_global", "agg_group_by", "tpch_q1",
    "join_star_tpch_q5", "window_topk_per_group", "sort_limit_topk",
    "events_sessionization", "events_funnel_windowed", "quality_gopher_rules",
    "approx_quantile_by_group",
)
CURATION_OPS = (
    "dedup_minhash_lsh", "pipeline_clean_corpus", "similarity_ivfpq_topk",
    "contamination_ngram_overlap", "dedup_cdc_chunks", "retrieval_hybrid_rrf",
    "classifier_nb_confusion",
)


class RegistryWorkload:
    """Registry queries; each op's row count must match the count the
    DuckDB oracle pass established (``compare.compare``) in warm-up."""

    storage_metrics = False
    table_root = None  # the ops write no table
    # op latencies still fall for two cycles after the oracle pass
    warm_cycles = 2
    # the ``io.read_table`` memo is per application, so each set-up
    # starts a new session to resolve the tables afresh
    restarts_session = True

    def __init__(self, ops: tuple[str, ...], sf: str) -> None:
        from columnar_analytics_engine_spark.queries import all_queries

        registry = all_queries()
        self.specs = {name: registry[name] for name in ops}
        self.sf_dir = os.path.join(DATA, sf)
        self.ref: dict[str, int | None] = {}

    def setup(self, ctx: Ctx, rep_dir: str) -> None:
        """Resolve every table through the engine (listing, footers,
        schema), which fills the ``io.read_table`` memo of this session."""
        from columnar_analytics_engine_spark import io

        io.load_tables(ctx.spark, self.sf_dir)

    def prepare(self, ctx: Ctx) -> None:
        pass

    def _op(self, ctx: Ctx, name: str, check: Callable[[Any], str | None]) -> Op:
        from columnar_analytics_engine_spark.functions.caching import cache_scope

        spec = self.specs[name]

        def run():
            with cache_scope():
                df = ctx.construct("queries.construct", lambda: spec.fn(ctx.spark, self.sf_dir))
                return ctx.materialize(df)["rows"]

        return Op(name, "read", run, check)

    def warmup(self, ctx: Ctx, rng: np.random.Generator) -> Iterator[Op]:
        """The untimed oracle pass: full value comparison per op."""
        from columnar_analytics_engine_spark.compare import compare, oracle_connection
        from columnar_analytics_engine_spark.functions.caching import cache_scope

        con = oracle_connection(self.sf_dir)
        try:
            for name, spec in self.specs.items():
                self.ref[name] = None

                def run(name=name, spec=spec):
                    with cache_scope():
                        return compare(name, spec.fn(ctx.spark, self.sf_dir), spec.sql, con)

                def check(res, name=name):
                    if not res.ok:
                        return f"oracle mismatch: {res}"
                    self.ref[name] = res.oracle_rows
                    return None

                yield Op(name, "read", run, check)
        finally:
            con.close()

    def cycle(self, ctx: Ctx, rng: np.random.Generator) -> Iterator[Op]:
        for i in rng.permutation(len(self.specs)):
            name = list(self.specs)[i]

            def check(rows, name=name):
                if self.ref[name] is None:
                    return "no oracle reference (warm-up comparison failed)"
                return _expect(rows, self.ref[name], "row count")

            yield self._op(ctx, name, check)

    def final_check(self, ctx: Ctx) -> str | None:
        return None

    def storage(self) -> dict[str, float]:
        return {}


# ---------------------------------------------------------------------------
# maintenance: reads beside writes on one indexed, sorted table
# ---------------------------------------------------------------------------

_ROW_SCHEMA = "id long, value long, score int, region string"
_ROW_BYTES_SQL = "SUM(20 + LENGTH(region))"  # id 8 + value 8 + score 4 + region


class MaintenanceWorkload:
    """A ``bench_table`` written sorted on ``value`` with a stats index;
    each cycle reads it through the index, rewrites it and exports it to
    ``.col``.  A DuckDB model applies the same op sequence to the
    generated rows."""

    storage_metrics = True
    restarts_session = False
    warm_cycles = 0  # the warm-up is already one cycle

    def __init__(self, seed: int, rows: int, files: int, batch: int) -> None:
        self.seed, self.rows, self.files, self.batch = seed, rows, files, batch

    def setup(self, ctx: Ctx, rep_dir: str) -> None:
        from columnar_analytics_engine_spark import io, skipping
        from columnar_analytics_engine_spark.sources import synthetic

        self.table_root = os.path.join(rep_dir, "table")
        self.data = os.path.join(self.table_root, "data")
        self.index = os.path.join(self.table_root, "index")
        self.dv = os.path.join(self.table_root, "dv")
        self.col = os.path.join(self.table_root, "export.col")
        io.write_sorted(synthetic.bench_table(ctx.spark, self.rows, self.seed), self.data,
                        ["value"], n_files=self.files)
        skipping.build_stats_index(ctx.spark, self.data, self.index)
        # rewrites keep the initial file size, so the table stays
        # ``files`` files wide instead of collapsing into one
        self.file_bytes = _tree_bytes(self.data) // self.files

    def prepare(self, ctx: Ctx) -> None:
        import duckdb

        from columnar_analytics_engine_spark.sources import synthetic

        self.next_id = self.rows
        self.con = duckdb.connect()
        generated = synthetic.bench_table(ctx.spark, self.rows, self.seed).toPandas()
        self.con.register("generated", generated)
        self.con.execute("CREATE TABLE t AS SELECT * FROM generated")
        self.con.unregister("generated")

    def _model(self, sql: str):
        return self.con.execute(sql).fetchall()

    def _model_sums(self, pred: str) -> dict[str, int]:
        n, si, sv = self._model(
            f"SELECT COUNT(*), COALESCE(SUM(id), 0), COALESCE(SUM(value), 0) FROM t WHERE {pred}"
        )[0]
        return {"rows": n, "sum_id": int(si), "sum_value": int(sv)}

    def _model_groups(self) -> list[tuple]:
        return sorted(
            (r, int(n), int(s))
            for r, n, s in self._model("SELECT region, COUNT(*), SUM(value) FROM t GROUP BY region")
        )

    @staticmethod
    def _new_rows(rng: np.random.Generator, ids: np.ndarray):
        import pandas as pd

        from columnar_analytics_engine_spark.sources.synthetic import BENCH_REGIONS

        n = len(ids)
        return pd.DataFrame({
            "id": ids.astype("int64"),
            "value": rng.integers(0, 100_001, n).astype("int64"),
            "score": rng.integers(1, 11, n).astype("int32"),
            "region": np.asarray(BENCH_REGIONS, dtype=object)[rng.integers(0, len(BENCH_REGIONS), n)],
        })

    def _skipping_read(self, ctx: Ctx, name: str, pred: str) -> Op:
        from columnar_analytics_engine_spark import skipping

        want = self._model_sums(pred)

        def run():
            df = ctx.construct("construct", lambda: skipping.read_skipping(ctx.spark, self.data, self.index, pred))
            return ctx.materialize(df, ("id", "value"))

        return Op(name, "read", run, lambda got: _expect(got, want, f"{name} [{pred}]"))

    def _deletes_agg(self, ctx: Ctx, name: str) -> Op:
        from pyspark.sql import functions as F

        from columnar_analytics_engine_spark import deletes

        want = self._model_groups()

        def run():
            df = ctx.construct("construct", lambda: deletes.read_with_deletes(
                ctx.spark, self.data, self.dv, index_path=self.index
            ).groupBy("region").agg(F.count(F.lit(1)), F.sum("value")))
            return ctx.collect(df)

        return Op(name, "read", run, lambda got: _expect(got, want, name))

    def _clustering_depth(self, ctx: Ctx) -> Op:
        """``layout.clustering_depth`` over the index's file extents of
        ``value`` (it goes through ``persist_once``), checked against the
        same depth computed here from those extents."""
        from columnar_analytics_engine_spark import layout

        def run():
            df = ctx.construct("construct", lambda: layout.clustering_depth(
                layout.index_extents(ctx.spark, self.index, ["value"])))
            return ctx.collect(df.select("n_buckets", "overlap_pairs", "avg_depth"))

        def check(got):
            ext = [(r["mn"], r["mx"]) for r in layout.index_extents(ctx.spark, self.index, ["value"]).collect()]
            total = sum(1 for a in ext for b in ext if a[0] <= b[1] and b[0] <= a[1])
            n = len(ext)
            want = [(n, (total - n) // 2, total / n)]
            return _expect(got, want, "clustering_depth (buckets, overlap pairs, depth)")

        return Op("clustering_depth", "read", run, check)

    @staticmethod
    def _value_range(rng: np.random.Generator, width: int) -> str:
        lo = int(rng.integers(0, 100_001 - width))
        return f"value >= {lo} AND value < {lo + width}"

    def _row_bytes(self, frame) -> float:
        return float(20 * len(frame) + frame["region"].str.len().sum())

    def _point(self, rng: np.random.Generator) -> str:
        """An equality predicate on the ``value`` of a random live row."""
        (n_live,) = self._model("SELECT COUNT(*) FROM t")[0]
        (v,) = self._model(f"SELECT value FROM t ORDER BY id LIMIT 1 OFFSET {int(rng.integers(n_live))}")[0]
        return f"value = {v}"

    def cycle(self, ctx: Ctx, rng: np.random.Generator) -> Iterator[Op]:
        """Fixed op order (deletes are folded before any rewrite, as the
        engine's maintenance contract requires); the seed picks keys,
        ranges and the rows written.  An index-planned read follows each
        rewrite, so reads outnumber writes and the median op is a read."""
        from columnar_analytics_engine_spark import deletes, io, layout, skipping

        spark = ctx.spark
        yield self._skipping_read(ctx, "point_read", self._point(rng))
        yield self._skipping_read(ctx, "range_read", self._value_range(rng, 2000))

        pred = self._value_range(rng, 300)
        want = self._model_sums(pred)["rows"]

        def delete_check(n, pred=pred):
            self.con.execute(f"DELETE FROM t WHERE {pred}")
            return _expect(n, want, f"tombstones for [{pred}]")

        yield Op("delete_where", "write",
                 lambda: ctx.action(lambda: deletes.delete_where(spark, self.data, self.dv, pred, index_path=self.index)),
                 delete_check)
        yield self._deletes_agg(ctx, "deleted_agg")
        yield Op("compact_deletes", "write",
                 lambda: ctx.action(lambda: deletes.compact_deletes(spark, self.data, self.dv, self.index)),
                 lambda res: None)
        yield self._skipping_read(ctx, "range_read_compacted", self._value_range(rng, 2000))

        ids = self.con.execute("SELECT id FROM t ORDER BY id").fetchnumpy()["id"]
        old = rng.choice(ids, self.batch // 2, replace=False)
        new = np.arange(self.next_id, self.next_id + self.batch - len(old))
        self.next_id += len(new)
        upsert = self._new_rows(rng, np.concatenate([old, new]))

        def merge():
            src = spark.createDataFrame(upsert, _ROW_SCHEMA)
            return ctx.action(lambda: layout.merge_upsert_files(
                spark, self.data, self.index, src, key="id", target_file_bytes=self.file_bytes))

        def merge_check(res):
            self.con.register("src", upsert)
            self.con.execute("DELETE FROM t WHERE id IN (SELECT id FROM src)")
            self.con.execute("INSERT INTO t SELECT * FROM src")
            self.con.unregister("src")
            return None

        yield Op("merge_upsert_files", "write", merge, merge_check, self._row_bytes(upsert))
        yield self._skipping_read(ctx, "point_read_merged", self._point(rng))
        yield Op("cluster_compact", "write",
                 lambda: ctx.action(lambda: layout.cluster_compact(
                     spark, self.data, self.index, cols=["value"], target_file_bytes=self.file_bytes)),
                 lambda res: None)
        yield self._skipping_read(ctx, "range_read_clustered", self._value_range(rng, 2000))

        appended = self._new_rows(rng, np.arange(self.next_id, self.next_id + self.batch))
        self.next_id += self.batch

        def ingest():
            src = spark.createDataFrame(appended, _ROW_SCHEMA)
            ctx.action(lambda: io.write_table(src.coalesce(1), self.data, mode="append"))
            return ctx.action(lambda: skipping.update_stats_index(spark, self.data, self.index))

        def ingest_check(res):
            self.con.register("src", appended)
            self.con.execute("INSERT INTO t SELECT * FROM src")
            self.con.unregister("src")
            return _expect(res, {"added": 1, "removed": 0}, "update_stats_index")

        yield Op("ingest_update_stats_index", "write", ingest, ingest_check, self._row_bytes(appended))
        yield self._skipping_read(ctx, "point_read_ingested", self._point(rng))
        yield self._clustering_depth(ctx)
        yield Op("vacuum_unindexed", "write",
                 lambda: ctx.action(lambda: layout.vacuum_unindexed(spark, self.data, self.index, keep_versions=1)),
                 lambda res: None)
        yield from self._col_export(ctx, rng)

    def _col_export(self, ctx: Ctx, rng: np.random.Generator) -> Iterator[Op]:
        """Export the live table, sorted on ``value``, to the engine's own
        ``.col`` format, then read it back with a zone-map-prunable
        ``where``; both are checked against the model."""
        from columnar_analytics_engine_spark import deletes, io

        spark = ctx.spark
        (n_live, live_bytes) = self._model(f"SELECT COUNT(*), {_ROW_BYTES_SQL} FROM t")[0]

        def export():
            df = deletes.read_with_deletes(spark, self.data, self.dv, index_path=self.index)
            return ctx.action(lambda: io.write_colfile(df.select("id", "value", "score", "region").orderBy("value"),
                                                       self.col))

        def export_check(_):
            meta = io.describe_col(self.col)
            self.col_row_groups = sum(f["num_row_groups"] for f in meta["files"])
            return _expect(meta["total_rows"], n_live, "rows in the .col export")

        yield Op("col_export", "write", export, export_check, float(live_bytes))
        where = self._value_range(rng, 10_000)
        want = self._model_sums(where)

        def read():
            df = ctx.construct("construct", lambda: io.read_colfile(spark, self.col, where=where))
            with ctx.span("colfile.scan"):
                ctx.count("colfile.row_groups", self.col_row_groups)
                return ctx.materialize(df, ("id", "value"))

        yield Op("col_where_read", "read", read, lambda got: _expect(got, want, f"col_where_read [{where}]"))

    def warmup(self, ctx: Ctx, rng: np.random.Generator) -> Iterator[Op]:
        return self.cycle(ctx, rng)

    def final_check(self, ctx: Ctx) -> str | None:
        from columnar_analytics_engine_spark import deletes

        got = deletes.read_with_deletes(ctx.spark, self.data, self.dv, index_path=self.index).toPandas()
        want = self.con.execute("SELECT * FROM t").fetchdf()
        got = got.sort_values("id").reset_index(drop=True)
        want = want.sort_values("id").reset_index(drop=True)
        if len(got) != len(want):
            return f"final contents: {len(got)} rows, model has {len(want)}"
        if not (got[list(want.columns)].astype(str).values == want.astype(str).values).all():
            return "final contents differ from the model"
        return None

    def storage(self) -> dict[str, float]:
        (live,) = self._model(f"SELECT {_ROW_BYTES_SQL} FROM t")[0]
        stored = sum(_tree_bytes(d) for d in (self.data, self.index, self.dv))  # the .col export is a copy
        return {"stored_bytes": float(stored), "live_user_bytes": float(live)}


# ---------------------------------------------------------------------------
# colfile: the engine's own .col format
# ---------------------------------------------------------------------------


class ColfileWorkload:
    """A ``bench_table`` sorted on ``value`` in ``.col`` shards: one
    rewrite, then the reference quartet and one zone-map-prunable read,
    checked against DuckDB over the same rows in Parquet."""

    storage_metrics = True
    restarts_session = False
    warm_cycles = 0  # the warm-up is already one cycle

    def __init__(self, seed: int, rows: int) -> None:
        self.seed, self.rows = seed, rows

    def _frame(self, spark):
        from columnar_analytics_engine_spark.sources import synthetic

        return synthetic.bench_table(spark, self.rows, self.seed).orderBy("value")

    def setup(self, ctx: Ctx, rep_dir: str) -> None:
        from columnar_analytics_engine_spark import io

        self.col = self.table_root = os.path.join(rep_dir, "table.col")
        io.write_colfile(self._frame(ctx.spark), self.col)

    def prepare(self, ctx: Ctx) -> None:
        import duckdb

        from columnar_analytics_engine_spark import io

        ref = os.path.join(os.path.dirname(self.col), "reference.parquet")
        self._frame(ctx.spark).write.mode("overwrite").parquet(ref)
        self.con = duckdb.connect()
        self.con.execute(f"CREATE TABLE t AS SELECT * FROM read_parquet('{ref}/*.parquet')")
        shutil.rmtree(ref)
        (self.user_bytes,) = self.con.execute(f"SELECT {_ROW_BYTES_SQL} FROM t").fetchone()
        self.row_groups = sum(f["num_row_groups"] for f in io.describe_col(self.col)["files"])

    def _sums(self, pred: str) -> dict[str, int]:
        n, si, sv = self.con.execute(
            f"SELECT COUNT(*), COALESCE(SUM(id), 0), COALESCE(SUM(value), 0) FROM t WHERE {pred}"
        ).fetchone()
        return {"rows": n, "sum_id": int(si), "sum_value": int(sv)}

    def cycle(self, ctx: Ctx, rng: np.random.Generator) -> Iterator[Op]:
        from pyspark.sql import functions as F

        from columnar_analytics_engine_spark import io

        spark = ctx.spark

        def rewrite():
            return ctx.action(lambda: io.write_colfile(self._frame(spark), self.col))

        def rewrite_check(_):
            return _expect(io.describe_col(self.col)["total_rows"], self.rows, "rows after rewrite")

        yield Op("col_rewrite", "write", rewrite, rewrite_check, float(self.user_bytes))

        lo = int(rng.integers(0, 90_001))
        where = f"value >= {lo} AND value < {lo + 10_000}"
        (total,) = self.con.execute("SELECT SUM(value) FROM t").fetchone()
        groups = sorted(
            (r, int(n), int(s))
            for r, n, s in self.con.execute("SELECT region, COUNT(*), SUM(value) FROM t GROUP BY region").fetchall()
        )

        def scan(name, build, want):
            def run():
                df = ctx.construct("construct", lambda: build(io.read_colfile))
                with ctx.span("colfile.scan"):
                    ctx.count("colfile.row_groups", self.row_groups)
                    return ctx.materialize(df, ("id", "value"))

            return Op(name, "read", run, lambda got: _expect(got, want, name))

        def agg(name, build, want):
            def run():
                df = ctx.construct("construct", lambda: build(io.read_colfile))
                with ctx.span("colfile.scan"):
                    ctx.count("colfile.row_groups", self.row_groups)
                    return ctx.collect(df)

            return Op(name, "read", run, lambda got: _expect(got, want, name))

        reads = [
            scan("full_scan", lambda rd: rd(spark, self.col), self._sums("TRUE")),
            scan("filter_gt", lambda rd: rd(spark, self.col).where("value > 50000"), self._sums("value > 50000")),
            agg("sum_value", lambda rd: rd(spark, self.col).agg(F.sum("value")), [(int(total),)]),
            agg("group_by_region",
                lambda rd: rd(spark, self.col).groupBy("region").agg(F.count(F.lit(1)), F.sum("value")), groups),
            scan("where_read", lambda rd: rd(spark, self.col, where=where), self._sums(where)),
        ]
        for i in rng.permutation(len(reads)):
            yield reads[i]

    def warmup(self, ctx: Ctx, rng: np.random.Generator) -> Iterator[Op]:
        return self.cycle(ctx, rng)

    def final_check(self, ctx: Ctx) -> str | None:
        return None

    def storage(self) -> dict[str, float]:
        return {"stored_bytes": float(_tree_bytes(self.col)), "live_user_bytes": float(self.user_bytes)}


# name -> (full size, tiny size) factories of the run seed
WORKLOADS: dict[str, tuple[Callable[[int], Any], Callable[[int], Any]]] = {
    "interactive": (lambda s: RegistryWorkload(INTERACTIVE_OPS, "sf0.1"),
                    lambda s: RegistryWorkload(INTERACTIVE_OPS, "sf0.001")),
    "curation": (lambda s: RegistryWorkload(CURATION_OPS, "sf0.1"),
                 lambda s: RegistryWorkload(CURATION_OPS, "sf0.001")),
    "maintenance": (lambda s: MaintenanceWorkload(s, 40_000, 8, 400),
                    lambda s: MaintenanceWorkload(s, 10_000, 4, 200)),
    "colfile": (lambda s: ColfileWorkload(s, 50_000), lambda s: ColfileWorkload(s, 10_000)),
}
