"""CLI — parity with the reference's three entry points (src/cli.cpp:300-344):

  write <out_dir> <num_rows> [seed]   synthetic data gen (src/cli.cpp:29-118)
  scan  <path>                        metadata dump       (src/cli.cpp:120-170)
  query <path> [--select a,b] [--where col,op,val]... [--agg func,col]
        [--groupby col] [--index idx] SQL-ish query flags (src/cli.cpp:209-298)
  index (build|update|plan) <data> <idx> [--columns a,b] [--predicate "..."]
                                      file-level stats-skipping index

Usage:  python -m columnar_analytics_engine_spark.cli query data.parquet \\
            --select id,region --where value,GT,5000 --groupby region --agg sum,value
"""

from __future__ import annotations

import argparse
import json
import sys

from columnar_analytics_engine_spark.io import describe, write_table
from columnar_analytics_engine_spark.ops import AggFunc, CompareOp, Query
from columnar_analytics_engine_spark.session import get_spark
from columnar_analytics_engine_spark.sources.synthetic import cli_table

_OPS = {o.name: o for o in CompareOp}
_AGGS = {a.name: a for a in AggFunc}


def _predicate_literal(s: str) -> str:
    """Render a --where value in the skipping predicate grammar: int
    as-is, float in guaranteed dot+exponent form (round-trips the
    double exactly), anything else single-quoted."""
    try:
        return str(int(s))
    except ValueError:
        pass
    try:
        v = float(s)
        if v == v and v not in (float("inf"), float("-inf")):
            return f"{v:.17e}"
    except ValueError:
        pass
    return "'" + s.replace("'", "''") + "'"


def cmd_write(args: argparse.Namespace) -> None:
    spark = get_spark(app_name="cae-cli")
    df = cli_table(spark, args.num_rows, seed=args.seed)
    if getattr(args, "format", "parquet") == "col":
        from columnar_analytics_engine_spark.io import write_colfile

        write_colfile(df, args.out)
    else:
        write_table(df, args.out)
    print(f"wrote {args.num_rows} rows (seed {args.seed}) to {args.out}")


def cmd_scan(args: argparse.Namespace) -> None:
    meta = describe(args.path)
    print(json.dumps(meta, indent=2, default=str))


def cmd_query(args: argparse.Namespace) -> None:
    spark = get_spark(app_name="cae-cli")
    from columnar_analytics_engine_spark.io import _is_colfile_path

    if _is_colfile_path(args.path):
        # native .col input: a reference user's existing files work as-is
        from columnar_analytics_engine_spark.io import read_colfile

        q = Query(read_colfile(spark, args.path))
    elif getattr(args, "index", None):
        # stats-skipping scan: translate the --where clauses into the
        # index predicate grammar so the manifest prunes BEFORE the
        # scan; the same clauses are still applied exactly below
        from columnar_analytics_engine_spark.skipping import read_skipping

        clauses = []
        for w in args.where or []:
            parts = w.split(",")
            if len(parts) == 3:
                col, op, val = parts
                clauses.append(f"{col} {op.lower()} {_predicate_literal(val)}")
        as_of = getattr(args, "as_of", None)
        as_of_ts = getattr(args, "as_of_ts", None)
        if clauses:
            q = Query(
                read_skipping(
                    spark, args.path, args.index, " and ".join(clauses),
                    as_of=as_of, as_of_ts=as_of_ts,
                )
            )
        else:
            from columnar_analytics_engine_spark.skipping import read_indexed

            q = Query(
                read_indexed(
                    spark, args.path, args.index,
                    as_of=as_of, as_of_ts=as_of_ts,
                )
            )
    else:
        q = Query(spark.read.parquet(args.path))
    if args.select:
        q.set_projection([c.strip() for c in args.select.split(",")])
    for w in args.where or []:
        parts = w.split(",")
        if len(parts) != 3:
            sys.exit(f"error: --where expects COL,OP,VAL (got {w!r})")
        col, op, val = parts
        if op.upper() not in _OPS:
            sys.exit(
                f"error: unknown operator {op!r}; expected one of {sorted(_OPS)}"
            )
        try:
            value: object = int(val)
        except ValueError:
            try:
                value = float(val)
            except ValueError:
                value = val
        q.add_filter(col, _OPS[op.upper()], value)
    if args.agg:
        parts = args.agg.split(",")
        if len(parts) != 2 or parts[0].upper() not in _AGGS:
            sys.exit(
                f"error: --agg expects FUNC,COL with FUNC in {sorted(_AGGS)} (got {args.agg!r})"
            )
        func, col = parts
        q.set_aggregation(_AGGS[func.upper()], col)
    if args.groupby:
        q.set_group_by(*[c.strip() for c in args.groupby.split(",")])
    result = q.execute()
    # display cap mirrors the reference (src/cli.cpp:276-279: print ≤20);
    # limit(21) bounds driver memory — the full result never leaves the
    # executors just to print a 20-row preview
    rows = result.limit(21).collect()
    print("\t".join(result.columns))
    for row in rows[:20]:
        print("\t".join(str(v) for v in row))
    if len(rows) > 20:
        print("... (more than 20 rows; add --agg/--where to narrow)")



def cmd_index(args: argparse.Namespace) -> None:
    """File-level stats-skipping index management (skipping.py): build
    the per-file min/max index, refresh it incrementally after
    appends/deletes, or dry-run a predicate against it to see how much
    of the manifest a query would skip."""
    from columnar_analytics_engine_spark.skipping import (
        build_bloom_index,
        build_stats_index,
        plan_skipping,
        update_bloom_index,
        update_stats_index,
    )

    spark = get_spark(app_name="cae-index")
    if args.action == "build":
        cols = (
            [c.strip() for c in args.columns.split(",")] if args.columns else None
        )
        n = build_stats_index(spark, args.data, args.index, columns=cols)
        print(json.dumps({"files_indexed": n}))
    elif args.action == "update":
        print(json.dumps(update_stats_index(spark, args.data, args.index)))
    elif args.action == "build-bloom":
        if not args.columns:
            sys.exit("error: build-bloom requires --columns")
        n = build_bloom_index(
            spark, args.data, args.index,
            [c.strip() for c in args.columns.split(",")],
        )
        print(json.dumps({"bloom_rows": n}))
    elif args.action == "update-bloom":
        print(json.dumps(update_bloom_index(spark, args.data, args.index)))
    elif args.action == "verify":
        from columnar_analytics_engine_spark.skipping import verify_stats_index

        print(json.dumps(verify_stats_index(spark, args.data, args.index)))
    else:  # plan
        if not args.predicate:
            sys.exit("error: plan requires --predicate")
        plan = plan_skipping(
            spark, args.index, args.predicate, bloom_path=args.bloom
        )
        print(
            json.dumps(
                {
                    "files_total": plan["files_total"],
                    "files_pruned": plan["files_pruned"],
                    "files_kept": len(plan["files"]),
                    "kept_preview": plan["files"][:20],
                }
            )
        )


def cmd_optimize(args: argparse.Namespace) -> None:
    """Rewrite a parquet dataset clustered for stats-based pruning:
    single-column range clustering (``--sort``, ``io.write_sorted``)
    or multi-column Z-order (``--zorder``, ``io.write_zorder``), with
    an optional stats index built over the result in the same run."""
    from columnar_analytics_engine_spark.io import write_sorted, write_zorder
    from columnar_analytics_engine_spark.skipping import build_stats_index

    if bool(args.sort) == bool(args.zorder):
        sys.exit("error: exactly one of --sort or --zorder is required")
    spark = get_spark(app_name="cae-optimize")
    df = spark.read.parquet(args.data)
    out: dict = {"out": args.out, "files": args.files}
    if args.sort:
        write_sorted(df, args.out, [args.sort], n_files=args.files)
        out["layout"] = {"sort": args.sort}
    else:
        cols = [c.strip() for c in args.zorder.split(",")]
        method = "quantile" if args.quantile else "linear"
        bits = min(args.bits, 8) if args.quantile else args.bits
        write_zorder(
            df, args.out, cols, n_files=args.files, bits=bits, method=method
        )
        out["layout"] = {"zorder": cols, "bits": bits, "method": method}
    if args.index:
        out["files_indexed"] = build_stats_index(spark, args.out, args.index)
        out["index"] = args.index
    print(json.dumps(out))


def cmd_compact(args: argparse.Namespace) -> None:
    """Index-driven incremental re-clustering (layout.cluster_compact):
    rewrite only the overlap-heaviest files, swap the index manifest,
    optionally vacuum unindexed strays afterwards."""
    from columnar_analytics_engine_spark.layout import (
        cluster_compact,
        vacuum_unindexed,
    )

    spark = get_spark(app_name="cae-compact")
    if args.small_files:
        from columnar_analytics_engine_spark.layout import compact_small_files

        out = compact_small_files(
            spark, args.data, args.index,
            target_file_bytes=args.target_mb * 1024 * 1024,
            max_files=args.max_files,
            cols=[c.strip() for c in args.cols.split(",")] if args.cols else None,
        )
    else:
        if not args.cols:
            sys.exit("error: compact needs --cols (or --small-files)")
        cols = [c.strip() for c in args.cols.split(",")]
        out = cluster_compact(
            spark, args.data, args.index, cols, max_files=args.max_files
        )
    if args.vacuum:
        out["vacuumed"] = len(
            vacuum_unindexed(
                spark, args.data, args.index, keep_versions=args.keep_versions
            )
        )
    print(json.dumps(out))


def cmd_vacuum(args: argparse.Namespace) -> None:
    """Reclaim bytes (layout.vacuum_unindexed): expire manifest
    versions beyond --keep-versions and delete data files no retained
    version references — the explicit retention boundary of the
    maintenance tier (rewrites themselves never delete)."""
    from columnar_analytics_engine_spark.layout import vacuum_unindexed

    spark = get_spark(app_name="cae-vacuum")
    removed = vacuum_unindexed(
        spark, args.data, args.index, keep_versions=args.keep_versions,
        dry_run=args.dry_run,
    )
    key = "would_remove" if args.dry_run else "removed"
    print(json.dumps({key: len(removed), "paths": removed}))


def cmd_history(args: argparse.Namespace) -> None:
    """Manifest version history: retained versions, the published one,
    and per-version file/row counts — what `as_of` can time-travel to."""
    from columnar_analytics_engine_spark.manifest import (
        current_version,
        file_rows,
        list_versions,
        publish_log,
    )

    cur = current_version(args.index)
    # publish journal: last publish instant per version (a version can
    # be re-published by a catalog roll; report the latest)
    published_at = {v: ts for v, ts in publish_log(args.index)}
    versions = []
    for v in list_versions(args.index):
        rows_of = file_rows(args.index, as_of=v)
        versions.append(
            {
                "version": v,
                "current": v == cur,
                "files": len(rows_of),
                "rows": sum(rows_of.values()) if rows_of else None,
                "published_at": published_at.get(v),
            }
        )
    print(json.dumps({"current": cur, "versions": versions}))


def cmd_evolve(args: argparse.Namespace) -> None:
    """Metadata-only schema evolution (evolution.py): add / rename /
    widen / drop a column, or show the current logical schema.  Zero
    data files are touched; maintenance rewrites materialize changes
    lazily."""
    from columnar_analytics_engine_spark.evolution import (
        add_column,
        drop_column,
        read_schema_spec,
        rename_column,
        widen_type,
    )

    spark = get_spark(app_name="cae-evolve")
    if args.action == "add":
        default = None
        if args.default is not None:
            for cast in (int, float):
                try:
                    default = cast(args.default)
                    break
                except ValueError:
                    continue
            else:
                default = args.default
        spec = add_column(
            spark, args.data, args.index, args.column, args.type, default
        )
    elif args.action == "rename":
        spec = rename_column(spark, args.data, args.index, args.column, args.to)
    elif args.action == "widen":
        spec = widen_type(spark, args.data, args.index, args.column, args.type)
    elif args.action == "drop":
        spec = drop_column(spark, args.data, args.index, args.column)
    else:  # show
        spec = read_schema_spec(args.index) or {"columns": None,
                                                "note": "never evolved"}
    print(json.dumps(spec))


def cmd_health(args: argparse.Namespace) -> None:
    """Table-health report (layout.table_health): size / history /
    reclaimable / deletes / clustering / evolution in one JSON line —
    what to read before scheduling compact or vacuum."""
    from columnar_analytics_engine_spark.layout import table_health

    spark = get_spark(app_name="cae-health")
    cols = (
        [c.strip() for c in args.cols.split(",")] if args.cols else None
    )
    print(json.dumps(table_health(
        spark, args.data, args.index, dv_path=args.dv, probe_cols=cols
    )))


def cmd_changes(args: argparse.Namespace) -> None:
    """Change-data-feed between manifest versions (cdf.read_changes):
    net row changes from the file-set diff, scan cost bounded by the
    changed files.  Prints up to --limit rows plus a summary line."""
    from columnar_analytics_engine_spark.cdf import changed_files, read_changes
    from columnar_analytics_engine_spark.manifest import current_version

    spark = get_spark(app_name="cae-changes")
    to_v = args.to_version if args.to_version is not None else current_version(args.index)
    diff = changed_files(spark, args.index, args.from_version, to_v)
    ch = read_changes(spark, args.data, args.index, args.from_version, to_v)
    rows = ch.limit(args.limit).collect()
    for r in rows:
        print(json.dumps(r.asDict(), default=str))
    print(json.dumps({
        "from_version": args.from_version,
        "to_version": to_v,
        "files_added": len(diff["added"]),
        "files_removed": len(diff["removed"]),
        "change_rows_shown": len(rows),
    }))


def cmd_branch(args: argparse.Namespace) -> None:
    """Zero-copy table branching (branch.py): ``clone`` a manifest
    snapshot into a new index over the same files, ``merge-back`` a
    branch's change feed onto its source, ``family`` lists the indexes
    sharing the data directory (what branch-aware vacuum needs),
    ``health`` reports per-branch divergence + merge-back conflict
    keys (feed-derived, change-bounded)."""
    from columnar_analytics_engine_spark.branch import (
        clone_table,
        family_health,
        family_indexes,
        merge_back,
    )

    if args.action == "family":
        print(json.dumps(family_indexes(args.index)))
        return
    spark = get_spark(app_name="cae-branch")
    if args.action == "health":
        if not (args.data and args.key):
            sys.exit("error: branch health needs --data and --key")
        print(json.dumps(
            family_health(spark, args.data, args.index, args.key)
        ))
        return
    if args.action == "clone":
        v = clone_table(spark, args.index, args.dest, as_of=args.as_of)
        print(json.dumps({"branch": args.dest, "version": v}))
        return
    if args.action == "merge-back":
        out = merge_back(
            spark, args.data, args.index, args.dest, args.key,
            force=args.force,
        )
        print(json.dumps(out))
        return
    raise SystemExit(f"unknown branch action {args.action!r}")


def cmd_catalog(args: argparse.Namespace) -> None:
    """Multi-table transaction catalog (transaction.py): ``show`` the
    committed state, ``pin`` (commit) a table at its current manifest
    version, or ``count`` a snapshot read of a named table."""
    from columnar_analytics_engine_spark.manifest import current_version
    from columnar_analytics_engine_spark.transaction import (
        commit,
        read_catalog,
        snapshot_table,
    )

    if args.action == "show":
        print(json.dumps(read_catalog(args.catalog)))
        return
    if args.action == "pin":
        if not (args.table and args.data and args.index):
            sys.exit("error: catalog pin needs --table --data --index")
        version = args.version
        if version is None:
            version = current_version(args.index)
            if version is None:
                sys.exit(f"error: no published manifest at {args.index}")
        cat = commit(args.catalog, {
            args.table: {"data": args.data, "index": args.index,
                         "version": version},
        })
        print(json.dumps(cat["tables"][args.table]))
        return
    # snapshot: count rows of the pinned version
    if not args.table:
        sys.exit("error: catalog snapshot needs --table")
    spark = get_spark(app_name="cae-catalog")
    df = snapshot_table(spark, args.catalog, args.table)
    print(json.dumps({"table": args.table, "rows": df.count(),
                      "columns": df.columns}))


def cmd_delete(args: argparse.Namespace) -> None:
    """Row-level deletes (deletes.py): tombstone rows matching --where
    into the deletion-vector table; --compact folds tombstones into a
    physical rewrite of only the affected files (requires --index)."""
    from columnar_analytics_engine_spark.deletes import (
        compact_deletes,
        delete_where,
    )

    if not args.where and not args.compact:
        sys.exit("error: delete needs --where and/or --compact")
    spark = get_spark(app_name="cae-delete")
    out: dict = {}
    if args.where:
        out["tombstones_added"] = delete_where(
            spark, args.data, args.dv, args.where,
            index_path=args.index,
        )
    if args.compact:
        if not args.index:
            sys.exit("error: --compact requires --index")
        out.update(compact_deletes(spark, args.data, args.dv, args.index))
        if args.vacuum:
            from columnar_analytics_engine_spark.layout import vacuum_unindexed

            out["vacuumed"] = len(
                vacuum_unindexed(spark, args.data, args.index)
            )
    print(json.dumps(out))


def cmd_upsert(args: argparse.Namespace) -> None:
    """Index-bounded MERGE (layout.merge_upsert_files): upsert a
    source parquet dataset into the target by key, rewriting only the
    files the stats index says can contain a source key."""
    from columnar_analytics_engine_spark.layout import merge_upsert_files

    spark = get_spark(app_name="cae-upsert")
    source = spark.read.parquet(args.source)
    out = merge_upsert_files(
        spark, args.data, args.index, source, args.key,
        bloom_path=args.bloom,
    )
    print(json.dumps(out))


def cmd_cluster_report(args: argparse.Namespace) -> None:
    """Clustering-depth report from a stats index (layout.py): per
    probe column, how many files overlap each file's value range on
    average — 1.0 means a point query touches one file; ~file-count
    means the layout gives the index nothing to prune."""
    from columnar_analytics_engine_spark.layout import (
        clustering_depth,
        index_extents,
    )

    spark = get_spark(app_name="cae-cluster-report")
    if getattr(args, "cohorts", False):
        # per-spec-cohort depth (clusterspec.py): each cohort scored
        # against ITS clustering columns after a mid-history spec switch
        from columnar_analytics_engine_spark.clusterspec import (
            cohort_cluster_report,
        )

        rows = cohort_cluster_report(spark, args.index).collect()
        print(
            json.dumps(
                [
                    {
                        "spec_idx": r["spec_idx"],
                        "spec_cols": r["spec_cols"],
                        "probe_col": r["probe_col"],
                        "n_files": r["n_buckets"],
                        "overlap_pairs": r["overlap_pairs"],
                        "avg_depth": round(r["avg_depth"], 3),
                    }
                    for r in rows
                ]
            )
        )
        return
    if not args.columns:
        raise SystemExit("cluster-report: --columns is required without --cohorts")
    cols = [c.strip() for c in args.columns.split(",")]
    rows = clustering_depth(index_extents(spark, args.index, cols)).collect()
    print(
        json.dumps(
            [
                {
                    "probe_col": r["probe_col"],
                    "n_files": r["n_buckets"],
                    "overlap_pairs": r["overlap_pairs"],
                    "avg_depth": round(r["avg_depth"], 3),
                }
                for r in rows
            ]
        )
    )


def cmd_run(args: argparse.Namespace) -> None:
    """Run any registered query against a scale-factor directory; print
    up to 20 rows, or write the full result as Parquet with --out — the
    batch-job surface: every operator in the registry is a runnable
    pipeline stage, not just a test subject."""
    from columnar_analytics_engine_spark.queries import all_queries

    qs = all_queries()
    if args.name not in qs:
        print(f"unknown query {args.name!r}; choose from:")
        for n in qs:
            print(" ", n)
        raise SystemExit(2)
    spark = get_spark(app_name="cae-run")
    df = qs[args.name].fn(spark, args.sf_dir)
    if args.out:
        write_table(df, args.out)
        n = spark.read.parquet(args.out).count()
        print(f"wrote {n} rows to {args.out}")
    else:
        # limit(21): preview without materializing the full result on
        # the driver (dedup_minhash_lsh at scale yields millions of
        # pairs; the cluster-side result stays cluster-side)
        rows = df.limit(21).collect()
        print("\t".join(df.columns))
        for row in rows[:20]:
            print("\t".join(str(v) for v in row))
        if len(rows) > 20:
            print("... (more than 20 rows; use --out to keep all)")


def cmd_sql(args: argparse.Namespace) -> None:
    """Ad-hoc Spark SQL over a scale-factor directory: every table of
    the data model (io.TABLE_NAMES) is registered as a temp view
    through ``read_table`` (timestamp normalization included), then the
    statement runs as-is — the free-form companion to the flag-based
    ``query`` subcommand, and the fastest way for a reference user to
    port an existing ad-hoc query.  Catalyst plans the statement like
    any DataFrame query (pushdown, AQE, broadcast), so the CLI adds no
    execution penalty over the registered-query path."""
    from columnar_analytics_engine_spark.io import TABLE_NAMES, read_table

    spark = get_spark(app_name="cae-sql")
    for name in TABLE_NAMES:
        read_table(spark, args.sf_dir, name).createOrReplaceTempView(name)
    df = spark.sql(args.statement)
    if args.explain:
        df.explain("formatted")
        return
    if args.out:
        write_table(df, args.out)
        n = spark.read.parquet(args.out).count()
        print(f"wrote {n} rows to {args.out}")
        return
    rows = df.limit(args.limit + 1).collect()
    print("\t".join(df.columns))
    for row in rows[: args.limit]:
        print("\t".join(str(v) for v in row))
    if len(rows) > args.limit:
        print(f"... (more than {args.limit} rows; use --out to keep all)")


def cmd_explain(args: argparse.Namespace) -> None:
    """Print the physical plan of a registered query — the operator's
    view of what the cluster will actually run (pushdown, broadcast,
    shuffle structure)."""
    from columnar_analytics_engine_spark.queries import all_queries
    from columnar_analytics_engine_spark.session import get_spark

    qs = all_queries()
    if args.name not in qs:
        print(f"unknown query {args.name!r}; choose from:")
        for n in qs:
            print(" ", n)
        raise SystemExit(2)
    spark = get_spark(app_name="cae-explain")
    df = qs[args.name].fn(spark, args.sf_dir)
    df.explain("formatted")


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(prog="cae", description=__doc__)
    sub = p.add_subparsers(dest="cmd", required=True)

    w = sub.add_parser("write", help="generate synthetic data")
    w.add_argument("out")
    w.add_argument("num_rows", type=int)
    w.add_argument("seed", type=int, nargs="?", default=42)
    w.add_argument(
        "--format", choices=["parquet", "col"], default="parquet",
        help="output format: parquet (default) or the native .col format",
    )
    w.set_defaults(fn=cmd_write)

    s = sub.add_parser("scan", help="dump parquet metadata")
    s.add_argument("path")
    s.set_defaults(fn=cmd_scan)

    q = sub.add_parser("query", help="run a query")
    q.add_argument("path")
    q.add_argument("--select")
    q.add_argument("--where", action="append", metavar="COL,OP,VAL")
    q.add_argument("--agg", metavar="FUNC,COL")
    q.add_argument("--groupby")
    q.add_argument(
        "--index",
        help="stats-skipping index path: prune the file manifest with "
        "the --where clauses before scanning",
    )
    q.add_argument(
        "--as-of", type=int, default=None, dest="as_of",
        help="VERSION AS OF: plan from this retained manifest version "
        "(requires --index)",
    )
    q.add_argument(
        "--as-of-ts", type=float, default=None, dest="as_of_ts",
        help="TIMESTAMP AS OF (epoch seconds): plan from the version "
        "published at or before this instant (requires --index; "
        "resolved through the publish journal — see `history`)",
    )
    q.set_defaults(fn=cmd_query)

    ix = sub.add_parser(
        "index", help="file-level stats-skipping index: build / update / plan"
    )
    ix.add_argument(
        "action",
        choices=["build", "update", "plan", "verify", "build-bloom", "update-bloom"],
    )
    ix.add_argument("data", help="parquet dataset directory")
    ix.add_argument("index", help="index (or bloom index) location")
    ix.add_argument("--columns", help="comma list of columns to index (build)")
    ix.add_argument("--predicate", help="conjunctive predicate to dry-run (plan)")
    ix.add_argument("--bloom", help="bloom index to consult for eq clauses (plan)")
    ix.set_defaults(fn=cmd_index)

    op = sub.add_parser(
        "optimize", help="rewrite a dataset clustered (--sort col | --zorder c1,c2)"
    )
    op.add_argument("data", help="parquet dataset directory")
    op.add_argument("out", help="destination directory")
    op.add_argument("--sort", help="single-column range clustering")
    op.add_argument("--zorder", help="comma list of Z-order columns")
    op.add_argument("--files", type=int, default=32)
    op.add_argument("--bits", type=int, default=16)
    op.add_argument(
        "--quantile", action="store_true",
        help="equi-frequency rank bins for skewed z-columns (caps bits at 8)",
    )
    op.add_argument("--index", help="also build a stats index here")
    op.set_defaults(fn=cmd_optimize)

    cp = sub.add_parser(
        "compact", help="incremental re-clustering of the overlap-heaviest files"
    )
    cp.add_argument("data", help="parquet dataset directory")
    cp.add_argument("index", help="stats index location")
    cp.add_argument("--cols", help="comma list of cluster/sort columns")
    cp.add_argument("--max-files", type=int, default=64)
    cp.add_argument(
        "--small-files", action="store_true",
        help="size-based compaction (merge small files) instead of overlap-based",
    )
    cp.add_argument(
        "--target-mb", type=int, default=128,
        help="target output file size for --small-files (MB)",
    )
    cp.add_argument("--vacuum", action="store_true", help="GC unindexed strays after")
    cp.add_argument(
        "--keep-versions", type=int, default=1,
        help="manifest versions to retain when vacuuming (default 1)",
    )
    cp.set_defaults(fn=cmd_compact)

    vc = sub.add_parser(
        "vacuum", help="expire old manifest versions and reclaim unreferenced files"
    )
    vc.add_argument("data", help="parquet dataset directory")
    vc.add_argument("index", help="stats index location")
    vc.add_argument(
        "--keep-versions", type=int, default=1,
        help="manifest versions to retain (default 1: current only)",
    )
    vc.add_argument(
        "--dry-run", action="store_true",
        help="report what would be deleted without deleting",
    )
    vc.set_defaults(fn=cmd_vacuum)

    hi = sub.add_parser(
        "history", help="manifest version history (what as_of can read)"
    )
    hi.add_argument("index", help="stats index location")
    hi.set_defaults(fn=cmd_history)

    ev = sub.add_parser(
        "evolve", help="metadata-only schema evolution (add/rename/widen/drop/show)"
    )
    ev.add_argument("action", choices=["add", "rename", "widen", "drop", "show"])
    ev.add_argument("data", help="parquet dataset directory")
    ev.add_argument("index", help="stats index location")
    ev.add_argument("--column", help="column name (new name for add)")
    ev.add_argument("--type", help="Spark DDL type (add/widen)")
    ev.add_argument("--default", help="default for pre-add files (add)")
    ev.add_argument("--to", help="new name (rename)")
    ev.set_defaults(fn=cmd_evolve)

    ct = sub.add_parser(
        "catalog", help="multi-table transaction catalog (show/pin/snapshot)"
    )
    ct.add_argument("action", choices=["show", "pin", "snapshot"])
    ct.add_argument("catalog", help="catalog JSON path")
    ct.add_argument("--table", help="table name")
    ct.add_argument("--data", help="dataset directory (pin)")
    ct.add_argument("--index", help="stats index location (pin)")
    ct.add_argument(
        "--version", type=int,
        help="manifest version to pin (default: the published one)",
    )
    ct.set_defaults(fn=cmd_catalog)

    hl = sub.add_parser(
        "health", help="table health: size/history/reclaimable/deletes/clustering"
    )
    hl.add_argument("data", help="parquet dataset directory")
    hl.add_argument("index", help="stats index location")
    hl.add_argument("--dv", help="deletion-vector table location")
    hl.add_argument("--cols", help="comma list of probe columns for depth")
    hl.set_defaults(fn=cmd_health)

    br = sub.add_parser(
        "branch",
        help="zero-copy branching: clone / merge-back / family",
    )
    br.add_argument(
        "action", choices=["clone", "merge-back", "family", "health"]
    )
    br.add_argument("index", help="source stats index location")
    br.add_argument("dest", nargs="?", help="branch index location")
    br.add_argument(
        "--data", help="shared parquet dataset (merge-back / health)"
    )
    br.add_argument(
        "--key", help="snapshot-unique merge key (merge-back / health)"
    )
    br.add_argument("--as-of", type=int, default=None, dest="as_of")
    br.add_argument("--force", action="store_true",
                    help="merge-back even if the source advanced "
                    "(branch-wins)")
    br.set_defaults(fn=cmd_branch)

    cg = sub.add_parser(
        "changes",
        help="change-data-feed: net row changes between manifest versions",
    )
    cg.add_argument("data", help="parquet dataset directory")
    cg.add_argument("index", help="stats index location")
    cg.add_argument("--from-version", type=int, required=True, dest="from_version")
    cg.add_argument(
        "--to-version", type=int, default=None, dest="to_version",
        help="default: the current published version",
    )
    cg.add_argument("--limit", type=int, default=20)
    cg.set_defaults(fn=cmd_changes)

    up = sub.add_parser(
        "upsert", help="index-bounded MERGE of a source parquet dataset by key"
    )
    up.add_argument("data", help="target parquet dataset directory")
    up.add_argument("index", help="stats index location")
    up.add_argument("source", help="source parquet dataset (the upsert rows)")
    up.add_argument("--key", required=True, help="merge key column")
    up.add_argument("--bloom", help="bloom index to tighten the affected set")
    up.set_defaults(fn=cmd_upsert)

    dl = sub.add_parser(
        "delete", help="row-level deletes via deletion vectors (--where / --compact)"
    )
    dl.add_argument("data", help="parquet dataset directory")
    dl.add_argument("dv", help="deletion-vector table location")
    dl.add_argument("--where", help="SQL predicate selecting rows to delete")
    dl.add_argument("--compact", action="store_true", help="fold tombstones into files")
    dl.add_argument("--index", help="stats index (required for --compact)")
    dl.add_argument(
        "--vacuum", action="store_true",
        help="reclaim the folded originals after --compact",
    )
    dl.set_defaults(fn=cmd_delete)

    cr = sub.add_parser(
        "cluster-report", help="clustering depth per probe column from a stats index"
    )
    cr.add_argument("index", help="stats index location")
    cr.add_argument(
        "--columns",
        help="comma list of probe columns (omit with --cohorts)",
    )
    cr.add_argument(
        "--cohorts",
        action="store_true",
        help="per-spec-cohort depth: each cluster-spec cohort scored "
        "against its own columns (requires a declared cluster spec)",
    )
    cr.set_defaults(fn=cmd_cluster_report)

    e = sub.add_parser("explain", help="print a registered query's physical plan")
    e.add_argument("name")
    e.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.001")
    e.set_defaults(fn=cmd_explain)

    sq = sub.add_parser("sql", help="run an ad-hoc SQL statement over the data model")
    sq.add_argument("statement")
    sq.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.001")
    sq.add_argument("--out", help="write full result as parquet instead of printing")
    sq.add_argument("--limit", type=int, default=20, help="print at most N rows")
    sq.add_argument("--explain", action="store_true", help="print the physical plan only")
    sq.set_defaults(fn=cmd_sql)

    r = sub.add_parser("run", help="run a registered query (print or --out parquet)")
    r.add_argument("name")
    r.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.001")
    r.add_argument("--out", help="write full result as parquet instead of printing")
    r.set_defaults(fn=cmd_run)

    args = p.parse_args(argv)
    args.fn(args)


if __name__ == "__main__":
    main(sys.argv[1:])
