#!/usr/bin/env python
"""Correctness sweep: registry queries vs their DuckDB oracle.

Usage: python scripts/sweep_oracle.py [--sql-only] sf_dir [pattern ...]

Runs the same rows+columns+values comparison as tests/test_oracle.py but
at the scale factor in ``sf_dir`` (e.g. sf0.01), so scale-dependent
divergences show before a CORRECTNESS run.  ``pattern`` arguments are substring filters over query
names (default: every query); ``--sql-only`` skips the rows-only queries
that have no oracle SQL.  Each query runs its ``setup`` first and inside
its own ``cache_scope``, so cached intermediates do not leak from one
query into the next.  Prints one line per query and a summary; exits
non-zero on any mismatch or error.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from columnar_analytics_engine_spark.compare import compare, oracle_connection
from columnar_analytics_engine_spark.functions.caching import cache_scope
from columnar_analytics_engine_spark.queries import all_queries
from columnar_analytics_engine_spark.session import get_spark


def main(argv: list[str]) -> int:
    sql_only = "--sql-only" in argv
    args = [a for a in argv if a != "--sql-only"]
    if not args:
        raise SystemExit(__doc__)
    sf_dir, patterns = args[0], args[1:]
    qs = all_queries()
    names = [
        n for n, s in qs.items()
        if (s.sql is not None or not sql_only)
        and (not patterns or any(p in n for p in patterns))
    ]
    spark = get_spark(app_name="cae-sweep")
    con = oracle_connection(sf_dir)
    failures: list[str] = []
    for i, name in enumerate(names):
        spec = qs[name]
        start = time.perf_counter()
        with cache_scope():
            try:
                if spec.setup is not None:
                    spec.setup(spark, sf_dir)
                if spec.sql is None:
                    n = spec.fn(spark, sf_dir).count()
                    ok, detail = n >= 0, f"rows-only n={n}"
                else:
                    res = compare(name, spec.fn(spark, sf_dir), spec.sql, con)
                    ok, detail = res.ok, str(res)
            except Exception as exc:  # noqa: BLE001 - report and continue
                ok, detail = False, f"EXC {type(exc).__name__}: {exc}"
        dur = time.perf_counter() - start
        print(f"{i:3d} {'ok  ' if ok else 'FAIL'} {dur:6.2f}s {name}"
              + ("" if ok else f"\n      {detail}"), flush=True)
        if not ok:
            failures.append(name)
    print(f"\n{len(names) - len(failures)}/{len(names)} ok, {len(failures)} failures"
          + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
