"""Query registry: every implemented operator as a named (Spark, oracle-SQL) pair.

Each entry maps a query name to a ``QuerySpec`` whose ``fn(spark, sf_dir)``
returns a DataFrame and whose ``sql`` (when set) is the ANSI-SQL equivalent a
DuckDB oracle runs on the same parquet tables.  Column names and value
determinism are contract: both sides alias every computed column identically,
and float aggregates use exact integer-scaled arithmetic (see
``queries._util``) so results hash-match bit-for-bit.
"""

from __future__ import annotations

from columnar_analytics_engine_spark.queries._util import QuerySpec
from columnar_analytics_engine_spark.queries import (
    advanced,
    classify,
    core,
    curation,
    events,
    layout,
    llm,
    pipeline,
    relational,
    retrieval,
    tpch_more,
    training,
)


def _driver_verified() -> dict[str, int]:
    """Map of query name -> latest round in which the driver verified it,
    read from every CORRECTNESS_r*.json in the repo root (empty when
    there are none).

    A query counts as verified when its row counts matched with no
    error and the value hash didn't mismatch (rows-only checks have no
    hash).  Rows-only-BY-DESIGN entries (no ``oracle_sql`` — the driver
    records ``err='no_oracle'`` with a row count) also count as
    verified at that round: the driver check they got is the strongest
    it can ever give them (accuracy is pinned in pytest instead), so
    letting them rotate like everyone else stops them from permanently
    occupying the window's first slots (round 11).  Reading the files
    makes window rotation automatic: each round, freshly verified
    queries move to the back, never-verified queries go first, and
    among verified ones the STALEST verification (oldest round — e.g.
    pre-dating a driver testdata regeneration) rotates back into the
    driver's 50-query window soonest.
    """
    import glob
    import json
    import os
    import re

    root = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    last_round: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)", os.path.basename(path))
        rnd = int(m.group(1)) if m else 0
        try:
            with open(path) as f:
                data = json.load(f)
        except (OSError, ValueError):
            continue
        if isinstance(data, dict):
            for name, res in data.items():
                if not isinstance(res, dict):
                    continue
                ok = (
                    res.get("err") is None
                    and res.get("rows_match") is True
                    and res.get("hash_match") is not False
                ) or (
                    # rows-only-by-design: driver ran the query, got a
                    # row count, and there was no oracle to disagree
                    res.get("err") == "no_oracle"
                    and res.get("spark_rows") is not None
                )
                if ok:
                    last_round[name] = max(last_round.get(name, 0), rnd)
    return last_round


def all_queries() -> dict[str, QuerySpec]:
    # Module order puts the llm/events pipeline surface first among the
    # not-yet-driver-verified queries so it always lands inside the
    # 50-query correctness window; anything that overflows rotates into
    # the window in a later round (and is oracle-tested in-repo meanwhile).
    merged: dict[str, QuerySpec] = {}
    for mod in (llm, events, layout, retrieval, tpch_more, advanced, pipeline, training, curation, classify, core, relational):
        for name, spec in mod.QUERIES.items():
            if name in merged:
                raise ValueError(f"duplicate query name: {name}")
            merged[name] = spec
    verified = _driver_verified()
    order = list(merged)
    # Three tiers, then insertion order within a tier:
    #   0: never driver-verified
    #   1: CHURNED — implementation changed since the last green round
    #      (fingerprint vs the QUERY_HASHES.json snapshot of that round;
    #      see queries/churn.py) — a green row on rewritten code is
    #      weaker evidence than a stale row on unchanged code
    #   2: verified on current code, stalest round first
    from columnar_analytics_engine_spark.queries.churn import is_churned

    def rank(n: str):
        last = verified.get(n, 0)
        if last == 0:
            tier = 0
        elif is_churned(n, merged[n], last):
            tier = 1
        else:
            tier = 2
        return (tier, last, order.index(n))

    ranked = sorted(order, key=rank)
    return {n: merged[n] for n in ranked}
