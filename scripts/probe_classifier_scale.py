#!/usr/bin/env python
"""NB-classifier scaling probe: the BASELINE.md document-operator
methodology (synthetic docs via ``sources.synthetic.docs_table``,
vocab_scale=1000, warm timings on local[32]) applied to
``classifier_nb_confusion``'s pipeline — train-split (token, lang)
counts → per-class constants broadcast → vocabulary join on the test
split → (doc, lang) argmax → confusion rollup.

The plan's only corpus-sized stages are the two token explodes (train
counts, test scoring); everything between is vocabulary- or
k-class-bounded.  The evidence the 100 TB claim needs is wall time
tracking the token count (linear), with the vocabulary row count
alongside to show the middle stages' inputs grow sublinearly
(vocab_scale fixes the token universe, as in the dedup probes).

Prints one JSON line per size:
{"docs": N, "vocab": V, "test_docs": T, "warm_sec": S, "loadavg": L}
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from columnar_analytics_engine_spark.functions.caching import cache_scope  # noqa: E402
from columnar_analytics_engine_spark.functions.text import tokens  # noqa: E402
from columnar_analytics_engine_spark.io import write_table  # noqa: E402
from columnar_analytics_engine_spark.queries.classify import (  # noqa: E402
    classifier_nb_confusion,
)
from columnar_analytics_engine_spark.session import get_spark  # noqa: E402
from columnar_analytics_engine_spark.sources.synthetic import docs_table  # noqa: E402


def probe(spark, num_docs: int) -> dict:
    with tempfile.TemporaryDirectory() as tmp:
        sf_dir = f"{tmp}/sf_probe"
        write_table(
            docs_table(spark, num_docs, vocab_scale=1000).coalesce(
                max(1, min(32, num_docs // 50_000))
            ),
            f"{sf_dir}/documents.parquet",
        )
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        vocab = (
            docs.filter(F.col("doc_id") % 2 == 0)
            .select(F.explode(F.expr(tokens("text"))).alias("t"))
            .filter(F.col("t") != "")
            .distinct()
            .count()
        )
        n_test = docs.filter(F.col("doc_id") % 2 == 1).count()

        def run() -> int:
            conf = classifier_nb_confusion(spark, sf_dir)
            return int(conf.agg(F.sum("n_docs").alias("n")).collect()[0]["n"])

        with cache_scope():  # per-size caches released between probes
            run()  # warm-up: codegen + persist_once materialization...
        with cache_scope():
            # ...but the TIMED run pays its own persists (the bench's
            # cache-isolated accounting): warm JIT, cold caches
            start = time.perf_counter()
            scored = run()
            warm = time.perf_counter() - start
        assert scored == n_test
    return {
        "docs": num_docs,
        "vocab": vocab,
        "test_docs": n_test,
        "warm_sec": round(warm, 2),
        "loadavg": round(os.getloadavg()[0], 2),
    }


def main() -> None:
    sizes = (
        [int(s) for s in sys.argv[1].split(",")]
        if len(sys.argv) > 1
        else [100_000, 1_000_000]
    )
    spark = get_spark(app_name="cae-classifier-probe")
    for n in sizes:
        print(json.dumps(probe(spark, n)), flush=True)


if __name__ == "__main__":
    main()
