"""Trained document classifiers: the model-based curation pass between
heuristic quality rules and the training corpus.

Production pipelines gate web documents with a *learned* classifier
(fastText/logistic quality models in CCNet, GPT-3, LLaMA data work)
rather than hand rules alone.  Two routes here, mirroring the repo's
exact-twin + library-twin pattern (see ``queries/training.py`` k-means):

* :func:`classifier_nb_confusion` — multinomial Naive Bayes trained
  *inside the engine* with add-one smoothing and integer micro-nat
  log-weights, so train + score + argmax are exact integer arithmetic
  and the DuckDB oracle replays the whole thing (hash-verified).
* :func:`classifier_mllib_lr` — the production-library path: Spark
  MLlib ``Tokenizer → HashingTF → LogisticRegression`` on the same
  split (rows-only driver check; structure/determinism pinned in
  ``tests/test_classify.py``).

The train/test split is doc-parity (even ``doc_id`` trains, odd
scores) — deterministic, partition-independent, and replayable in SQL.
Label is ``lang`` (a language-ID classifier; on the synthetic fixture
corpus the token distributions carry little label signal, so *accuracy*
is near-chance — the contract under test is exact reproducibility and
the scale shape, not fixture accuracy).

Scale shape (100 TB contract): token stats shuffle on (token, label) —
vocabulary-bounded, with map-side combine; per-class constants are a
k-row broadcast; scoring is one vocabulary join + a (doc, label)
aggregation.  The per-class score expansion is a broadcast
nested-loop over k rows (k = #labels, a constant), never a data×data
cartesian.  No Python in the hot path.

Naive Bayes decomposition used (why no dense vocab×k table is needed):

    score(d, c) = ln P(c) + sum_t n_t(d) · ln((c_tc + 1) / (N_c + V))
                = prior(c) − known(d) · ln(N_c + V)
                  + sum_{t ∈ d ∩ vocab_c} n_t(d) · ln(c_tc + 1)

so tokens absent from class c contribute ln(1) = 0 and the sparse
(token, class) count table suffices.  Out-of-vocabulary tokens are
skipped consistently for every class (they'd add the same constant).
Each ln is rounded to integer micro-nats before any sum (the
``_util`` scaled-sum strategy), making scores associative integers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from columnar_analytics_engine_spark.functions import text as X
from columnar_analytics_engine_spark.functions.dialect import DUCKDB
from columnar_analytics_engine_spark.functions.caching import persist_once
from columnar_analytics_engine_spark.queries._util import QuerySpec, t

_MICRO = 1e6  # micro-nat grid for ln() terms


def _micro_ln(col) -> F.Column:
    return F.round(F.log(col.cast("double")) * F.lit(_MICRO)).cast("long")


def _nb_predictions(docs: DataFrame) -> DataFrame:
    """(doc_id, actual, predicted) for the odd-doc_id test split, from a
    multinomial NB model trained on the even split."""
    train = docs.filter(F.col("doc_id") % 2 == 0)
    test = docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", F.col("lang").alias("actual"), "text"
    )

    # explode_outer so null-text train docs still count toward doc totals
    tr_tok = train.select(
        "doc_id", "lang", F.explode_outer(F.expr(X.tokens("text"))).alias("token")
    )
    # the (token, lang) count table feeds THREE consumers (class totals
    # n_l, log-weights w, vocabulary) — plan-keyed persisted so the
    # train explode+shuffle runs once per invocation, not three times
    c = persist_once(
        tr_tok.filter(F.col("token").isNotNull())
        .groupBy("token", "lang")
        .agg(F.count("*").alias("c"))
    )

    # per-class constants (k rows) + ONE 1-row lazy-totals aggregate
    # (a single global agg keeps the plan at one single-partition
    # exchange — the plan-lint budget)
    n_l = c.groupBy("lang").agg(F.sum("c").alias("n_l"))
    docs_l = train.groupBy("lang").agg(F.count("*").alias("docs_l"))
    totals = tr_tok.agg(
        F.count_distinct("token").alias("v"),
        F.count_distinct("doc_id").alias("docs_total"),
    )
    cls = (
        n_l.join(docs_l, "lang")
        .crossJoin(F.broadcast(totals))
        .select(
            "lang",
            _micro_ln(F.col("docs_l") / F.col("docs_total")).alias("prior_micro"),
            _micro_ln(F.col("n_l") + F.col("v")).alias("lnden_micro"),
        )
    )

    w = c.select("token", "lang", _micro_ln(F.col("c") + 1).alias("w"))
    vocab = c.select("token").distinct().withColumn("in_vocab", F.lit(1))

    # explode_outer keeps null-text docs: they score on the prior alone.
    # Persisted: consumed by both the known-token totals and the
    # per-class contributions — unpersisted, the test explode+shuffle
    # would execute once per consumer
    te_cnt = persist_once(
        test.select(
            "doc_id", "actual", F.explode_outer(F.expr(X.tokens("text"))).alias("token")
        )
        .groupBy("doc_id", "actual", "token")
        .agg(F.count("*").alias("cnt"))
    )
    known = (
        te_cnt.join(vocab, "token", "left")
        .groupBy("doc_id", "actual")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("in_vocab").isNotNull(), F.col("cnt"))), F.lit(0)
            ).alias("n_known")
        )
    )
    contrib = (
        te_cnt.join(w, "token")
        .groupBy("doc_id", "lang")
        .agg(F.sum(F.col("cnt") * F.col("w")).alias("contrib"))
    )

    scores = (
        known.crossJoin(F.broadcast(cls))
        .join(contrib, ["doc_id", "lang"], "left")
        .select(
            "doc_id",
            "actual",
            "lang",
            (
                F.col("prior_micro")
                - F.col("n_known") * F.col("lnden_micro")
                + F.coalesce(F.col("contrib"), F.lit(0))
            ).alias("score"),
        )
    )
    # argmax with deterministic tie-break: highest score, then lang asc
    return (
        scores.groupBy("doc_id", "actual")
        .agg(F.min(F.struct(-F.col("score"), F.col("lang"))).alias("m"))
        .select("doc_id", "actual", F.col("m.lang").alias("predicted"))
    )


def classifier_nb_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the engine-native multinomial NB language
    classifier on the held-out (odd doc_id) split."""
    pred = _nb_predictions(t(spark, sf_dir, "documents"))
    return (
        pred.groupBy(F.col("actual"), F.col("predicted"))
        .agg(F.count("*").alias("n_docs"))
        .orderBy("actual", "predicted")
    )


_SQL_NB_CONFUSION = f"""
WITH train AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
test AS (SELECT doc_id, lang AS actual, text FROM documents WHERE doc_id % 2 = 1),
tr_tok AS (
  SELECT doc_id, lang,
         unnest(COALESCE({X.tokens('text', DUCKDB)}, [NULL]::VARCHAR[])) AS token
  FROM train),
c AS (SELECT token, lang, COUNT(*) AS c FROM tr_tok
      WHERE token IS NOT NULL GROUP BY 1, 2),
n_l AS (SELECT lang, SUM(c) AS n_l FROM c GROUP BY 1),
docs_l AS (SELECT lang, COUNT(*) AS docs_l FROM train GROUP BY 1),
tot AS (SELECT COUNT(DISTINCT token) AS v,
               COUNT(DISTINCT doc_id) AS docs_total
        FROM tr_tok),
cls AS (
  SELECT n_l.lang,
         CAST(ROUND(LN(CAST(docs_l AS DOUBLE) / CAST(docs_total AS DOUBLE)) * 1e6) AS BIGINT) AS prior_micro,
         CAST(ROUND(LN(CAST(n_l + v AS DOUBLE)) * 1e6) AS BIGINT) AS lnden_micro
  FROM n_l JOIN docs_l USING (lang), tot
),
w AS (SELECT token, lang, CAST(ROUND(LN(CAST(c + 1 AS DOUBLE)) * 1e6) AS BIGINT) AS w FROM c),
te_cnt AS (
  SELECT doc_id, actual, token, COUNT(*) AS cnt FROM (
    SELECT doc_id, actual,
           unnest(COALESCE({X.tokens('text', DUCKDB)}, [NULL]::VARCHAR[])) AS token
    FROM test) x
  GROUP BY 1, 2, 3
),
vocab AS (SELECT DISTINCT token FROM c),
known AS (
  SELECT t.doc_id, t.actual,
         COALESCE(SUM(CASE WHEN v.token IS NOT NULL THEN cnt END), 0) AS n_known
  FROM te_cnt t LEFT JOIN vocab v USING (token)
  GROUP BY 1, 2
),
contrib AS (
  SELECT t.doc_id, w.lang, SUM(cnt * w) AS contrib
  FROM te_cnt t JOIN w USING (token)
  GROUP BY 1, 2
),
scores AS (
  SELECT k.doc_id, k.actual, c.lang,
         prior_micro - n_known * lnden_micro + COALESCE(ct.contrib, 0) AS score
  FROM known k
  CROSS JOIN cls c
  LEFT JOIN contrib ct ON ct.doc_id = k.doc_id AND ct.lang = c.lang
),
pred AS (
  SELECT doc_id, actual, lang AS predicted FROM (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY doc_id ORDER BY score DESC, lang) AS rn
    FROM scores) x
  WHERE rn = 1
)
SELECT actual, predicted, COUNT(*) AS n_docs
FROM pred GROUP BY 1, 2 ORDER BY 1, 2
"""


def classifier_mllib_lr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-library twin: ``Tokenizer → HashingTF → LogisticRegression``
    (multinomial, L2, fixed iteration budget) on the same even/odd split,
    returning the same confusion-matrix shape.

    MLlib handles feature hashing and model broadcast; training is
    deterministic for a fixed partitioning of this bounded input
    (L-BFGS from a zero init — no random seed in the path).  Float
    optimization internals are engine-specific, so the driver gets a
    rows-only check; ``tests/test_classify.py`` pins run-to-run
    determinism, total-prediction accounting against the split, and
    label-domain closure.
    """
    from pyspark.ml import Pipeline
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import HashingTF, StringIndexer, Tokenizer

    docs = t(spark, sf_dir, "documents").withColumn(
        "text_nn", F.coalesce(F.col("text"), F.lit(""))
    )
    train = docs.filter(F.col("doc_id") % 2 == 0)
    test = docs.filter(F.col("doc_id") % 2 == 1)
    if train.isEmpty() or test.isEmpty():
        return spark.createDataFrame([], "actual string, predicted string, n_docs long")

    indexer = StringIndexer(
        inputCol="lang", outputCol="label", stringOrderType="alphabetAsc"
    ).fit(train)
    pipe = Pipeline(
        stages=[
            Tokenizer(inputCol="text_nn", outputCol="toks"),
            HashingTF(inputCol="toks", outputCol="features", numFeatures=1 << 15),
            LogisticRegression(maxIter=20, regParam=0.01, family="multinomial"),
        ]
    )
    model = pipe.fit(indexer.transform(train))
    pred = model.transform(indexer.transform(test))
    labels = F.array(*[F.lit(x) for x in indexer.labels])
    return (
        pred.select(
            F.col("lang").alias("actual"),
            F.element_at(labels, F.col("prediction").cast("int") + 1).alias(
                "predicted"
            ),
        )
        .groupBy("actual", "predicted")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("actual", "predicted")
    )


QUERIES: dict[str, QuerySpec] = {
    "classifier_nb_confusion": QuerySpec(
        classifier_nb_confusion,
        _SQL_NB_CONFUSION,
        "Engine-native multinomial Naive Bayes language classifier "
        "(micro-nat integer scores, oracle replays train+score+argmax)",
        tags=("llm", "classifier"),
    ),
    "classifier_mllib_lr": QuerySpec(
        classifier_mllib_lr,
        None,  # library float internals — rows-only; pytest pins structure
        "MLlib logistic-regression classifier twin (Tokenizer→HashingTF→LR)",
        tags=("llm", "classifier"),
    ),
}
