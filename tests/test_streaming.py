"""Structured Streaming twins must agree with their batch equivalents.

Strategy: drain the bounded events fixture through each streaming
operator with an availableNow trigger into a memory sink, then compare
against the batch query on the same data (SURVEY.md §5 — streaming is
the only genuinely stateful extension; determinism comes from
end-of-stream draining).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from columnar_analytics_engine_spark.queries.events import (
    events_sliding_window,
    events_tumbling_window,
)
from columnar_analytics_engine_spark.streaming.windows import (
    dedup_within_watermark,
    read_events_stream,
    run_available_now,
    session_counts,
    sliding_counts,
    tumbling_counts,
)


def _sorted_rows(df, *cols):
    return [tuple(r) for r in df.orderBy(*cols).collect()]


def test_streaming_tumbling_matches_batch(spark, sf_small):
    stream = read_events_stream(spark, sf_small)
    out = run_available_now(tumbling_counts(stream), spark)
    batch = events_tumbling_window(spark, sf_small)
    assert _sorted_rows(out, "window_start", "event_type") == _sorted_rows(
        batch, "window_start", "event_type"
    )


def test_streaming_sliding_matches_batch(spark, sf_small):
    stream = read_events_stream(spark, sf_small)
    out = run_available_now(sliding_counts(stream), spark)
    batch = events_sliding_window(spark, sf_small)
    assert _sorted_rows(out, "window_start") == _sorted_rows(batch, "window_start")


def test_streaming_session_window_counts(spark, sf_small):
    stream = read_events_stream(spark, sf_small)
    out = run_available_now(session_counts(stream), spark)
    # session_window merges events with gaps < 30 min; total events preserved
    total_events = out.agg(F.sum("n_events")).first()[0]
    batch_total = spark.read.parquet(f"{sf_small}/events.parquet").count()
    assert total_events == batch_total
    assert out.count() > 0


def test_streaming_dedup_within_watermark(spark, sf_small):
    stream = read_events_stream(spark, sf_small)
    out = run_available_now(dedup_within_watermark(stream), spark)
    n = spark.read.parquet(f"{sf_small}/events.parquet").count()
    # event_id is unique in the fixture: dedup preserves all rows
    assert out.count() == n


def test_stateful_running_totals(spark, sf_small):
    from columnar_analytics_engine_spark.streaming.stateful import running_user_totals

    stream = read_events_stream(spark, sf_small)
    out = run_available_now(running_user_totals(stream), spark, output_mode="update")
    # final state per user (last update) must equal the batch aggregate
    final = (
        out.groupBy("user_id")
        .agg(F.max("n_events").alias("n"), F.max("total_value").alias("v"))
        .collect()
    )
    batch = (
        spark.read.parquet(f"{sf_small}/events.parquet")
        .groupBy("user_id")
        .count()
        .collect()
    )
    batch_counts = {r["user_id"]: r["count"] for r in batch}
    got_counts = {r["user_id"]: r["n"] for r in final}
    assert got_counts == batch_counts


def test_foreach_batch_sink(spark, sf_small, tmp_path):
    """foreachBatch: the exactly-once custom-sink pattern — each
    micro-batch lands as parquet keyed by batch id."""
    out_dir = str(tmp_path / "fb_out")
    stream = read_events_stream(spark, sf_small)

    def sink(batch_df, batch_id: int):
        batch_df.write.mode("overwrite").parquet(f"{out_dir}/batch={batch_id}")

    q = stream.writeStream.foreachBatch(sink).trigger(availableNow=True).start()
    q.awaitTermination()
    written = spark.read.parquet(f"{out_dir}/batch=*")
    assert written.count() == spark.read.parquet(f"{sf_small}/events.parquet").count()


def test_stream_stream_join_matches_batch(spark, sf_small):
    from columnar_analytics_engine_spark.streaming.windows import clicks_before_errors_join

    stream = read_events_stream(spark, sf_small)
    out = run_available_now(clicks_before_errors_join(stream), spark, output_mode="append")
    # batch twin: the same range join computed in batch mode
    from columnar_analytics_engine_spark.io import read_table
    ev = read_table(spark, sf_small, "events")
    err = ev.filter("event_type = 'error'").selectExpr("event_id AS e", "user_id AS u", "ts AS et")
    clk = ev.filter("event_type = 'click'").selectExpr("user_id AS cu", "ts AS ct", "event_id AS ce")
    want = err.join(
        clk,
        (F.col("u") == F.col("cu"))
        & (F.col("ct") >= F.col("et") - F.expr("INTERVAL 5 MINUTES"))
        & (F.col("ct") < F.col("et")),
    )
    assert out.count() == want.count()
    got_pairs = {(r["e_event_id"], r["c_event_id"]) for r in out.collect()}
    want_pairs = {(r["e"], r["ce"]) for r in want.collect()}
    assert got_pairs == want_pairs


def test_stateful_sessionization_matches_batch(spark, sf_small):
    from columnar_analytics_engine_spark.queries.events import events_sessionization
    from columnar_analytics_engine_spark.streaming.stateful import (
        stateful_sessionization,
    )

    stream = read_events_stream(spark, sf_small)
    out = run_available_now(stateful_sessionization(stream), spark, output_mode="update")
    # update mode re-emits an open session as it grows: keep the final
    # emission per (user, session) — microbatches arrive in ts order, so
    # the final emission has the max end/count
    final = out.groupBy("user_id", "session_id").agg(
        F.min("session_start_us").alias("session_start_us"),
        F.max("session_end_us").alias("session_end_us"),
        F.max("n_events").alias("n_events"),
    )
    batch = events_sessionization(spark, sf_small)
    cols = ["user_id", "session_id", "session_start_us", "session_end_us", "n_events"]
    assert _sorted_rows(final.select(*cols), *cols) == _sorted_rows(
        batch.select(*cols), *cols
    )


def test_stream_static_enrichment_matches_batch(spark, sf_small):
    """Stream-static broadcast join: every event picks up its user's
    segment from a static dimension; result equals the batch join."""
    from columnar_analytics_engine_spark.io import read_table
    from columnar_analytics_engine_spark.streaming.windows import enrich_with_static

    ev = read_table(spark, sf_small, "events")
    dim = ev.select("user_id").distinct().withColumn(
        "segment", F.when(F.col("user_id") % 2 == 0, "even").otherwise("odd")
    )
    stream = read_events_stream(spark, sf_small)
    out = run_available_now(enrich_with_static(stream, dim), spark, output_mode="append")
    want = ev.join(dim, "user_id").select("event_id", "segment")
    assert out.count() == ev.count()
    got = {(r["event_id"], r["segment"]) for r in out.collect()}
    assert got == {(r["event_id"], r["segment"]) for r in want.collect()}


def test_transform_with_state_matches_group_state(spark, sf_small):
    """The Spark 4 StatefulProcessor (transformWithStateInPandas) twin
    must drain to the same per-user totals as the GroupState version
    and the batch aggregate.  Requires protobuf (the state-server wire
    format) — skipped where it isn't installed."""
    pytest.importorskip("google.protobuf")
    from columnar_analytics_engine_spark.streaming.stateful import (
        running_user_totals_tws,
    )

    stream = read_events_stream(spark, sf_small)
    out = run_available_now(running_user_totals_tws(stream), spark, output_mode="update")
    final = (
        out.groupBy("user_id")
        .agg(F.max("n_events").alias("n"), F.max("total_value").alias("v"))
        .collect()
    )
    batch = (
        spark.read.parquet(f"{sf_small}/events.parquet")
        .groupBy("user_id")
        .count()
        .collect()
    )
    assert {r["user_id"]: r["n"] for r in final} == {
        r["user_id"]: r["count"] for r in batch
    }


def test_incremental_neardup_foreachbatch(spark, tmp_path):
    """Stream 3 document files through the foreachBatch MinHash/LSH
    near-dedup: lightly-edited copies of earlier FILES must classify as
    near_dup_of_history, near-copies within one file as
    near_dup_in_batch, and only `new` docs' signatures may enter the
    index."""
    import os

    from columnar_analytics_engine_spark.streaming.neardup import (
        incremental_neardup_query,
    )

    base_a = "the quick brown fox jumps over the lazy dog near the river bank today"
    base_b = "machine learning systems process large volumes of text data every single day"
    uniq_c = "completely different content about cooking pasta with garlic and olive oil"
    batches = [
        [(1, base_a), (2, base_b), (3, base_a.replace("today", "tonight"))],
        [(10, base_a.replace("quick", "speedy")), (11, uniq_c)],
        [(20, uniq_c.replace("garlic", "onion")), (21, base_b.replace("single", "working"))],
    ]
    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    os.makedirs(src)
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.parquet(
            f"{src}/b{i}.parquet"
        )
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/b*.parquet")
    )
    q = incremental_neardup_query(spark, stream, state).trigger(availableNow=True).start()
    q.awaitTermination(180)

    out = {
        r["doc_id"]: (r["status"], r["matched_id"])
        for r in spark.read.parquet(f"{state}/classified").collect()
    }
    assert len(out) == 7
    assert out[1] == ("new", None)
    assert out[2] == ("new", None)
    assert out[3] == ("near_dup_in_batch", 1)      # 1-word edit of doc 1
    assert out[10] == ("near_dup_of_history", 1)   # edit of doc 1, prior file
    assert out[11] == ("new", None)
    assert out[20] == ("near_dup_of_history", 11)
    assert out[21] == ("near_dup_of_history", 2)
    # index holds signatures for exactly the `new` docs
    idx = {r["doc_id"] for r in spark.read.parquet(f"{state}/sigs").collect()}
    assert idx == {1, 2, 11}
    bands = spark.read.parquet(f"{state}/bands")
    assert {r["doc_id"] for r in bands.select("doc_id").distinct().collect()} == {1, 2, 11}


def test_incremental_dedup_foreachbatch(spark, tmp_path):
    """Stream 3 document files through the foreachBatch incremental
    dedup: duplicates of earlier FILES must classify as dup_of_history,
    duplicates within one file as dup_in_batch, and the final index
    must hold exactly one entry per distinct fingerprint with the
    first-arrival doc_id."""
    from columnar_analytics_engine_spark.streaming.incremental import (
        incremental_dedup_query,
    )

    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    batches = [
        [(1, "alpha text"), (2, "beta text"), (3, "alpha text")],   # 3 dup-in-batch of 1
        [(10, "alpha text"), (11, "gamma text")],                   # 10 dup-of-history
        [(20, "gamma text"), (21, "gamma text"), (22, "delta x")],  # 20 hist, 21 hist (gamma new in file 2)
    ]
    import os

    os.makedirs(src)
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.parquet(
            f"{src}/b{i}.parquet"
        )
    schema = "doc_id long, text string"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/b*.parquet")
    )
    q = incremental_dedup_query(spark, stream, state).trigger(availableNow=True).start()
    q.awaitTermination(120)

    out = {
        r["doc_id"]: (r["status"], r["matched_id"])
        for r in spark.read.parquet(f"{state}/classified").collect()
    }
    assert len(out) == 8
    # alpha: first-arrival keeper is doc 1
    assert out[1] == ("new", 1)
    assert out[3] == ("dup_in_batch", 1)
    assert out[10] == ("dup_of_history", 1)
    # gamma first appears as doc 11, then history for file 3
    assert out[11] == ("new", 11)
    assert out[20] == ("dup_of_history", 11)
    assert out[21] == ("dup_of_history", 11)
    assert out[22] == ("new", 22)
    index = {r["fp"]: r["hist_id"] for r in spark.read.parquet(f"{state}/index").collect()}
    assert sorted(index.values()) == [1, 2, 11, 22]


def test_streaming_scd2_matches_batch_history(spark, sf_small, tmp_path):
    """Time-ordered micro-batches through the SCD2 maintainer produce
    exactly the batch query's history (regimes spanning batch
    boundaries collapse; valid_to/is_current derive identically)."""
    from columnar_analytics_engine_spark.queries.events import events_scd2_history
    from columnar_analytics_engine_spark.streaming.scd2 import (
        history_view,
        scd2_maintenance_query,
    )
    from columnar_analytics_engine_spark.io import read_table
    from pyspark.sql import functions as F

    events = read_table(spark, sf_small, "events")
    bounds = events.agg(
        F.min("ts").alias("lo"), F.max("ts").alias("hi")
    ).first()
    lo, hi = bounds["lo"], bounds["hi"]
    step = (hi - lo) / 3
    src = str(tmp_path / "src")
    import os

    os.makedirs(src)
    cuts = [lo + step, lo + 2 * step]
    parts = [
        events.filter(F.col("ts") < cuts[0]),
        events.filter((F.col("ts") >= cuts[0]) & (F.col("ts") < cuts[1])),
        events.filter(F.col("ts") >= cuts[1]),
    ]
    for i, p in enumerate(parts):
        p.coalesce(1).write.parquet(f"{src}/b{i}.parquet")

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/b*.parquet")
    )
    state = str(tmp_path / "state")
    q = scd2_maintenance_query(spark, stream, state).trigger(availableNow=True).start()
    q.awaitTermination(180)

    got = sorted(map(tuple, history_view(spark, f"{state}/history").drop("event_id").collect()))
    want = sorted(map(tuple, events_scd2_history(spark, sf_small).collect()))
    assert got == want and got


def test_streaming_scd2_retry_idempotent(spark, tmp_path):
    """Replaying the same micro-batch (a foreachBatch retry) replaces
    its own batch_id partition instead of duplicating regimes."""
    import datetime as dt

    from pyspark.sql import functions as F

    from columnar_analytics_engine_spark.streaming.scd2 import (
        apply_batch,
        history_view,
    )

    base = dt.datetime(2024, 1, 1)
    batch = spark.createDataFrame(
        [
            (1, base, 7, "view", 1.0, "{}"),
            (2, base + dt.timedelta(minutes=1), 7, "click", 1.0, "{}"),
        ],
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    hist = str(tmp_path / "history")
    for _ in range(2):  # original run + retry of the SAME batch_id
        delta = apply_batch(spark, batch, hist, batch_id=0).withColumn("batch_id", F.lit(0))
        delta.persist(); delta.count()
        (
            delta.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(hist)
        )
        delta.unpersist()
    rows = history_view(spark, hist).collect()
    assert [(r["user_id"], r["event_type"]) for r in rows] == [(7, "view"), (7, "click")]


def test_streaming_scd2_retry_first_equals_last_regime(spark, tmp_path):
    """The hard retry case: a batch whose FIRST regime type equals its
    LAST (view, click, view).  Without excluding the batch's own rows
    from the current-row probe, the retry would classify the first
    regime as 'continuing' and the partition overwrite would drop it."""
    import datetime as dt

    from pyspark.sql import functions as F

    from columnar_analytics_engine_spark.streaming.scd2 import (
        apply_batch,
        history_view,
    )

    base = dt.datetime(2024, 1, 1)
    batch = spark.createDataFrame(
        [
            (1, base, 7, "view", 1.0, "{}"),
            (2, base + dt.timedelta(minutes=1), 7, "click", 1.0, "{}"),
            (3, base + dt.timedelta(minutes=2), 7, "view", 1.0, "{}"),
        ],
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    hist = str(tmp_path / "history")
    for _ in range(2):
        delta = apply_batch(spark, batch, hist, batch_id=0).withColumn(
            "batch_id", F.lit(0)
        )
        delta.persist(); delta.count()
        (
            delta.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(hist)
        )
        delta.unpersist()
    types = [r["event_type"] for r in history_view(spark, hist).collect()]
    assert types == ["view", "click", "view"]


def test_compact_state_preserves_history_and_allows_resume(spark, tmp_path):
    """Compacting the SCD2 regime log between streaming runs: the
    derived history is unchanged, the file count drops, and a later
    batch applied after compaction still extends the history
    correctly."""
    import datetime as dt

    from pyspark.sql import functions as F

    from columnar_analytics_engine_spark.streaming.maintenance import (
        compact_batch_partitions,
    )
    from columnar_analytics_engine_spark.streaming.scd2 import (
        apply_batch,
        history_view,
    )

    base = dt.datetime(2024, 1, 1)
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string"
    )
    hist = str(tmp_path / "history")

    def commit(rows, bid):
        from columnar_analytics_engine_spark.artifacts import resolve_artifact

        b = spark.createDataFrame(rows, schema)
        delta = apply_batch(spark, b, hist, batch_id=bid).withColumn(
            "batch_id", F.lit(bid)
        )
        delta.persist(); delta.count()
        (
            delta.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            # appends land in the CURRENT generation (post-compaction
            # the live state is the published generation's sibling dir)
            .parquet(resolve_artifact(hist))
        )
        delta.unpersist()

    for bid in range(5):  # five 1-row batches, alternating regimes
        etype = "view" if bid % 2 == 0 else "click"
        commit([(bid, base + dt.timedelta(minutes=bid), 7, etype, 1.0, "{}")], bid)

    before = sorted(map(tuple, history_view(spark, hist).collect()))
    summary = compact_batch_partitions(spark, hist)
    after = sorted(map(tuple, history_view(spark, hist).collect()))
    assert after == before
    assert summary["files_after"] < summary["files_before"]
    assert summary["rows"] == 5 and summary["batch_id"] == 4

    # resume: a later batch (higher id) still extends the history
    commit([(99, base + dt.timedelta(minutes=99), 7, "purchase", 1.0, "{}")], 10)
    types = [r["event_type"] for r in history_view(spark, hist).collect()]
    assert types[-1] == "purchase" and len(types) == 6


def test_streaming_cms_matches_batch_sketch_and_is_retry_safe(spark, tmp_path):
    """Stream the events in 3 files through the foreachBatch CMS
    maintenance; the merged sketch must equal the single-pass batch
    sketch counter-for-counter (mergeability is exact addition), a
    replayed batch must not change it, and estimates must upper-bound
    exact counts."""
    import os

    from columnar_analytics_engine_spark.streaming.sketch import (
        cms_maintenance_query,
        estimate_counts,
        partial_sketch,
        read_sketch,
    )

    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    os.makedirs(src)
    rows = [(i, i % 17) for i in range(600)]  # (event_id, user_id)
    all_df = spark.createDataFrame(rows, "event_id long, user_id long")
    for b in range(3):
        all_df.filter(F.col("event_id") % 3 == b).coalesce(1).write.parquet(
            f"{src}/b{b}.parquet"
        )

    stream = (
        spark.readStream.schema("event_id long, user_id long")
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/b*.parquet")
    )
    q = cms_maintenance_query(spark, stream, state).trigger(availableNow=True).start()
    q.awaitTermination(120)

    merged = {
        (r.row_id, r.bucket): r.c for r in read_sketch(spark, f"{state}/cms").collect()
    }
    single_pass = {
        (r.row_id, r.bucket): r.c for r in partial_sketch(all_df).collect()
    }
    assert merged == single_pass

    # retry: re-apply batch 1's partial write with the same batch_id
    b1 = spark.read.parquet(f"{src}/b1.parquet")
    (
        partial_sketch(b1).withColumn("batch_id", F.lit(1))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(f"{state}/cms")
    )
    after_retry = {
        (r.row_id, r.bucket): r.c for r in read_sketch(spark, f"{state}/cms").collect()
    }
    assert after_retry == merged

    exact = all_df.groupBy("user_id").agg(F.count("*").alias("exact_n"))
    est = estimate_counts(spark, f"{state}/cms", exact.select("user_id"))
    joined = exact.join(est, "user_id").collect()
    assert len(joined) == 17
    assert all(r.cms_estimate >= r.exact_n for r in joined)


def test_streaming_cms_estimate_unseen_key_is_zero_or_collision(spark, tmp_path):
    from columnar_analytics_engine_spark.streaming.sketch import (
        estimate_counts,
        partial_sketch,
    )

    state = str(tmp_path / "state")
    batch = spark.createDataFrame([(1, 7)] * 5, "event_id long, user_id long")
    (
        partial_sketch(batch).withColumn("batch_id", F.lit(0))
        .write.mode("overwrite")
        .partitionBy("batch_id")
        .parquet(f"{state}/cms")
    )
    keys = spark.createDataFrame([(7,), (999999,)], "user_id long")
    out = {r.user_id: r.cms_estimate for r in estimate_counts(spark, f"{state}/cms", keys).collect()}
    assert out[7] == 5
    assert 0 <= out[999999] <= 5  # zero unless all d buckets collide


def test_streaming_rollup_matches_batch_and_survives_retry_and_compaction(
    spark, tmp_path
):
    """foreachBatch incremental materialized aggregate: the merged view
    must equal the from-scratch batch rollup, stay unchanged when a
    batch is replayed, and stay unchanged after state compaction."""
    import datetime
    import os

    from columnar_analytics_engine_spark.streaming.maintenance import (
        compact_batch_partitions,
    )
    from columnar_analytics_engine_spark.streaming.rollup import (
        partial_rollup,
        read_rollup,
        rollup_maintenance_query,
    )

    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    os.makedirs(src)
    base = datetime.datetime(2024, 3, 1, 12, 0, 0)
    rows = [
        (
            i,
            base + datetime.timedelta(hours=7 * i),
            i % 5,
            ["click", "view"][i % 2],
            round(0.01 * i, 2),
        )
        for i in range(300)
    ]
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double"
    all_df = spark.createDataFrame(rows, schema)
    for b in range(3):
        all_df.filter(F.col("event_id") % 3 == b).coalesce(1).write.parquet(
            f"{src}/b{b}.parquet"
        )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/b*.parquet")
    )
    q = rollup_maintenance_query(spark, stream, state).trigger(availableNow=True).start()
    q.awaitTermination(120)

    def view():
        return [tuple(r) for r in read_rollup(spark, f"{state}/rollup").collect()]

    batch_truth = [
        tuple(r)
        for r in partial_rollup(all_df)
        .select(
            "day",
            "event_type",
            "n_events",
            (F.col("sum_cents").cast("double") / 100.0).alias("sum_value"),
        )
        .orderBy("day", "event_type")
        .collect()
    ]
    v0 = view()
    assert v0 == batch_truth and len(v0) > 10

    # replay batch 1 (same batch_id): the view must not change
    b1 = spark.read.parquet(f"{src}/b1.parquet")
    (
        partial_rollup(b1).withColumn("batch_id", F.lit(1))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(f"{state}/rollup")
    )
    assert view() == v0

    # compaction folds partitions without changing the merged view
    summary = compact_batch_partitions(spark, f"{state}/rollup")
    assert summary["files_after"] <= summary["files_before"]
    assert view() == v0


def test_incremental_dedup_corrupt_index_raises_not_reclassifies(spark, tmp_path):
    """ADVICE r05 contract: only PATH_NOT_FOUND means 'no index yet'.
    A corrupt index file must propagate an error — silently treating it
    as empty would reclassify every historical duplicate as new and
    corrupt the index further."""
    import os

    import pytest as _pytest

    from columnar_analytics_engine_spark.streaming.incremental import classify_batch

    index = str(tmp_path / "index")
    os.makedirs(index)
    with open(f"{index}/part-00000.parquet", "wb") as f:
        f.write(b"this is not a parquet file")
    batch = spark.createDataFrame([(1, "alpha")], "doc_id long, text string")
    with _pytest.raises(Exception) as exc_info:
        classify_batch(spark, batch, index).collect()
    # any engine-level failure is acceptable; a silent empty-index
    # fallback (classifying the row as 'new') is not
    assert exc_info.type is not AssertionError


def test_watermark_drops_and_accounts_late_rows(spark, tmp_path):
    """Late-data contract: rows older than the watermark are dropped
    from the windowed aggregate AND the drop is observable in the query
    progress (numRowsDroppedByWatermark) — the accounting a production
    stream alerts on."""
    import datetime
    import os
    import time as _time

    from columnar_analytics_engine_spark.streaming.windows import tumbling_counts

    src = str(tmp_path / "src")
    os.makedirs(src)
    base = datetime.datetime(2024, 5, 1, 10, 0, 0)
    schema = "event_id long, ts timestamp, event_type string, value double"

    def write(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(f"{src}/{name}")

    # batch 0: on-time rows spanning 6 hours -> watermark (2h) lands at
    # 14:00 after the batch commits
    write("b0.parquet", [(i, base + datetime.timedelta(hours=i), "click", 1.0) for i in range(7)])
    # batch 1: an on-time row; the late-events watermark lags one batch
    # (Spark uses the PREVIOUS batch's committed watermark to filter),
    # so this batch merely locks 14:00 in for batch 2
    write("b1.parquet", [
        (101, base + datetime.timedelta(hours=6, minutes=5), "click", 1.0),
    ])
    # batch 2: one late row (10:05, far behind the 14:00 watermark)
    write("b2.parquet", [
        (100, base + datetime.timedelta(minutes=5), "click", 1.0),
    ])

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/b*.parquet")
    )
    out = tumbling_counts(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("late_acct")
        .outputMode("update")
        .option("checkpointLocation", f"{tmp_path}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    dropped = sum(
        op.get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        for op in p.get("stateOperators", [])
    )
    assert dropped == 1
    rows = spark.sql("SELECT * FROM late_acct").collect()
    got = {(r.window_start, r.n_events) for r in rows}
    # the late 10:05 row never lands in the 10:00 window (count stays 1)
    assert ("2024-05-01 10:00:00", 1) in got
    assert ("2024-05-01 10:00:00", 2) not in got
    # the on-time 16:05 row from batch 1 does land
    assert ("2024-05-01 16:00:00", 1) in got


def test_streaming_ohlc_matches_batch(spark, sf_small):
    from columnar_analytics_engine_spark.queries.events import events_ohlc_daily
    from columnar_analytics_engine_spark.streaming.windows import (
        ohlc_daily_bars,
        read_events_stream,
        run_available_now,
    )

    stream = read_events_stream(spark, sf_small)
    out = run_available_now(ohlc_daily_bars(stream), spark)
    batch = events_ohlc_daily(spark, sf_small)
    assert _sorted_rows(out, "day", "event_type") == _sorted_rows(
        batch, "day", "event_type"
    )


def test_snapshot_sink_publishes_one_version_per_batch(spark, tmp_path):
    """foreachBatch + versioned tables: each micro-batch becomes one
    immutable committed version; a replayed batch_id is a no-op; the
    latest version is the last batch."""
    import os

    from columnar_analytics_engine_spark import versioned as V
    from columnar_analytics_engine_spark.streaming.versioned_sink import snapshot_sink

    src = str(tmp_path / "src")
    os.makedirs(src)
    batches = [[(0, "a"), (1, "b")], [(2, "c")], [(3, "d"), (4, "e")]]
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, "k long, v string").coalesce(1).write.parquet(
            f"{src}/b{i}.parquet"
        )
    stream = (
        spark.readStream.schema("k long, v string")
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/b*.parquet")
    )
    tp = str(tmp_path / "table")
    q = snapshot_sink(stream, tp, str(tmp_path / "ckpt")).trigger(
        availableNow=True
    ).start()
    q.awaitTermination(120)

    assert V.list_versions(tp) == [0, 1, 2]
    per_version = {
        v: {r["k"] for r in V.read_version(spark, tp, v).collect()}
        for v in V.list_versions(tp)
    }
    # each version holds exactly one source file's rows; the union is total
    assert sorted(map(tuple, map(sorted, per_version.values()))) == [
        (0, 1), (2,), (3, 4)
    ]
    # replaying a committed batch is a no-op (exactly-once): Spark
    # re-invokes the foreachBatch function with the SAME batch_id after
    # a failure — drive that path directly with different data
    from columnar_analytics_engine_spark.streaming.versioned_sink import publish_batch

    before = [tuple(r) for r in V.table_history(spark, tp).collect()]
    replay = spark.createDataFrame([(99, "z")], "k long, v string")
    publish_batch(tp)(replay, 1)
    assert [tuple(r) for r in V.table_history(spark, tp).collect()] == before
    assert {r["k"] for r in V.read_version(spark, tp, 1).collect()} == {2}
    # a NEW batch_id from the replayed writer still publishes
    publish_batch(tp)(replay, 3)
    assert V.list_versions(tp) == [0, 1, 2, 3]
    assert {r["k"] for r in V.read_version(spark, tp, 3).collect()} == {99}


def test_stats_indexed_sink_maintains_manifest_per_batch(spark, tmp_path):
    """foreachBatch + stats-skipping index: each micro-batch lands in
    its own batch_id partition and becomes visible to read_skipping
    only through the index (the index IS the manifest); a replayed
    batch reconciles instead of duplicating."""
    import os

    from columnar_analytics_engine_spark.skipping import (
        plan_skipping,
        read_skipping,
    )
    from columnar_analytics_engine_spark.streaming.maintenance import (
        stats_indexed_sink,
    )

    src = str(tmp_path / "src")
    os.makedirs(src)
    for i, rows in enumerate([[(0, 10), (1, 11)], [(2, 20)], [(3, 30), (4, 31)]]):
        spark.createDataFrame(rows, "k long, v long").coalesce(1).write.parquet(
            f"{src}/b{i}.parquet"
        )
    stream = (
        spark.readStream.schema("k long, v long")
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/b*.parquet")
    )
    data = str(tmp_path / "table")
    index = str(tmp_path / "index")
    process = stats_indexed_sink(spark, data, index)
    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    # all rows visible through the index-planned read
    got = read_skipping(spark, data, index, "k ge 0")
    assert {r["k"] for r in got.collect()} == {0, 1, 2, 3, 4}
    # batch_id is a partition column in the index: a clause on it prunes
    plan = plan_skipping(spark, index, "batch_id eq 1")
    assert 0 < len(plan["files"]) < plan["files_total"]
    # replaying a batch reconciles the index instead of duplicating rows
    one_batch = spark.createDataFrame([(2, 20)], "k long, v long")
    process(one_batch, 1)
    got2 = read_skipping(spark, data, index, "k ge 0")
    assert sorted(r["k"] for r in got2.collect()) == [0, 1, 2, 3, 4]
    # manifest versions are bounded by the sink's retention window:
    # 4 publishes so far, default keep=8 retains all; a tight window
    # expires down to it on the very next batch
    from columnar_analytics_engine_spark.manifest import list_versions
    from columnar_analytics_engine_spark.streaming.maintenance import (
        stats_indexed_sink as _sink,
    )

    assert len(list_versions(index)) >= 3
    tight = _sink(spark, data, index, manifest_keep_versions=2)
    tight(spark.createDataFrame([(9, 90)], "k long, v long"), 7)
    assert len(list_versions(index)) <= 2
    got3 = read_skipping(spark, data, index, "k ge 0")
    assert sorted(r["k"] for r in got3.collect()) == [0, 1, 2, 3, 4, 9]


def test_stats_indexed_sink_clustered_ingest(spark, tmp_path):
    """cluster_cols: each micro-batch lands Z-order-arranged, so the
    stats index prunes INSIDE a batch; results identical either way."""
    import os

    from pyspark.sql import functions as SF

    from columnar_analytics_engine_spark.layout import (
        clustering_depth,
        index_extents,
    )
    from columnar_analytics_engine_spark.skipping import (
        plan_skipping,
        read_skipping,
    )
    from columnar_analytics_engine_spark.streaming.maintenance import (
        stats_indexed_sink,
    )

    src = str(tmp_path / "src")
    os.makedirs(src)
    # one wide batch: 4k rows over two independent keys
    rows = spark.range(4000).select(
        (SF.col("id") % 64).alias("x"),
        SF.pmod(SF.col("id") * 2654435761, SF.lit(64)).alias("y"),
        SF.col("id").alias("payload"),
    )
    rows.coalesce(1).write.parquet(f"{src}/b0.parquet")
    stream = (
        spark.readStream.schema("x long, y long, payload long")
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/b*.parquet")
    )
    data = str(tmp_path / "table")
    index = str(tmp_path / "index")
    process = stats_indexed_sink(
        spark, data, index, cluster_cols=["x", "y"], cluster_files=8,
        cluster_bits=6,
    )
    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    # contents exact
    got = read_skipping(spark, data, index, "x ge 0")
    assert got.count() == 4000
    assert sorted(r["payload"] for r in got.collect()) == list(range(4000))
    # in-batch pruning on BOTH z columns
    for pred in ("x ge 0 and x le 7", "y ge 0 and y le 7"):
        plan = plan_skipping(spark, index, pred)
        assert plan["files_pruned"] > 0, pred
    # clustered, measurably: depth below the everything-overlaps worst
    # case on both axes (file boundaries come from repartitionByRange's
    # SAMPLING, so exact depths wobble run to run — the stable
    # guarantees are the pruning assertions above plus this margin)
    d = {
        r["probe_col"]: r["avg_depth"]
        for r in clustering_depth(index_extents(spark, index, ["x", "y"])).collect()
    }
    n_files = plan_skipping(spark, index, "x ge 0")["files_total"]
    assert d["x"] <= n_files * 0.75 and d["y"] <= n_files * 0.75


def test_stats_indexed_sink_maintains_bloom(spark, tmp_path):
    import os

    from columnar_analytics_engine_spark.skipping import (
        plan_skipping,
        read_skipping,
    )
    from columnar_analytics_engine_spark.streaming.maintenance import (
        stats_indexed_sink,
    )

    src = str(tmp_path / "src")
    os.makedirs(src)
    for i, lo in enumerate((0, 1000, 2000)):
        spark.range(lo, lo + 500).selectExpr("id AS k", "id * 2 AS v").coalesce(
            1
        ).write.parquet(f"{src}/b{i}.parquet")
    stream = (
        spark.readStream.schema("k long, v long")
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/b*.parquet")
    )
    data = str(tmp_path / "table")
    index = str(tmp_path / "index")
    bloom = str(tmp_path / "bloom")
    process = stats_indexed_sink(
        spark, data, index, bloom_path=bloom, bloom_cols=["k"]
    )
    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    # every batch's file has a bloom row; an absent mid-range key
    # prunes through bloom where intervals keep the holding batch
    rows = spark.read.parquet(bloom)
    assert rows.select("file").distinct().count() == 3
    present = plan_skipping(spark, index, "k eq 1250", bloom_path=bloom)
    got = read_skipping(spark, data, index, "k eq 1250", bloom_path=bloom)
    assert got.count() == 1
    absent = plan_skipping(spark, index, "k eq 700", bloom_path=bloom)
    assert absent["files"] == []  # gap between batches: everything prunes
    assert present["files_pruned"] >= 2


def test_stats_indexed_sink_auto_compacts_small_files(spark, tmp_path):
    """compact_small_every folds small-file maintenance into the sink:
    tiny per-batch files bin-pack periodically, index-planned reads stay
    exact throughout, and vacuum reclaims the originals."""
    import os

    from columnar_analytics_engine_spark.layout import vacuum_unindexed
    from columnar_analytics_engine_spark.manifest import read_manifest
    from columnar_analytics_engine_spark.skipping import read_skipping
    from columnar_analytics_engine_spark.streaming.maintenance import (
        stats_indexed_sink,
    )

    data = str(tmp_path / "table")
    index = str(tmp_path / "index")
    process = stats_indexed_sink(
        spark, data, index, compact_small_every=2,
        compact_target_bytes=64 * 1024 * 1024,
    )
    expect = []
    for b in range(4):
        rows = [(b * 10 + i, b) for i in range(10)]
        expect += rows
        process(spark.createDataFrame(rows, "k long, src long"), b)

    got = read_skipping(spark, data, index, "k ge 0")
    assert sorted((r["k"], r["src"]) for r in got.collect()) == sorted(expect)
    # compaction ran on batches 1 and 3: the manifest holds fewer files
    # than the raw batch count would imply... each batch lands >=1 file
    # per partition dir; after two compaction ticks the batch_id=*
    # partitions' smalls are bin-packed per partition
    m = read_manifest(spark, index)
    n_indexed = m.select("file").distinct().count()
    vacuum_unindexed(spark, data, index, keep_versions=1)
    from columnar_analytics_engine_spark.skipping import list_parquet_files

    assert len(list_parquet_files(data)) == n_indexed
    got2 = read_skipping(spark, data, index, "k ge 0")
    assert sorted((r["k"], r["src"]) for r in got2.collect()) == sorted(expect)


def test_stats_indexed_sink_no_readoption_after_retention(spark, tmp_path):
    """ADVICE r12 (high): expiry must be COUPLED with data-file
    reclamation.  With a bare expire_versions, compaction-dropped
    originals stayed on disk unreferenced; once the last retained
    version naming them expired (manifest_keep_versions batches after
    the compaction), update_stats_index's new-file detection
    (disk - indexed - referenced) re-adopted them and every read
    returned duplicate rows.  The sink now runs vacuum_unindexed
    per batch, deleting those files the moment they leave the
    retention window — reads stay exact over a long-running stream."""
    from columnar_analytics_engine_spark.skipping import (
        list_parquet_files,
        read_skipping,
    )
    from columnar_analytics_engine_spark.streaming.maintenance import (
        stats_indexed_sink,
    )

    data = str(tmp_path / "table")
    index = str(tmp_path / "index")
    process = stats_indexed_sink(
        spark, data, index, compact_small_every=2,
        compact_target_bytes=64 * 1024 * 1024,
        manifest_keep_versions=2,
    )
    expect = []
    # 10 batches with keep=2: batch 1's compaction-dropped originals
    # leave the retention window around batch 3-4 — far before the end
    for b in range(10):
        rows = [(b * 10 + i, b) for i in range(10)]
        expect += rows
        process(spark.createDataFrame(rows, "k long, src long"), b)
        got = sorted(
            (r["k"], r["src"])
            for r in read_skipping(spark, data, index, "k ge 0").collect()
        )
        assert got == sorted(expect), f"duplicates/loss after batch {b}"
    # and the disk holds exactly the files the current manifest lists
    # plus at most the retention window's extras — nothing stranded
    # forever: a final keep=1 vacuum converges disk == manifest
    from columnar_analytics_engine_spark.layout import vacuum_unindexed
    from columnar_analytics_engine_spark.manifest import referenced_files

    vacuum_unindexed(spark, data, index, keep_versions=1)
    assert set(list_parquet_files(data)) == referenced_files(index)


def test_cdf_consumer_tails_streaming_sink(spark, tmp_path):
    """Composition: a foreachBatch stats-indexed sink ingests
    micro-batches (one manifest version per batch); an incremental
    consumer tails the table with cdf.consume_changes, folding each
    feed into a keyed state — the consumer's state equals the table
    after every consumption, and it never rescans the table (the feed
    is derived from the manifest diff alone)."""
    from collections import Counter

    from columnar_analytics_engine_spark.cdf import (
        advance_cursor,
        consume_changes,
    )
    from columnar_analytics_engine_spark.skipping import read_skipping
    from columnar_analytics_engine_spark.streaming.maintenance import (
        stats_indexed_sink,
    )

    data = str(tmp_path / "table")
    index = str(tmp_path / "index")
    cursor = str(tmp_path / "cursor")
    process = stats_indexed_sink(
        spark, data, index, compact_small_every=3,
        manifest_keep_versions=8,
    )
    state: Counter = Counter()

    def consume():
        feed, _frm, to = consume_changes(spark, data, index, cursor)
        if feed is None:
            return
        for r in feed.collect():
            d = r.asDict()
            t, n = d.pop("_change_type"), d.pop("_change_count")
            state[tuple(d.values())] += n if t == "insert" else -n
        for k in [k for k, v in state.items() if v == 0]:
            del state[k]
        advance_cursor(cursor, to)

    for b in range(6):
        rows = [(b * 10 + i, b) for i in range(10)]
        process(spark.createDataFrame(rows, "k long, src long"), b)
        consume()
        table = Counter(
            tuple(r)
            for r in read_skipping(spark, data, index, "k ge 0").collect()
        )
        assert state == table, f"consumer diverged after batch {b}"


def test_stats_indexed_sink_preserves_external_appends(spark, tmp_path):
    """Round 14 (ADVICE r13 #2): the sink's per-batch retention is the
    NARROW reclaim — a parquet file another writer drops into the data
    directory between index updates must survive every per-batch
    vacuum (it was never referenced by any manifest version) and be
    ADOPTED by the next update_stats_index, not destroyed; while a
    compaction-dropped original still leaves the window on schedule."""
    import os

    from columnar_analytics_engine_spark.skipping import (
        read_skipping,
        update_stats_index,
    )
    from columnar_analytics_engine_spark.streaming.maintenance import (
        stats_indexed_sink,
    )

    data = str(tmp_path / "table")
    index = str(tmp_path / "index")
    process = stats_indexed_sink(spark, data, index, manifest_keep_versions=1)
    process(spark.createDataFrame([(0, 10), (1, 11)], "k long, v long"), 0)

    def land(rows, dest_dir, name):
        stage = str(tmp_path / f"stage_{name}")
        spark.createDataFrame(rows, "k long, v long").coalesce(
            1
        ).write.mode("overwrite").parquet(stage)
        part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
        os.makedirs(dest_dir, exist_ok=True)
        dest = os.path.join(dest_dir, f"{name}.parquet")
        os.replace(os.path.join(stage, part), dest)
        return dest

    # a layout-CONSISTENT external backfill (its own batch_id dir) and
    # a layout-INCONSISTENT stray (root-level file in a hive layout)
    ext = land([(99, 990)], os.path.join(data, "batch_id=999"), "backfill")
    stray = land([(7, 70)], data, "stray")

    # several more micro-batches, each running the per-batch retention
    # with the tightest window — both external files must survive (the
    # narrow reclaim never deletes never-referenced files)
    process(spark.createDataFrame([(2, 20)], "k long, v long"), 1)
    process(spark.createDataFrame([(3, 30)], "k long, v long"), 2)
    assert os.path.exists(ext), "external append destroyed by sink vacuum"
    assert os.path.exists(stray), "stray destroyed by sink vacuum"

    # adoption: the layout-consistent backfill's rows appear; the
    # root-level stray is refused (basePath partitioned reads silently
    # DROP such files — indexing it would be indexed-but-invisible)
    update_stats_index(spark, data, index)
    got = read_skipping(spark, data, index, "k ge 0")
    assert sorted(r["k"] for r in got.collect()) == [0, 1, 2, 3, 99]
