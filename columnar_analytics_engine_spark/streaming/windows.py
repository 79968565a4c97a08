"""Structured Streaming operators over the events stream.

The reference engine is strictly batch (SURVEY.md §2.9 — confirmed
absent); these are the streaming twins of the batch queries in
``queries/events.py``.  Each builder takes a *streaming* DataFrame
(``spark.readStream``) and returns the transformed streaming frame; the
``run_available_now`` helper drains a bounded source (e.g. the parquet
events fixture) through a memory sink so tests can compare streaming
output against the batch equivalent deterministically.

Watermarks bound state: at 100 TB/day ingest, an unbounded groupBy on
event time would accumulate state forever; ``withWatermark`` lets Spark
drop window state older than the lateness bound and emit finalized rows
in append mode.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from columnar_analytics_engine_spark.queries._util import exact_sum


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open the events fixture as a file-source stream.

    Timestamp normalization matches the batch reader (io.read_table):
    nanosecond fixtures are read as int64 (nanosAsLong) and truncated to
    microsecond timestamps; microsecond NTZ fixtures are read as
    session-tz (UTC) TIMESTAMP via inferTimestampNTZ=false.

    The confs are save/restored around schema capture (same discipline
    as io.read_table) so later unrelated reads by the caller are
    unaffected.  NOTE: a streaming query clones the session conf at
    ``.start()`` — the stream declares an EXPLICIT schema and converts
    ns columns itself, so micro-batch execution does not depend on the
    restored confs (pinned by tests/test_streaming.py, which runs every
    stream after this restore has already happened).
    """
    from columnar_analytics_engine_spark.io import _ns_timestamp_fields, session_confs

    ns_cols = _ns_timestamp_fields(f"{sf_dir}/events.parquet")
    confs = {"spark.sql.parquet.inferTimestampNTZ.enabled": "false"}
    if ns_cols:
        confs["spark.sql.legacy.parquet.nanosAsLong"] = "true"
    with session_confs(spark, confs):
        batch = spark.read.parquet(f"{sf_dir}/events.parquet")
        # file-stream sources take a directory; select just the events
        # file from the fixture dir via glob filter
        stream = (
            spark.readStream.schema(batch.schema)
            .option("maxFilesPerTrigger", "1")
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
    for c in ns_cols:
        stream = stream.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` DIV 1000")))
    return stream


def tumbling_counts(events: DataFrame, window: str = "1 hour", watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling-window counts+sums per event type — the
    streaming twin of queries/events.py::events_tumbling_window."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), exact_sum("value", "sum_value"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_counts(events: DataFrame, window: str = "1 hour", slide: str = "30 minutes", watermark: str = "2 hours") -> DataFrame:
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n_events",
        )
    )


def session_counts(events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours") -> DataFrame:
    """Native session windows (gap-merged) per user — streaming twin of
    the lag/cumsum batch sessionization."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("session_start_us"),
            "n_events",
        )
    )


def dedup_within_watermark(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming dedup keyed on event_id with bounded state."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["event_id"])


def clicks_before_errors_join(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Watermarked stream-stream join: each error event joined to the
    same user's clicks from the preceding 5 minutes.

    Both sides carry watermarks and the join condition bounds event-time
    distance, so Spark can GC join state older than watermark+range —
    the only way a stream-stream join runs indefinitely at scale.
    Batch twin: queries/events.py::events_range_join (inner-match rows).
    """
    errors = (
        events.filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("e_event_id"),
            F.col("user_id").alias("e_user"),
            F.col("ts").alias("e_ts"),
        )
        .withWatermark("e_ts", watermark)
    )
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("c_event_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", watermark)
    )
    cond = (
        (F.col("e_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("e_ts") - F.expr("INTERVAL 5 MINUTES"))
        & (F.col("c_ts") < F.col("e_ts"))
    )
    return errors.join(clicks, cond, "inner").select(
        "e_event_id", "e_user", "c_event_id"
    )


def enrich_with_static(events: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static enrichment join: each event is decorated from a
    static dimension table on user_id (the lookup-table pattern — user
    tiers, geo maps, model registries).

    The static side needs no watermark and is re-read per micro-batch;
    Spark broadcasts it when small, so the stream side never shuffles —
    the only join shape that adds zero state to a 100 TB/day stream.
    """
    return events.join(F.broadcast(dim), "user_id", "left").select(
        "event_id", "user_id", "event_type", "ts", dim.columns[-1]
    )


def run_available_now(
    stream_df: DataFrame, spark: SparkSession, output_mode: str | None = None
) -> DataFrame:
    """Drain a bounded stream through a memory sink (availableNow
    trigger) and return the collected result as a batch DataFrame —
    deterministic end-of-stream semantics for tests."""
    if output_mode is None:
        output_mode = "complete" if _is_aggregating(stream_df) else "append"
    name = f"sink_{uuid.uuid4().hex[:8]}"
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def _is_aggregating(df: DataFrame) -> bool:
    plan = df._jdf.queryExecution().analyzed().toString()
    return "Aggregate" in plan


def ohlc_daily_bars(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Watermarked daily OHLC bars per event type — the streaming twin
    of queries/events.py::events_ohlc_daily.  Open/close come from
    min/max over a (ts, event_id, value) struct, which is an ordinary
    mergeable aggregate, so the same deterministic bars fall out of
    incremental micro-batches as from the batch job (struct min/max
    needs no sort and keeps per-window state O(1))."""
    key = F.struct(F.col("ts"), F.col("event_id"), F.col("value"))
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.min(key).getField("value").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max(key).getField("value").alias("close"),
            F.count("*").alias("volume"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd").alias("day"),
            "event_type",
            "open",
            "high",
            "low",
            "close",
            "volume",
        )
    )
