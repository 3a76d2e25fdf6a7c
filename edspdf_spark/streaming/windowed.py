"""Streaming windowed aggregation with watermark-based late-data
handling.

The reference has no streaming (SURVEY.md §2.9); this is the
engine-side operator a continuous crawl pipeline needs: tumbling-
window counts/sums per event type, tolerating late arrivals up to the
watermark. Batch form = __spark_entry__.q_events_hourly (oracled);
this is the same logical agg under Structured Streaming semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F  # noqa: N812
from pyspark.sql.streaming import StreamingQuery


def windowed_event_counts(events: DataFrame, window: str = "1 hour",
                          watermark: str = "2 hours") -> DataFrame:
    """events(ts TIMESTAMP, event_type STRING, value DOUBLE) ->
    per-(window, event_type) counts and exact milli-sums. Works on
    both batch and streaming DataFrames."""
    # watermarks require TIMESTAMP (not NTZ); normalize either way so
    # batch and streaming forms aggregate identical keys
    df = events.withColumn("ts", F.col("ts").cast("timestamp"))
    if df.isStreaming:
        df = df.withWatermark("ts", watermark)
    return (df.groupBy(F.window("ts", window).alias("w"), "event_type")
            .agg(F.count("*").alias("n_events"),
                 F.sum(F.round(F.col("value") * 1000).cast("bigint"))
                 .alias("sum_value_milli"))
            .select(F.col("w.start").alias("window_start"),
                    F.col("w.end").alias("window_end"),
                    "event_type", "n_events", "sum_value_milli"))


def stream_event_counts(spark: SparkSession, input_dir: str,
                        output_dir: str, checkpoint_dir: str,
                        schema, window: str = "1 hour",
                        watermark: str = "2 hours") -> StreamingQuery:
    """File-stream version: readStream(parquet) -> watermark ->
    windowed agg -> append parquet (only finalized windows emit),
    under an availableNow trigger that drains the backlog and stops."""
    src = spark.readStream.schema(schema).parquet(input_dir)
    agg = windowed_event_counts(src, window=window, watermark=watermark)
    return (agg.writeStream.format("parquet")
            .option("path", output_dir)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("append")
            .trigger(availableNow=True)
            .start())


def sessionize(events: DataFrame, key_col: str = "user_id",
               ts_col: str = "ts", gap: str = "30 minutes",
               value_col: str = "value",
               watermark: str = "2 hours") -> DataFrame:
    """Gap-based sessionization via Spark's native session_window: a
    session is a maximal run of events per key where consecutive
    events are <= gap apart (the merge boundary is INCLUSIVE: an event
    landing exactly at the previous session's end extends it); session
    end = last event ts + gap.

    Output: (key, session_start, session_end, n_events,
    sum_value_centi). Value sums are integer-quantized (round(v*100))
    — float accumulation order is partition-dependent; integer sums
    are exact and engine-portable.

    Works on both batch and streaming inputs (streaming requires the
    watermark so closed sessions can emit). Physical shape: ONE hash
    exchange on the key + per-key sort-merge of windows — the same
    profile as any keyed agg; no global sort."""
    df = events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    if df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    return (df.groupBy(F.col(key_col).alias("key"),
                       F.session_window(F.col(ts_col), gap).alias("w"))
            .agg(F.count("*").alias("n_events"),
                 F.sum(F.round(F.col(value_col) * 100).cast("bigint"))
                 .alias("sum_value_centi"))
            .select("key", F.col("w.start").alias("session_start"),
                    F.col("w.end").alias("session_end"),
                    "n_events", "sum_value_centi"))
