"""Structured Streaming ingest (SURVEY §2.2 streaming, §7 P5).

The reference's implicit stream — daily file arrival + append-only
warehouse accumulation with NO dedup/watermark/late-data handling
(O21 cron at README.md:102, O19 WRITE_APPEND at transform-service/
main.py:65) — becomes a checkpointed Structured Streaming file source:

  - new-file discovery replaces Cloud Scheduler polling (the source
    tracks processed files in the checkpoint — the streaming analogue
    of O8/O9's manual latest-file selection);
  - dropDuplicatesWithinWatermark fixes the rerun-duplicates hazard;
  - trigger(availableNow=True) gives batch-equivalent runs, so every
    streaming test is deterministic.

Scale posture: file-source ingestion parallelizes per file/split;
windowed aggregation state is partitioned by (window, keys) and
watermarks bound state size — both survive 1000-executor deployment.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType


def stream_files(spark: SparkSession, path: str, schema: StructType,
                 fmt: str = "parquet", **options) -> DataFrame:
    """Landing-zone watcher: every new file under `path` becomes
    micro-batch input exactly once (checkpoint-tracked)."""
    reader = spark.readStream.format(fmt).schema(schema)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load(path)


def dedup_within_watermark(events: DataFrame, keys: list[str],
                           ts_col: str = "ts",
                           watermark: str = "1 hour") -> DataFrame:
    """Exactly-once-per-key semantics over an at-least-once source —
    the fix for the reference's re-run double-append (SURVEY §7.0.3).
    Watermark bounds the dedup state: keys older than the watermark
    are evicted, so state stays O(keys-per-watermark-window) at any
    scale."""
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def tumbling_counts(events: DataFrame, size: str = "1 day",
                    ts_col: str = "ts", watermark: str = "1 day") -> DataFrame:
    """Event-time tumbling window aggregation with late-data cutoff."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, size), "event_type")
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("total_value"))
        .select(F.col("window.start").alias("window_start"),
                "event_type", "n", "total_value")
    )


def sessionized(events: DataFrame, gap: str = "4 hours",
                ts_col: str = "ts", watermark: str = "1 day") -> DataFrame:
    """Session windows per user: a session closes after `gap` of
    inactivity (F.session_window merges overlapping gap-extended
    intervals; state is per open session, bounded by the watermark)."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("session_value"))
        .select(F.col("session_window.start").alias("session_start"),
                "user_id", "n_events", "session_value")
    )


def run_available_now(df: DataFrame, sink_name: str,
                      output_mode: str = "append") -> StreamingQuery:
    """Process-everything-then-stop trigger: batch-equivalent execution
    of a streaming plan (deterministic tests; scheduled incremental
    runs — the engine's version of O21's cron).

    The sink's temp view is registered at start(), so a failed stream
    (BaseException too: a KeyboardInterrupt mid-await) stops the query
    and drops the view — callers that memoize on the view's existence
    must never be served a partial table."""
    q = (df.writeStream.outputMode(output_mode)
         .format("memory").queryName(sink_name)
         .trigger(availableNow=True).start())
    try:
        q.awaitTermination()
    except BaseException:
        q.stop()
        df.sparkSession.catalog.dropTempView(sink_name)
        raise
    return q


def write_stream_parquet(df: DataFrame, path: str, checkpoint: str,
                         output_mode: str = "append") -> StreamingQuery:
    """Checkpointed exactly-once file sink (O19 generalized: the
    checkpoint is what the reference's WRITE_APPEND lacked)."""
    return (df.writeStream.outputMode(output_mode)
            .format("parquet").option("path", path)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True).start())
