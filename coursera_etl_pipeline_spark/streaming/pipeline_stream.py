"""The reference pipeline as a streaming application (SURVEY §3.3 end
note): extract drops timestamped JSON into a landing path; the
streaming transform picks up each NEW file exactly once and appends
flattened rows to the courses dataset.

This removes both reference hazards at once:
  - manual ordering (transform-before-extract crash,
    transform-service/main.py:87-88) — the stream just waits;
  - rerun duplicate appends (WRITE_APPEND with no key,
    transform-service/main.py:65) — checkpoint + per-batch anti-join
    give idempotent appends.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from coursera_etl_pipeline_spark.plans import pipeline
from coursera_etl_pipeline_spark.streaming.parity import _settle


def stream_courses(spark: SparkSession, landing_glob: str) -> DataFrame:
    """Streaming version of the O10->O3..O16 chain. The batch and
    streaming plans are the SAME transform_courses call — Structured
    Streaming runs it incrementally per discovered file."""
    raw = (spark.readStream.schema(pipeline.RESPONSE)
           .option("multiLine", "true").json(landing_glob))
    return pipeline.transform_courses(raw)


def start_append(courses: DataFrame, out_path: str, checkpoint: str,
                 dedup_keys: list[str] | None = None) -> StreamingQuery:
    """Checkpointed append to a parquet dataset. With dedup_keys, each
    micro-batch anti-joins the existing dataset first (idempotent even
    if the SAME rows arrive in a later file — the reference's rerun
    case); without, file-level exactly-once still holds via the
    checkpoint."""

    def write_batch(batch: DataFrame, epoch_id: int) -> None:
        # a compaction of out_path that crashed past its commit point
        # rolls forward first: rolled forward later, it would drop this
        # batch's rows
        _settle([out_path])
        spark = batch.sparkSession
        out = batch
        if dedup_keys:
            try:
                existing = spark.read.parquet(out_path).select(*dedup_keys)
                # list-key joins move the keys to the front; restore the
                # batch's column order so every appended file agrees
                out = (batch.dropDuplicates(dedup_keys)
                       .join(existing, dedup_keys, "left_anti")
                       .select(*batch.columns))
            except AnalysisException as e:
                # only the first-batch missing-path case skips the
                # anti-join; transient IO / corrupt footers must fail the
                # batch (the checkpoint will retry it) rather than
                # silently append duplicates
                if "PATH_NOT_FOUND" not in str(e):
                    raise
                out = batch.dropDuplicates(dedup_keys)
        out.write.mode("append").parquet(out_path)

    return (courses.writeStream
            .foreachBatch(write_batch)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True).start())
