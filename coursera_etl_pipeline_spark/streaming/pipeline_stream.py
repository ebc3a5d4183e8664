"""The reference pipeline as a streaming application (SURVEY §3.3 end
note): extract drops timestamped JSON into a landing path; the
streaming transform picks up each NEW file exactly once and appends
flattened rows to the courses dataset.

This removes both reference hazards at once:
  - manual ordering (transform-before-extract crash,
    transform-service/main.py:87-88) — the stream just waits;
  - rerun duplicate appends (WRITE_APPEND with no key,
    transform-service/main.py:65) — a per-batch anti-join on the keys
    plus the store commit's replay marker give idempotent appends.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from coursera_etl_pipeline_spark.plans import pipeline
from coursera_etl_pipeline_spark.streaming.parity import _ckpt_token, _commit


def stream_courses(spark: SparkSession, landing_glob: str) -> DataFrame:
    """Streaming version of the O10->O3..O16 chain. The batch and
    streaming plans are the SAME transform_courses call — Structured
    Streaming runs it incrementally per discovered file."""
    raw = (spark.readStream.schema(pipeline.RESPONSE)
           .option("multiLine", "true").json(landing_glob))
    return pipeline.transform_courses(raw)


def start_append(courses: DataFrame, out_path: str, checkpoint: str,
                 dedup_keys: list[str]) -> StreamingQuery:
    """Checkpointed append to a parquet dataset through the store commit
    (streaming/parity.py), its marker in ``out_path``. foreachBatch is
    at-least-once, so both guards are needed: each micro-batch
    anti-joins the stored ``dedup_keys`` (idempotent even if the SAME
    rows arrive in a later file — the reference's rerun case), and a
    re-delivered epoch finds its marker and does nothing."""
    token = _ckpt_token(checkpoint)

    def write_batch(batch: DataFrame, epoch_id: int) -> None:
        def build() -> Iterator[DataFrame]:
            out = batch.dropDuplicates(dedup_keys)
            try:
                existing = (batch.sparkSession.read.parquet(out_path)
                            .select(*dedup_keys))
                # list-key joins move the keys to the front; restore the
                # batch's column order so every appended file agrees
                out = (out.join(existing, dedup_keys, "left_anti")
                       .select(*batch.columns))
            except AnalysisException as e:
                # only the first-batch missing-path case skips the
                # anti-join; transient IO / corrupt footers must fail the
                # batch (the checkpoint will retry it) rather than
                # silently append duplicates
                if "PATH_NOT_FOUND" not in str(e):
                    raise
            yield out

        _commit("start_append", "inc", out_path, [out_path], build,
                epoch_id, token, append=True)

    return (courses.writeStream
            .foreachBatch(write_batch)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True).start())
