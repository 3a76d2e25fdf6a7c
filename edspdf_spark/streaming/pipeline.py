"""Structured Streaming front-end for the fused pipeline.

The reference has no streaming surface (SURVEY.md §2.9); at crawl
scale the natural deployment is a continuous backfill: new WARC
batches land as files, the engine picks them up exactly once.

readStream(pages dir) -> run_fused (mapInArrow works unchanged on a
streaming DataFrame: the pipeline is stateless per document) ->
writeStream parquet with checkpointLocation. Spark's streaming
checkpoint gives exactly-once file-batch semantics and free resume —
the batch-side bucketed checkpoint (plans/checkpoint.py) covers the
one-shot backfill case instead.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..operators.fused import PipelineConfig, run_fused
from ..schemas import PAGES_SCHEMA


def stream_pages(spark: SparkSession, input_dir: str, output_dir: str,
                 checkpoint_dir: str, cfg: PipelineConfig,
                 available_now: bool = True,
                 max_files_per_trigger: Optional[int] = None
                 ) -> StreamingQuery:
    """Start (and return) the streaming query. With available_now=True
    it drains the existing backlog and stops — call .awaitTermination()."""
    reader = spark.readStream.schema(PAGES_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", int(max_files_per_trigger))
    pages = reader.parquet(input_dir)

    out = run_fused(pages, cfg)

    writer = (out.writeStream
              .format("parquet")
              .option("path", output_dir)
              .option("checkpointLocation", checkpoint_dir)
              .outputMode("append"))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
