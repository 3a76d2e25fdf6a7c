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

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..operators.fused import PipelineConfig, run_fused
from ..schemas import PAGES_SCHEMA


def stream_pages(spark: SparkSession, input_dir: str, output_dir: str,
                 checkpoint_dir: str, cfg: PipelineConfig) -> StreamingQuery:
    """Start (and return) the streaming query: an availableNow trigger
    drains the existing backlog and stops — call .awaitTermination()."""
    pages = spark.readStream.schema(PAGES_SCHEMA).parquet(input_dir)
    return (run_fused(pages, cfg).writeStream
            .format("parquet")
            .option("path", output_dir)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("append")
            .trigger(availableNow=True)
            .start())
