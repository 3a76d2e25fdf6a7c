"""Checkpoint/resume for long backfills (SURVEY.md §4 custom work #2).

The reference has no resume — a failed run restarts from zero. Here a
run is cut into key-hash BUCKETS (pmod(xxhash64(key), n_buckets)) that
both runners commit through one loop. Per group of unfinished buckets
the stage runs once, as the write into data/bucket=<b>/ with dynamic
partition overwrite (a re-run bucket REPLACES its dir: no duplicates);
the group's metrics are rolled up from a pruned read of the bucket
dirs just written (nothing cached, no second stage run) into
metrics/run_<run_id>_g<first bucket>/; last, _progress/<b>.json
markers record the run and the bucket layout. Restart skips marked
buckets and re-runs the rest; a restart under another n_buckets or
key_col is refused, since it would write committed rows twice. This is
the parquet-dir form of an Iceberg MERGE-by-partition watermark table.
Buckets run in groups so each Spark job still spans many partitions.
"""

from __future__ import annotations

import json
import os
import time
from typing import List, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F  # noqa: N812

from ..operators.fused import PipelineConfig, run_fused
from .metrics import metrics_from_fused, new_run_id
from .salt import bucket_of, defuse_skew


def _marker_path(out_dir: str, bucket: int) -> str:
    return os.path.join(out_dir, "_progress", f"{bucket}.json")


def done_buckets(out_dir: str, n_buckets: int) -> List[int]:
    return [b for b in range(n_buckets)
            if os.path.exists(_marker_path(out_dir, b))]


def _check_layout(out_dir: str, layout: dict) -> None:
    progress = os.path.join(out_dir, "_progress")
    for name in sorted(os.listdir(progress)):
        if name.endswith(".json"):
            with open(os.path.join(progress, name)) as f:
                marker = json.load(f)
            got = {k: marker.get(k, v) for k, v in layout.items()}
            if got != layout:
                raise ValueError(
                    f"{out_dir} holds buckets committed with layout "
                    f"{got}; this run asks for {layout}")


def _commit_buckets(df: DataFrame, stage_fn, rollup, out_dir: str,
                    key_col: str, n_buckets: int, buckets_per_job: int,
                    run_id: Optional[str],
                    fail_after_buckets: Optional[int]) -> str:
    """The commit loop of the module docstring; `rollup(written,
    run_id)` turns a group's committed rows into its metrics."""
    run_id = run_id or new_run_id()
    os.makedirs(os.path.join(out_dir, "_progress"), exist_ok=True)
    layout = {"n_buckets": n_buckets, "key_col": key_col}
    _check_layout(out_dir, layout)

    done = set(done_buckets(out_dir, n_buckets))
    todo = [b for b in range(n_buckets) if b not in done]
    data_dir = os.path.join(out_dir, "data")
    bucket = bucket_of(F.col(key_col), n_buckets)
    committed = 0
    for i in range(0, len(todo), buckets_per_job):
        group = todo[i:i + buckets_per_job]
        # bucket recomputed on the stage's (tiny) output rows
        out = stage_fn(df.where(bucket.isin(group))).withColumn("bucket",
                                                                bucket)
        (out.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(data_dir))
        written = (df.sparkSession.read.schema(out.schema).parquet(data_dir)
                   .where(F.col("bucket").isin(group)))
        (rollup(written, run_id).write.mode("overwrite")
            .parquet(os.path.join(out_dir, "metrics",
                                  f"run_{run_id}_g{group[0]}")))
        for b in group:
            with open(_marker_path(out_dir, b) + ".tmp", "w") as f:
                json.dump({"run_id": run_id, "bucket": b, **layout,
                           "committed_at": time.time()}, f)
            os.replace(_marker_path(out_dir, b) + ".tmp",
                       _marker_path(out_dir, b))
            committed += 1
            if fail_after_buckets is not None and committed >= fail_after_buckets:
                raise RuntimeError(
                    f"simulated crash after {committed} buckets")
    return run_id


def run_with_checkpoint(pages: DataFrame, cfg: PipelineConfig, out_dir: str,
                        n_buckets: int = 8, buckets_per_job: int = 4,
                        run_id: Optional[str] = None,
                        fail_after_buckets: Optional[int] = None,
                        num_partitions: Optional[int] = None) -> str:
    """Process pages into out_dir with bucket-granular resume; metrics
    are metrics_from_fused rows, one per task partition.

    fail_after_buckets: test hook — raise after committing that many
    buckets, simulating a mid-run crash.
    """
    return _commit_buckets(
        pages, lambda s: run_fused(defuse_skew(s, num_partitions), cfg),
        metrics_from_fused, out_dir, "url", n_buckets, buckets_per_job,
        run_id, fail_after_buckets)


def read_result(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(out_dir, "data"))


def _rows_per_bucket(written: DataFrame, run_id: str) -> DataFrame:
    return (written.groupBy("bucket")
            .agg(F.count("*").alias("rows_out"))
            .withColumn("run_id", F.lit(run_id))
            .withColumn("committed_at", F.lit(time.time())))


def run_stage_with_checkpoint(df: DataFrame, stage_fn, out_dir: str,
                              key_col: str = "url",
                              n_buckets: int = 8,
                              buckets_per_job: int = 4,
                              run_id: Optional[str] = None,
                              fail_after_buckets: Optional[int] = None
                              ) -> str:
    """run_with_checkpoint for ANY bucket-decomposable stage:
    `stage_fn(subset_df) -> DataFrame` must be row-local or
    bucket-local (doc-level filters, scoring, per-doc rebuilds) and
    must keep `key_col` in its output; metrics are per-bucket row
    counts. Corpus-GLOBAL operators (exact dedup across buckets,
    connected components) belong in a follow-on pass over the
    committed output — the standard two-phase production shape: clean
    per-shard with resume, then one global pass over the (much
    smaller) survivors.
    """
    return _commit_buckets(df, stage_fn, _rows_per_bucket, out_dir,
                           key_col, n_buckets, buckets_per_job, run_id,
                           fail_after_buckets)
