#!/usr/bin/env python
"""spark-submit entrypoint for the extraction pipeline.

Deployment (the north rule's `spark-submit --py-files` shape):

    cd /root/repo && python jobs/build_pyfiles.py   # -> dist/edspdf_spark.zip
    spark-submit --master <cluster> \
        --py-files dist/edspdf_spark.zip \
        jobs/run_pipeline.py \
        --input  /path/to/pages_parquet_or_dir \
        --output /path/to/out \
        --masks  '0.1,0.1,0.9,0.9:body' \
        [--synthetic N]        # generate N synthetic docs instead of --input
        [--n-buckets 64]       # checkpoint granularity (resume = re-run)
        [--style] [--markdown] [--threshold 0.1]

Re-running the same command after a failure resumes from the bucket
markers under <output>/_progress (plans/checkpoint.py): each bucket
group runs the fused map once, as its write into <output>/data, then
rolls per-partition metrics up from the rows just written into
<output>/metrics. Resume with the same --n-buckets; a different one
is refused.
"""

from __future__ import annotations

import argparse
import os
import sys

# plain `python jobs/run_pipeline.py` puts jobs/ (not the repo) on
# sys.path; spark-submit --py-files covers executors, this covers the
# driver either way (same stanza as run_webtext/run_refresh)
sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


def parse_masks(spec: str):
    """'x0,y0,x1,y1:label[;...]' -> kernel mask tuples."""
    masks = []
    for part in filter(None, spec.split(";")):
        coords, label = part.rsplit(":", 1)
        x0, y0, x1, y1 = (float(v) for v in coords.split(","))
        masks.append((None, x0, x1, y0, y1, label))
    return masks


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input",
                    help="pages table: parquet path OR catalog table "
                         "name (e.g. an Iceberg table via a "
                         "configured spark.sql.catalog)")
    ap.add_argument("--input-format", default="auto",
                    choices=["auto", "parquet", "iceberg", "table"],
                    help="auto: path-like -> parquet, dotted name -> "
                         "session catalog (Iceberg rides the catalog)")
    ap.add_argument("--synthetic", type=int,
                    help="generate N synthetic docs instead of --input")
    ap.add_argument("--output", required=True)
    ap.add_argument("--masks", default="0.1,0.1,0.9,0.9:body")
    ap.add_argument("--threshold", type=float, default=0.1)
    ap.add_argument("--style", action="store_true")
    ap.add_argument("--markdown", action="store_true")
    ap.add_argument("--sort", action="store_true")
    ap.add_argument("--n-buckets", type=int, default=16)
    ap.add_argument("--buckets-per-job", type=int, default=4)
    ap.add_argument("--partitions", type=int, default=None)
    args = ap.parse_args(argv)
    if not args.input and not args.synthetic:
        ap.error("one of --input / --synthetic is required")

    from pyspark.sql import SparkSession

    from edspdf_spark import synth
    from edspdf_spark.operators import PipelineConfig
    from edspdf_spark.plans import (lineage_row, new_run_id,
                                    run_with_checkpoint)
    from edspdf_spark.sources import read_pages_table

    spark = (SparkSession.builder.appName("edspdf-spark-pipeline")
             .config("spark.sql.adaptive.enabled", "true")
             .getOrCreate())

    if args.synthetic:
        pages = synth.pages_spark(spark, args.synthetic,
                                  num_partitions=args.partitions)
        input_desc = f"synthetic:{args.synthetic}"
    else:
        pages = read_pages_table(spark, args.input,
                                 fmt=args.input_format)
        input_desc = args.input

    cfg = PipelineConfig(
        masks=parse_masks(args.masks), threshold=args.threshold,
        extract_style=args.style or args.markdown,
        markdown=args.markdown, sort=args.sort)

    run_id = new_run_id()
    lineage_row(spark, run_id, input_desc).write.mode("append").parquet(
        f"{args.output}/lineage")
    run_with_checkpoint(pages, cfg, args.output,
                        n_buckets=args.n_buckets,
                        buckets_per_job=args.buckets_per_job,
                        run_id=run_id,
                        num_partitions=args.partitions)
    print(f"run {run_id} complete -> {args.output}/data")
    return 0


if __name__ == "__main__":
    sys.exit(main())
