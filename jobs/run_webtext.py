#!/usr/bin/env python
"""spark-submit entrypoint for the web-corpus cleaning pipeline.

The training-data analog of jobs/run_pipeline.py: document-local
filters run bucket-by-bucket with checkpoint/resume, then the
corpus-GLOBAL dedup runs once over the (much smaller) survivor set —
the standard two-phase production shape.

    cd /root/repo && python jobs/build_pyfiles.py   # -> dist/edspdf_spark.zip
    spark-submit --master <cluster> \
        --py-files dist/edspdf_spark.zip \
        jobs/run_webtext.py \
        --input  /path/to/documents_parquet \
        --output /path/to/out \
        [--id-col doc_id] [--text-col text] \
        [--badwords w1,w2,...] [--n-buckets 16]

Stage 1 (per bucket, resumable via <output>/_progress markers; the
same commit loop as jobs/run_pipeline.py, plans/checkpoint.py):
  Gopher quality rules + Gopher repetition rules + bad-word filter +
  PII scrub — each doc keeps its per-rule verdicts, survivors carry
  scrubbed text. Per-bucket row counts, read back from the committed
  rows, land in <output>/metrics/. Resume with the same --n-buckets.
Stage 2 (global, idempotent overwrite):
  exact dedup over survivors (first occurrence per content hash) ->
  <output>/clean. Funnel counts land in <output>/funnel.json.

Re-running the same command after a failure resumes stage 1 from the
bucket markers; stage 2 re-runs from the committed stage-1 data.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# plain `python jobs/run_webtext.py` puts jobs/ (not the repo) on
# sys.path; spark-submit --py-files covers executors, this covers the
# driver either way
sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


def clean_stage(badwords, id_col: str, text_col: str, stopwords=None):
    """Composed doc-local filter: returns (id, url-key, scrubbed text,
    keep flags per rule, keep)."""
    from pyspark.sql import functions as F  # noqa: N812

    from edspdf_spark.operators.analysis import (gopher_quality,
                                                 gopher_repetition,
                                                 mojibake_columns,
                                                 pii_scrub,
                                                 word_blocklist_filter)

    def fn(df):
        # encoding repair FIRST (the ftfy position in production
        # pipelines): downstream rules judge the repaired text. One
        # projection — both outputs reference the pre-repair column,
        # so no join and no double scan.
        fixed, n_moji = mojibake_columns(F.col(text_col))
        df = df.withColumns({text_col: fixed,
                             "n_mojibake_fixes": n_moji})
        gq = gopher_quality(df, id_col, text_col,
                            stopwords=stopwords).select(
            "id", F.col("keep").alias("keep_quality"))
        gr = gopher_repetition(df, id_col, text_col).select(
            "id", F.col("keep").alias("keep_repetition"))
        bw = word_blocklist_filter(df, badwords, id_col, text_col).select(
            "id", F.col("keep").alias("keep_badwords"))
        pii = pii_scrub(df, id_col, text_col).select(
            "id", F.col("text").alias("scrubbed_text"),
            (F.col("n_emails") + F.col("n_phones") + F.col("n_ips"))
            .alias("n_pii"))
        out = (df.select(F.col(id_col).alias("id"),
                         "n_mojibake_fixes")
               .join(gq, "id").join(gr, "id").join(bw, "id")
               .join(pii, "id"))
        return (out.withColumn(
            "keep", F.col("keep_quality") & F.col("keep_repetition")
            & F.col("keep_badwords"))
            .withColumnRenamed("id", id_col))  # bucket key keeps its name

    return fn


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True,
                    help="documents table: parquet path or catalog "
                         "table name (Iceberg via spark.sql.catalog)")
    ap.add_argument("--input-format", default="auto",
                    choices=["auto", "parquet", "iceberg", "table"])
    ap.add_argument("--output", required=True)
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--badwords", default="")
    ap.add_argument("--stopwords", default="",
                    help="comma list for the Gopher stopword rule "
                         "(default: the paper's 8 English words; the "
                         "rule is language/corpus specific)")
    ap.add_argument("--n-buckets", type=int, default=16)
    ap.add_argument("--buckets-per-job", type=int, default=4)
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F  # noqa: N812

    from edspdf_spark.functions import code15
    from edspdf_spark.plans import (lineage_row, new_run_id,
                                    run_stage_with_checkpoint)

    spark = (SparkSession.builder.appName("edspdf-spark-webtext")
             .config("spark.sql.adaptive.enabled", "true")
             .getOrCreate())

    from edspdf_spark.sources import read_pages_table
    docs = read_pages_table(spark, args.input, fmt=args.input_format)
    n_in = docs.count()
    badwords = [w for w in args.badwords.split(",") if w]

    run_id = new_run_id()
    lineage_row(spark, run_id, args.input).write.mode("append").parquet(
        f"{args.output}/lineage")

    stopwords = ([w for w in args.stopwords.split(",") if w]
                 or None)

    # stage 1: doc-local filters, bucket-resumable
    run_stage_with_checkpoint(
        docs, clean_stage(badwords, args.id_col, args.text_col,
                          stopwords=stopwords),
        args.output, key_col=args.id_col,
        n_buckets=args.n_buckets, buckets_per_job=args.buckets_per_job,
        run_id=run_id)

    # stage 2: global exact dedup over survivors (idempotent overwrite)
    cleaned = spark.read.parquet(f"{args.output}/data")
    survivors = cleaned.where("keep")
    n_kept = survivors.count()
    from pyspark.sql import Window
    w = (Window.partitionBy("content_code")
         .orderBy(args.id_col))
    deduped = (survivors
               .withColumn("content_code", code15(F.col("scrubbed_text")))
               .withColumn("rn", F.row_number().over(w))
               .where(F.col("rn") == 1).drop("rn"))
    deduped.write.mode("overwrite").parquet(f"{args.output}/clean")
    n_final = spark.read.parquet(f"{args.output}/clean").count()

    funnel = {"run_id": run_id, "rows_in": n_in, "rows_kept": n_kept,
              "rows_after_dedup": n_final}
    with open(os.path.join(args.output, "funnel.json"), "w") as fh:
        json.dump(funnel, fh)
    print(json.dumps(funnel))
    return 0


if __name__ == "__main__":
    sys.exit(main())
