"""Classifier operators over bloc rows.

Two interchangeable mask-classifier implementations:

* `mask_classify` — Spark-NATIVE: broadcast-join blocs x masks with
  the overlap math as built-in column expressions (JVM-side,
  whole-stage codegen) and a row_number window for the first-max-wins
  argmax. The expression order mirrors the reference numpy kernel
  (utils/alignment.py:37-55) operation for operation, so float64
  results bit-match.
* `kernels.alignment.classify_with_masks` is the same math as a numpy
  kernel, called inside the fused pipeline (operators/fused.py) when
  the whole pipeline runs in one map pass.

Plus the reference's trivial classifiers: dummy (withColumn lit) and
random (np.random.default_rng per doc, chaos/testing only —
pipes/classifiers/random.py:37-47).

Scale notes: masks are a handful of rows -> always broadcast; the
argmax window partitions by (url, page_num, order_idx) which is
already unique per bloc, so Spark plans it as a local sort within the
join output — no extra shuffle when blocs are already partitioned by
url upstream. For the zero-shuffle path use the fused pipeline.
"""

from __future__ import annotations

from typing import Dict, List, Optional, Sequence, Tuple, Union

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F  # noqa: N812

from ..plans.salt import group_map
from ..schemas import MASKS_SCHEMA

# (name, label, x0, y0, x1, y1, page_num|None)
MaskSpec = Tuple[str, str, float, float, float, float, Optional[int]]

POLLUTION = ("__catch_all__", "pollution", -10000.0, -10000.0, 10000.0,
             10000.0, None)


def masks_df(spark: SparkSession, masks: Sequence[MaskSpec],
             add_catch_all: bool = True) -> DataFrame:
    """Materialize mask specs (priority = list order; the catch-all
    pollution mask is appended last, mirroring mask.py:204-212)."""
    rows = [(m[0], m[1], float(m[2]), float(m[3]), float(m[4]), float(m[5]),
             m[6], i) for i, m in enumerate(masks)]
    if add_catch_all:
        p = POLLUTION
        rows.append((p[0], p[1], p[2], p[3], p[4], p[5], p[6], len(rows)))
    return spark.createDataFrame(rows, schema=MASKS_SCHEMA)


def mask_classify(blocs: DataFrame, masks: DataFrame,
                  threshold: float = 1.0) -> DataFrame:
    """Label blocs with the winning mask, Spark-natively.

    Adds a `label` column. Overlap math (alignment.py:37-55):
      dx = min(m.x1, b.x1) - max(m.x0, b.x0)   (clamped at 0)
      overlap = dx*dy; areas of 0 treated as 1
      score = overlap/src_area, zeroed when overlap/dst_area < threshold
      winner = first max over masks in priority order
    """
    m = F.broadcast(masks.select(
        F.col("label").alias("_m_label"),
        F.col("x0").alias("_mx0"), F.col("y0").alias("_my0"),
        F.col("x1").alias("_mx1"), F.col("y1").alias("_my1"),
        F.col("page_num").alias("_m_page"),
        F.col("priority").alias("_m_priority"),
    ))

    # inner join: a bloc whose page matches NO mask row is dropped —
    # the same behavior as the reference's per-page alignment with an
    # empty source set (alignment.py:19-20 returns []). This cannot
    # happen through masks_df(add_catch_all=True) (page_num=None mask
    # matches everything); with add_catch_all=False the caller opts
    # into reference drop semantics.
    joined = blocs.join(
        m, F.col("_m_page").isNull() | (F.col("_m_page") == F.col("page_num")),
        "inner")

    dx = F.least("_mx1", "x1") - F.greatest("_mx0", "x0")
    dy = F.least("_my1", "y1") - F.greatest("_my0", "y0")
    overlap = F.greatest(dx, F.lit(0.0)) * F.greatest(dy, F.lit(0.0))
    src_area_raw = (F.col("_mx1") - F.col("_mx0")) * (F.col("_my1") - F.col("_my0"))
    dst_area_raw = (F.col("x1") - F.col("x0")) * (F.col("y1") - F.col("y0"))
    src_area = F.when(src_area_raw == 0.0, F.lit(1.0)).otherwise(src_area_raw)
    dst_area = F.when(dst_area_raw == 0.0, F.lit(1.0)).otherwise(dst_area_raw)
    score = F.when(overlap / dst_area < F.lit(float(threshold)),
                   F.lit(0.0)).otherwise(overlap / src_area)

    scored = joined.withColumn("_score", score)
    w = (Window.partitionBy("url", "page_num", "order_idx")
         .orderBy(F.desc("_score"), F.asc("_m_priority")))
    out_cols = [c for c in blocs.columns if c != "label"]
    return (scored
            .withColumn("_rank", F.row_number().over(w))
            .where(F.col("_rank") == 1)
            .select(*out_cols, F.col("_m_label").alias("label")))


def dummy_classify(blocs: DataFrame, label: str = "body") -> DataFrame:
    """Constant label (pipes/classifiers/dummy.py:30-34)."""
    return blocs.withColumn("label", F.lit(label))


def random_classify(blocs: DataFrame,
                    labels: Union[List[str], Dict[str, float]],
                    seed: int = 0) -> DataFrame:
    """Chaos classifier (pipes/classifiers/random.py:37-47).

    The reference draws ONE numpy stream sequentially across documents
    in processing order — but its own multiprocessing backend returns
    docs in scheduler-dependent order (multiprocessing.py:761-765), so
    cross-doc stream parity is ill-defined there. This distributed
    variant is the deterministic analog: each document gets an
    independent stream, np.random.default_rng([seed, doc_key]),
    identical under any partitioning and parallelism. doc_key is the
    url's whole UTF-8 encoding behind one 0x01 byte, read as a
    big-endian integer: every byte counts, and distinct urls get
    distinct keys. Per-doc draws use the reference's
    rng.choice(labels, p=probs, size=n_blocs), in (page_num, order_idx)
    order.
    """
    import numpy as np
    import pandas as pd

    if isinstance(labels, list):
        labels = {c: 1 for c in labels}
    total = sum(labels.values())
    names = list(labels.keys())
    probs = [w / total for w in labels.values()]

    schema_out = blocs.drop("label").withColumn("label", F.lit("")).schema

    def _one(pdf: pd.DataFrame) -> pd.DataFrame:
        url = str(pdf["url"].iloc[0])
        doc_key = int.from_bytes(b"\1" + url.encode("utf-8"), "big")
        rng = np.random.default_rng(seed=[seed, doc_key])
        pdf = pdf.drop(columns=[c for c in ("label",) if c in pdf.columns])
        pdf["label"] = rng.choice(names, p=probs, size=len(pdf))
        return pdf

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.concat([_one(g) for _, g in pdf.groupby("url", sort=False)],
                         ignore_index=True)

    return group_map(blocs, "url", ["page_num", "order_idx"], fn, schema_out)
