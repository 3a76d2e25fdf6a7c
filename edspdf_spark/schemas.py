"""Explicit StructType schemas for every stage boundary.

Mirrors the reference's document model (SURVEY.md §1.1;
/root/reference/edspdf/structures.py) normalized into tables:
coordinates stay DOUBLE because separator decisions compare float64
ratios (simple.py:159-163); style spans are ARRAY<STRUCT<...>>.
"""

from __future__ import annotations

from pyspark.sql.types import (ArrayType, BinaryType, BooleanType, DoubleType,
                               IntegerType, LongType, StringType, StructField,
                               StructType, TimestampType)

# input table fixed by BASELINE.json input_hint
PAGES_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("warc_ts", TimestampType()),
    StructField("html", BinaryType()),
    StructField("text", StringType()),
    StructField("lang", StringType()),
])

PROPS_TYPE = ArrayType(StructType([
    StructField("italic", BooleanType()),
    StructField("bold", BooleanType()),
    StructField("begin", IntegerType()),
    StructField("end", IntegerType()),
    StructField("fontname", StringType()),
]))

# extractor output: bloc rows plus one doc-marker row per document
# (page_num = -1 carries doc-level num_pages/error/n_blocs so that
# error docs and blank docs survive a single map pass with no second
# parse and no extra shuffle)
BLOCS_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("page_num", IntegerType()),
    StructField("order_idx", IntegerType()),
    StructField("x0", DoubleType()),
    StructField("x1", DoubleType()),
    StructField("y0", DoubleType()),
    StructField("y1", DoubleType()),
    StructField("text", StringType()),
    StructField("props", PROPS_TYPE),
    StructField("num_pages", IntegerType()),
    StructField("error", BooleanType()),
    StructField("n_blocs", IntegerType()),
])

# aggregated output (reference Text objects keyed by label,
# structures.py:237-259)
TEXTS_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("label", StringType()),
    StructField("text", StringType()),
    StructField("properties", PROPS_TYPE),
    StructField("error", BooleanType()),
])

# fused pipeline also reports per-doc accounting for metrics rollup
FUSED_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("label", StringType()),
    StructField("text", StringType()),
    StructField("properties", PROPS_TYPE),
    StructField("error", BooleanType()),
    StructField("num_pages", IntegerType()),
    StructField("n_blocs", IntegerType()),
    StructField("bytes_in", LongType()),
    StructField("partition_id", IntegerType()),
])

MASKS_SCHEMA = StructType([
    StructField("name", StringType()),
    StructField("label", StringType()),
    StructField("x0", DoubleType()),
    StructField("y0", DoubleType()),
    StructField("x1", DoubleType()),
    StructField("y1", DoubleType()),
    StructField("page_num", IntegerType()),   # null => all pages
    StructField("priority", IntegerType()),   # mask order (argmax tie-break)
])
