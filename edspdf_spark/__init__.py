"""edspdf_spark — a PySpark-native document text-extraction engine.

A from-scratch reimplementation of the capabilities of `aphp/edspdf`
(reference at /root/reference, v0.10.0) designed Spark-first:

* pages table (url, warc_ts, html BINARY, text, lang) -> extract ->
  classify -> aggregate, all expressed as DataFrame transforms whose
  document-local math runs in Arrow-batched maps (mapInArrow,
  mapInPandas), never per-row UDFs
* every reference operator is document-local (SURVEY.md §2.9), so the
  hot path is an embarrassingly-parallel map: the fused pipeline runs
  extract+classify+aggregate in ONE mapInArrow with ZERO shuffles
* skew defused by salted repartition on url-hash + payload size
* checkpoint/resume via bucketed runs; per-partition lineage+metrics
"""

__version__ = "0.1.0"
