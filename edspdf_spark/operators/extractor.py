"""Extraction operator: pages(url, html BINARY, ...) -> bloc rows.

Spark-first design: ONE Arrow batch map (plans.salt.batch_map) over
the scanned pages — the parse is a third-party-style library call per
document, so the only meaningful vectorization axis is Arrow batch
granularity (SURVEY.md §2.4). No per-row Python UDFs; no shuffle is
introduced here (the upstream salted repartition is the caller's
choice, see plans/salt.py).

Each document emits its blocs PLUS one doc-marker row (page_num=-1)
carrying num_pages/error/n_blocs, so error docs and blank docs survive
the pass without a second parse:

    blocs(df)       -> rows with page_num >= 0
    doc_summaries(df) -> rows with page_num == -1

Reference semantics: pipes/extractors/pdfminer.py:117-194 (see
kernels.extract for the exact rules).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F  # noqa: N812

from ..kernels.extract import extract_doc
from ..plans.salt import batch_map
from ..schemas import BLOCS_SCHEMA


def _extract_batch(urls, htmls, extract_style: bool):
    rows = []
    for url, html in zip(urls, htmls):
        res = extract_doc(html if html is not None else b"",
                          extract_style=extract_style)
        n = len(res["blocs"])
        rows.append((url, -1, -1, 0.0, 0.0, 0.0, 0.0, "", [],
                     int(res["num_pages"]), bool(res["error"]), n))
        for idx, b in enumerate(res["blocs"]):
            rows.append((url, int(b["page_num"]), idx,
                         float(b["x0"]), float(b["x1"]),
                         float(b["y0"]), float(b["y1"]),
                         str(b["text"]), list(b["props"]),
                         int(res["num_pages"]), False, n))
    return list(zip(*rows))


def extract(pages: DataFrame, extract_style: bool = False) -> DataFrame:
    """pages -> BLOCS_SCHEMA rows (blocs + doc markers).

    Column pruning: only url+html are shipped into the Python worker;
    Catalyst pushes the projection into the scan.
    """
    return batch_map(pages, ["url", "html"],
                     lambda urls, htmls: _extract_batch(urls, htmls,
                                                        extract_style),
                     BLOCS_SCHEMA)


def blocs(extracted: DataFrame) -> DataFrame:
    """Only the text blocs (drops doc-marker rows)."""
    return extracted.where(F.col("page_num") >= 0)


def doc_summaries(extracted: DataFrame) -> DataFrame:
    """One row per document: url, num_pages, error, n_blocs."""
    return (extracted.where(F.col("page_num") == -1)
            .select("url", "num_pages", "error", "n_blocs"))
