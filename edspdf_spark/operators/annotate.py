"""Annotation overlay operator — show_annotations for a cluster
(reference visualization/annotations.py:34-130, reimplemented without
pypdfium2/PIL in kernels/pdf.py): each document's classified blocs are
drawn as colored rectangle outlines INTO the PDF itself, so the dump
is viewable in any PDF tool and round-trips through the extractor
unchanged.

Plan shape: one Arrow batch map (plans.salt.batch_map) over (url,
html) — extract, classify, rewrite — zero shuffles, same as the fused
pipeline; pair with sources.writers.write_files for an
annotation-tool export."""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame

from ..kernels.alignment import classify_with_masks
from ..kernels.extract import extract_pages
from ..kernels.pdf import PdfParseError, _read_pdf, annotate_read
from ..plans.salt import batch_map
from .fused import PipelineConfig


def annotate_doc(url: str, html: bytes, cfg: PipelineConfig,
                 colors: Optional[dict] = None) -> bytes:
    """One document: extract -> mask-classify -> overlay. Documents the
    extractor cannot parse (corrupt, HTML payloads) pass through
    unchanged — annotation is best-effort tooling, never a failure.
    The PDF is read once; extraction and overlay share the read."""
    try:
        read = _read_pdf(html)
    except PdfParseError:
        return bytes(html)
    blocs = extract_pages(read[2])["blocs"]
    if not blocs:
        return bytes(html)
    keys = [(b["page_num"], b["x0"], b["x1"], b["y0"], b["y1"])
            for b in blocs]
    labels = classify_with_masks(cfg.masks, keys, threshold=cfg.threshold)
    annotations = [(b["page_num"], b["x0"], b["x1"], b["y0"], b["y1"], lab)
                   for b, lab in zip(blocs, labels)]
    return annotate_read(bytes(html), read, annotations, colors)


def run_annotate(pages: DataFrame, cfg: PipelineConfig,
                 colors: Optional[dict] = None) -> DataFrame:
    """pages(url, html, ...) -> (url, html) with overlay rectangles."""

    def fn(urls, htmls):
        return urls, [annotate_doc(u, h if h is not None else b"",
                                   cfg, colors)
                      for u, h in zip(urls, htmls)]

    return batch_map(pages, ["url", "html"], fn, "url string, html binary")
