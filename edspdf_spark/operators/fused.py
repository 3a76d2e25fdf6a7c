"""Fused extract->classify->aggregate pipeline: ONE Arrow batch map.

Every reference operator is document-local (SURVEY.md §2.9), so the
whole pipeline is an embarrassingly-parallel map: no bloc explosion,
no re-grouping shuffle, no window. The plan is

    scan(url, html) -> [salted repartition] -> mapInArrow -> sink

which is the plan that survives a 100x scale-up: the only shuffle is
the optional skew-defusing repartition, and each Python worker sees
batches of (url, html) as lists and emits (url, label, text, ...)
rows; plans.salt.batch_map owns the Arrow framing.

Per-doc accounting columns (bytes_in, n_blocs, partition_id) ride on
the output so the metrics rollup (plans/metrics.py) is a cheap
aggregate instead of a second parse.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Dict, List, Optional, Sequence, Tuple, Union

from pyspark.sql import DataFrame

from ..kernels.aggregate import aggregate_doc, to_markdown
from ..kernels.alignment import classify_with_masks
from ..kernels.extract import extract_doc
from ..kernels.html import extract_html_text, looks_like_html
from ..plans.salt import batch_map
from ..schemas import FUSED_SCHEMA

# (page_num|None, x0, x1, y0, y1, label) — kernel mask layout
KernelMask = Tuple[Optional[int], float, float, float, float, str]


@dataclass
class PipelineConfig:
    """Everything the reference configures through its registry
    (SURVEY.md §1.4), as one broadcastable value object."""

    masks: List[KernelMask] = field(default_factory=list)
    threshold: float = 1.0
    extract_style: bool = False
    sort: bool = False
    new_line_threshold: float = 0.2
    new_paragraph_threshold: float = 1.5
    label_map: Optional[Dict[str, Union[str, List[str]]]] = None
    markdown: bool = False
    keep_labels: Optional[Sequence[str]] = None  # None => keep all
    # nested §2.7 embedding component spec (plans/config.py
    # parse_embedding_spec); consumed by embeddings.embed_from_spec
    embedding_spec: Optional[Dict] = None


def process_doc(url: str, html: bytes, cfg: PipelineConfig
                ) -> List[Tuple]:
    """One document through the full chain. Returns FUSED_SCHEMA tuples.

    Content sniffing: %PDF payloads take the layout path; HTML
    payloads take the boilerplate-strip path (north rule: the corpus
    is Common-Crawl-style, so both arrive in the same binary column).
    Any exception out of the layout path (extract -> classify ->
    aggregate) becomes the error row, so no document fails its task.
    """
    n_bytes = len(html) if html is not None else 0
    if html is not None and not html.startswith(b"%PDF-") \
            and looks_like_html(html):
        text, stats = extract_html_text(html)
        label = "body" if text else None
        if cfg.keep_labels is not None and label is not None \
                and label not in cfg.keep_labels:
            return []
        return [(url, label, text if text else None, [], False, 1,
                 int(stats["n_blocks"]), n_bytes, -1)]

    try:
        res = extract_doc(html, extract_style=cfg.extract_style)
        if res["error"]:
            return [(url, None, None, [], True, 0, 0, n_bytes, -1)]
        blocs = res["blocs"]
        keys = [(b["page_num"], b["x0"], b["x1"], b["y0"], b["y1"])
                for b in blocs]
        labels = classify_with_masks(cfg.masks, keys,
                                     threshold=cfg.threshold)
        for b, lab in zip(blocs, labels):
            b["label"] = lab
        agg = aggregate_doc(
            blocs, sort=cfg.sort, new_line_threshold=cfg.new_line_threshold,
            new_paragraph_threshold=cfg.new_paragraph_threshold,
            label_map=cfg.label_map)
    except Exception:  # last-resort guard: no kernel raise fails a task
        return [(url, None, None, [], True, 0, 0, n_bytes, -1)]
    rows = []
    for label, t in agg.items():
        if cfg.keep_labels is not None and label not in cfg.keep_labels:
            continue
        text, props = t["text"], t["properties"]
        if cfg.markdown:
            text, props = to_markdown(text, props), []
        rows.append((url, label, text, props, False,
                     int(res["num_pages"]), len(blocs), n_bytes, -1))
    if not rows:
        rows.append((url, None, None, [], False, int(res["num_pages"]),
                     len(blocs), n_bytes, -1))
    return rows


def run_fused(pages: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """pages(url, html, ...) -> FUSED_SCHEMA. Zero-shuffle map.

    One plans.salt.batch_map over (url, html): Arrow in and out, no
    pandas round trip on the large binary payload (worth ~20%
    end-to-end on this pipeline, measured)."""
    from pyspark import TaskContext

    def fn(urls: List[str], htmls: List[bytes]) -> List[Tuple]:
        tc = TaskContext.get()
        pid = tc.partitionId() if tc is not None else -1
        rows: List[Tuple] = []
        for url, html in zip(urls, htmls):
            doc_rows = process_doc(
                url, html if html is not None else b"", cfg)
            rows.extend(r[:-1] + (pid,) for r in doc_rows)
        return list(zip(*rows))

    return batch_map(pages, ["url", "html"], fn, FUSED_SCHEMA)
