"""PDF bytes -> positioned text blocs, with the reference extractor's
exact post-parse semantics (`/root/reference/edspdf/pipes/extractors/
pdfminer.py:117-194`):

* per page: coordinates normalized to page size with the y axis
  flipped (x0=x0/w, x1=x1/w, y0=1-top/h, y1=1-bottom/h) — y0 is the
  TOP and y1 the BOTTOM of the bloc after the flip (pdfminer.py:167-170)
* empty-text lines dropped (pdfminer.py:161-162)
* out-of-[0,1] boxes dropped (pdfminer.py:181)
* per-page reading-order sort via the Box.__lt__ relation
  (pdfminer.py:176-184, structures.py:197-234)
* parse failure => error=True, zero pages, unless raise_on_error
  (pdfminer.py:128-135)

The parse itself is `kernels.pdf.parse_pdf`, a self-built parser;
pdfminer.six is not a dependency.
"""

from __future__ import annotations

from typing import Dict, List

from .pdf import PdfParseError, parse_pdf
from .reading_order import reading_order
from .styles import walk_line, walk_line_text


Bloc = Dict[str, object]


def extract_doc(content: bytes, extract_style: bool = False,
                raise_on_error: bool = False) -> Dict[str, object]:
    """Extract one document.

    Returns {"error": bool, "num_pages": int,
             "pages": [(width, height), ...],
             "blocs": [ {page_num, x0, x1, y0, y1, text, props}, ...]}
    with blocs already in reading order (per page, pages concatenated).
    """
    try:
        parsed = parse_pdf(content)
    except PdfParseError:
        if raise_on_error:
            raise
        return {"error": True, "num_pages": 0, "pages": [], "blocs": []}
    return extract_pages(parsed, extract_style)


def extract_pages(parsed, extract_style: bool = False) -> Dict[str, object]:
    """extract_doc over pages `parse_pdf` already returned."""
    blocs: List[Bloc] = []
    pages = []
    for page in parsed:
        w, h = page.width, page.height
        pages.append((w, h))
        page_blocs: List[Bloc] = []
        for line in page.lines:
            if extract_style:
                text, props = walk_line(line.chars)
            else:
                # text-only fast path: same normalized text (pinned
                # differentially), no span accounting
                text, props = walk_line_text(line.runs), []
            if len(text) == 0:
                continue
            page_blocs.append({
                "page_num": page.page_num,
                "x0": line.x0 / w,
                "x1": line.x1 / w,
                "y0": 1 - line.y1 / h,
                "y1": 1 - line.y0 / h,
                "text": text,
                "props": props,
            })
        kept = [b for b in page_blocs
                if b["x0"] >= 0 and b["y0"] >= 0 and b["x1"] <= 1 and b["y1"] <= 1]
        order = reading_order(
            [(b["page_num"], b["x0"], b["x1"], b["y0"], b["y1"]) for b in kept]
        )
        blocs.extend(kept[i] for i in order)

    return {"error": False, "num_pages": len(pages), "pages": pages,
            "blocs": blocs}

