"""Pure-Python/numpy document kernels — the byte-identity anchors.

Each kernel replicates one reference component's math exactly
(citations in each module) and is unit-testable without Spark. The
Spark layer (`edspdf_spark.operators`) only ever calls these from
Arrow-batched maps (mapInArrow / mapInPandas), never per row.
"""

from .aggregate import aggregate_doc, to_markdown  # noqa: F401
from .alignment import align_labels, classify_with_masks  # noqa: F401
from .extract import extract_doc  # noqa: F401
from .html import extract_html_text, looks_like_html  # noqa: F401
from .pdf import PdfParseError, build_pdf, parse_pdf  # noqa: F401
from .reading_order import box_lt, reading_order  # noqa: F401
from .styles import walk_line  # noqa: F401
