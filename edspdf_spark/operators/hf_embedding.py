"""huggingface-embedding analog operator: strided-window line
embeddings over extracted blocs.

Reference: /root/reference/edspdf/pipes/embeddings/
huggingface_embedding.py — the HF model is replaced by a frozen
deterministic contextualizer (kernels/hf.py has the full mapping and
line-by-line citations); the windowing / de-overlap / line-pooling /
micro-batching machinery is replicated exactly.

Physical strategy: identical to operators/transformer.py — the window
machinery is PAGE-local (the reference preprocesses per page,
huggingface_embedding.py:166-204), so plans.salt.group_map on url and
a walk over the page groups of each frame. No per-row Python,
deterministic under any partitioning.
"""

from __future__ import annotations

from typing import Dict, List, Optional

import pandas as pd
from pyspark.sql import DataFrame

from ..kernels.hf import hf_page_embed
from ..plans.salt import group_map


def hf_line_embed(blocs: DataFrame, *, dim: int = 8, window: int = 510,
                  stride: int = 255, line_pooling: str = "mean",
                  contextualizer: str = "affine",
                  weights: Optional[Dict] = None,
                  max_tokens_per_device: Optional[int] = None,
                  out_prefix: str = "h") -> DataFrame:
    """blocs(url, page_num, order_idx, text, ...) -> all input columns
    + {out_prefix}0..{out_prefix}{dim-1} (pass-through, so the operator
    composes under embedding-combiner like the other encoders)."""
    in_cols = blocs.columns
    out_cols = [f"{out_prefix}{c}" for c in range(dim)]
    clash = set(out_cols) & set(in_cols)
    assert not clash, f"output prefix collides with input columns {clash}"
    from pyspark.sql.types import DoubleType, StructField, StructType

    out_schema = StructType(
        blocs.schema.fields
        + [StructField(c, DoubleType()) for c in out_cols])

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        rows: List[tuple] = []
        for _key, g in pdf.groupby(["url", "page_num"], sort=False):
            embs = hf_page_embed(
                [t if t is not None else "" for t in g["text"].tolist()],
                dim=dim, window=window, stride=stride, pooling=line_pooling,
                contextualizer=contextualizer, weights=weights,
                max_tokens_per_device=max_tokens_per_device)
            for (_, r), e in zip(g.iterrows(), embs):
                rows.append((*[r[c] for c in in_cols],
                             *[float(v) for v in e]))
        return pd.DataFrame(rows, columns=in_cols + out_cols)

    return group_map(blocs, "url", ["page_num", "order_idx"], fn, out_schema)
