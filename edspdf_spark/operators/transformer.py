"""Box-transformer operator: page-local contextualization of bloc
embeddings (reference pipes/embeddings/box_transformer.py wiring the
BoxTransformerModule; numpy inference kernel in kernels/transformer.py).

Physical strategy: the transformer attends WITHIN a page (the
reference refolds to ("page", "line"), box_transformer.py:243), so the
operator runs plans.salt.group_map on url and walks the page groups of
each frame — one shuffle, one mapInPandas, no per-group applyInPandas
overhead. Output is deterministic under any partitioning: each page's
float64 computation is self-contained and its rows arrive sorted by
order_idx."""

from __future__ import annotations

from typing import Dict, List

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..kernels.transformer import box_transformer_page
from ..plans.salt import group_map


def box_transformer_embed(blocs: DataFrame, weights: Dict,
                          in_prefix: str = "b", out_prefix: str = "z"
                          ) -> DataFrame:
    """blocs with (url, page_num, order_idx, x0, x1, y0, y1,
    {in_prefix}0..{in_prefix}{size-1}) -> + {out_prefix}* contextualized
    columns."""
    size = weights["size"]
    in_cols = [f"{in_prefix}{c}" for c in range(size)]
    keep = ["url", "page_num", "order_idx", "x0", "x1", "y0", "y1"] + in_cols
    out_schema = ", ".join(
        ["url string", "page_num int", "order_idx int"]
        + [f"{out_prefix}{c} double" for c in range(size)])
    cols = (["url", "page_num", "order_idx"]
            + [f"{out_prefix}{c}" for c in range(size)])

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        rows: List[tuple] = []
        for _key, g in pdf.groupby(["url", "page_num"], sort=False):
            E = g[in_cols].to_numpy(dtype=np.float64)
            boxes = {
                "x0": g["x0"].to_numpy(np.float64),
                "x1": g["x1"].to_numpy(np.float64),
                "y0": g["y0"].to_numpy(np.float64),
                "y1": g["y1"].to_numpy(np.float64),
            }
            boxes["width"] = boxes["x1"] - boxes["x0"]
            boxes["height"] = boxes["y1"] - boxes["y0"]
            Z = box_transformer_page(weights, E, boxes)
            for (_, r), z in zip(g.iterrows(), Z):
                rows.append((r["url"], int(r["page_num"]),
                             int(r["order_idx"]), *[float(v) for v in z]))
        return pd.DataFrame(rows, columns=cols)

    return group_map(blocs.select(*keep), "url", ["page_num", "order_idx"],
                     fn, out_schema)
