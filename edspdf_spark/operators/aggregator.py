"""Aggregation operator: labeled blocs -> (url, label, text, properties).

The exact reference kernel (kernels.aggregate, mirroring
pipes/aggregators/simple.py:108-173) applied per document. Physical
strategy: plans.salt.group_map on url — one shuffle, one sort within
partitions, ONE mapInPandas whose kernel walks the whole url groups of
each frame. This is Spark's applyInPandas semantics without its
per-group overhead (one pandas frame per ARROW BATCH instead of one
per url — ~100x fewer Python round-trips when documents are small).

This is the pipeline's ONLY shuffle (co-locate all blocs of a url);
the fused pipeline (operators/fused.py) avoids even that by never
exploding blocs out of the document.

A pure-SQL variant of the separator logic exists (lead() window +
median + concat) but float/median/ordering parity makes the Arrow
kernel the correctness-bearing path (SURVEY.md §2.6); the SQL form is
the independent ORACLE in __spark_entry__, not the engine.
"""

from __future__ import annotations

from typing import Dict, List, Optional, Union

import pandas as pd
from pyspark.sql import DataFrame

from ..kernels.aggregate import aggregate_doc, to_markdown
from ..plans.salt import group_map
from ..schemas import TEXTS_SCHEMA

LabelMap = Dict[str, Union[str, List[str]]]

_IN_COLS = ["url", "page_num", "order_idx", "x0", "x1", "y0", "y1",
            "text", "props", "label", "error"]
_OUT_COLS = ["url", "label", "text", "properties", "error"]


def _agg_one(url: str, blocs: List[dict], error: bool, sort, nl, np_,
             label_map, markdown) -> List[tuple]:
    out = aggregate_doc(blocs, sort=sort, new_line_threshold=nl,
                        new_paragraph_threshold=np_, label_map=label_map)
    rows = []
    for label, t in out.items():
        text, props = t["text"], t["properties"]
        if markdown:
            text, props = to_markdown(text, props), []
        rows.append((url, label, text, props, error))
    if not rows:
        rows.append((url, None, None, [], error))
    return rows


def aggregate(labeled_blocs: DataFrame, sort: bool = False,
              new_line_threshold: float = 0.2,
              new_paragraph_threshold: float = 1.5,
              label_map: Optional[LabelMap] = None,
              markdown: bool = False) -> DataFrame:
    """Group by url and stitch label-wise text. Input needs columns
    url, page_num, order_idx, x0, x1, y0, y1, text, props, label, error."""
    nl, np_ = new_line_threshold, new_paragraph_threshold

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        # plain-list group walk: group_map hands over whole urls sorted
        # by (url, page_num, order_idx), so a per-group pandas
        # sort_values would be a stable no-op, and the groupby/
        # itertuples machinery cost ~10x the kernel on small documents
        rows: List[tuple] = []
        urls = pdf["url"].tolist()
        pages = pdf["page_num"].tolist()
        x0s, x1s = pdf["x0"].tolist(), pdf["x1"].tolist()
        y0s, y1s = pdf["y0"].tolist(), pdf["y1"].tolist()
        texts, labels = pdf["text"].tolist(), pdf["label"].tolist()
        props_col, errs = pdf["props"].tolist(), pdf["error"].tolist()
        n = len(urls)
        i = 0
        while i < n:
            url = urls[i]
            j = i
            error = False
            blocs: List[dict] = []
            while j < n and urls[j] == url:
                if errs[j]:
                    error = True
                if pages[j] >= 0:
                    props = props_col[j]
                    blocs.append({
                        "page_num": int(pages[j]),
                        "x0": float(x0s[j]), "y0": float(y0s[j]),
                        "x1": float(x1s[j]), "y1": float(y1s[j]),
                        "text": texts[j], "label": labels[j],
                        "props": [dict(p) if not isinstance(p, dict)
                                  else p
                                  for p in (props if props is not None
                                            else [])],
                    })
                j += 1
            rows.extend(_agg_one(url, blocs, error, sort, nl, np_,
                                 label_map, markdown))
            i = j
        return pd.DataFrame(rows, columns=_OUT_COLS)

    return group_map(labeled_blocs.select(*_IN_COLS), "url",
                     ["page_num", "order_idx"], fn, TEXTS_SCHEMA)
