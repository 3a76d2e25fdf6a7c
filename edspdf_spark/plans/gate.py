"""The driver gate of the size-adaptive operators (the postings pair
counter, union-find, PageRank, label propagation): collect a small
input to the driver as one Arrow table, or refuse so the caller stays
distributed. Sizing runs inside the Spark plan and nothing is written
to disk, so the gate routes the same whether or not the driver shares
a disk with the executors. Caps are in-memory (Arrow) bytes, since
what callers build from the table lives uncompressed on the driver.
"""

from __future__ import annotations

from typing import Optional

import pyarrow as pa
from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F  # noqa: N812

# caps of the graph operators' driver paths. The byte cap keeps WIDE
# ids honest (r4 ADVICE): a million 200-byte URL edges is ~400 MB, and
# several times that as Python objects; 32 MiB keeps the driver's
# transient at a couple hundred MB worst case.
EDGE_MAX_ROWS = 1_000_000
EDGE_MAX_BYTES = 32 << 20

_BIGINT_BYTES = 8  # per value of a bigint column (ids, codes, edges)
_OFFSET_BYTES = 4  # per value of any other column, plus its payload


def driver_table(df: DataFrame, max_rows: Optional[int],
                 max_bytes: int) -> Optional[pa.Table]:
    """All of `df` as one Arrow table, or None when it has more than
    `max_rows` rows (None: no row cap) or `max_bytes` Arrow bytes.

    An in-plan count + octet_length aggregate sizes the input BEFORE
    any collect, so a refusal costs one aggregate pass (one row per
    partition crosses the exchange) and wide URLs are never pulled
    just to learn they are too big. Sizing and collect both read the
    input, so it is persisted for them unless the caller has cached
    it already."""
    var = [c for c, t in df.dtypes if t != "bigint"]
    owned = df.storageLevel == StorageLevel.NONE
    if owned:
        df.persist()
    try:
        n, *payload = df.agg(F.count(F.lit(1)), *[
            F.sum(F.octet_length(F.col(c).cast("string"))) for c in var
        ]).first()
        row_bytes = (_BIGINT_BYTES * (len(df.columns) - len(var))
                     + _OFFSET_BYTES * len(var))
        nbytes = n * row_bytes + sum(b or 0 for b in payload)
        if (max_rows is not None and n > max_rows) or nbytes > max_bytes:
            return None
        return df.toArrow()
    finally:
        if owned:
            df.unpersist()
