"""The driver gate of the size-adaptive operators (shingling, the
postings pair counter, the minhash pass, union-find, PageRank, label
propagation): collect a small input to the driver as one Arrow table,
or refuse so the caller stays distributed. Sizing runs inside the
Spark plan and nothing is written to disk, so the gate routes the same
whether or not the driver shares a disk with the executors. Caps are
in-memory (Arrow) bytes, since what callers build from the table lives
uncompressed on the driver.

run_gated is the one rule around the gate, used by the pair operators
and minhash_lsh_pairs (operators/dedup.py), connected_components and
the host-graph fixpoints: cache the input for the call (never a driver
frame or a caller's cache), ask the gate once, run the driver path or
else the distributed one on the cached input, release only the cache
it made. shingle_table's text gate calls driver_table alone: its
fallback reads a plain scan once.

A frame a driver path built (driver_frame) is known on the driver: the
gate sizes and returns its table with no Spark job, so a chain of
driver paths pays one collect at its head.
"""

from __future__ import annotations

import weakref
from typing import Optional, Sequence

import pyarrow as pa
import pyarrow.compute as pc
from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F  # noqa: N812

# caps of the graph operators' driver paths. The byte cap keeps WIDE
# ids honest (r4 ADVICE): a million 200-byte URL edges is ~400 MB, and
# several times that as Python objects; 32 MiB keeps the driver's
# transient at a couple hundred MB worst case.
EDGE_MAX_ROWS = 1_000_000
EDGE_MAX_BYTES = 32 << 20

_BIGINT_BYTES = 8  # per value of a bigint column (ids, codes, edges)
_OFFSET_BYTES = 4  # per value of any other column, plus its payload


# the tables of driver-built frames, keyed by the frame object itself:
# a frame derived from one (select, join, ...) is a new object, so it
# is never mistaken for the table; an entry dies with its frame
_DRIVER_TABLES: "weakref.WeakKeyDictionary[DataFrame, pa.Table]" = \
    weakref.WeakKeyDictionary()


def driver_frame(spark: SparkSession, table: pa.Table) -> DataFrame:
    """`table` as a DataFrame (a local relation) that driver_table
    answers from `table` itself, with no Spark job."""
    df = spark.createDataFrame(table)
    _DRIVER_TABLES[df] = table
    return df


def driver_table(df: DataFrame, max_rows: Optional[int], max_bytes: int,
                 columns: Optional[Sequence[str]] = None
                 ) -> Optional[pa.Table]:
    """`df`'s `columns` (default: all) as one Arrow table, or None
    when they have more than `max_rows` rows (None: no row cap) or
    `max_bytes` Arrow bytes: 8 per bigint value, a 4-byte offset plus
    the UTF-8 bytes of its string form per other value.

    A driver_frame is sized from its own table, with no Spark job.
    Otherwise count + octet_length metrics observed on one pass to a
    noop sink size the input BEFORE any collect, so a refusal costs
    one scan (no exchange: one job, where an aggregate runs two) and
    wide URLs are never pulled just to learn they are too big.
    Sizing and collect each read `df`: a caller whose input is costly
    to recompute caches it first (a cache of a plain scan costs more
    on a refusal than the second read saves on a pass)."""
    columns = list(columns or df.columns)
    var = [c for c, t in df.dtypes if c in columns and t != "bigint"]
    row_bytes = (_BIGINT_BYTES * (len(columns) - len(var))
                 + _OFFSET_BYTES * len(var))

    def fits(n, payload):
        return ((max_rows is None or n <= max_rows)
                and n * row_bytes + sum(b or 0 for b in payload)
                <= max_bytes)

    table = _DRIVER_TABLES.get(df)
    if table is not None:
        table = table.select(columns)
        payload = [pc.sum(pc.binary_length(table[c].cast(pa.string())))
                   .as_py() for c in var]
        return table if fits(table.num_rows, payload) else None
    df = df.select(*columns)
    size = Observation()
    df.observe(size, F.count(F.lit(1)).alias("n"), *[
        F.sum(F.octet_length(F.col(c).cast("string"))).alias(f"b{i}")
        for i, c in enumerate(var)
    ]).write.format("noop").mode("overwrite").save()
    n, *payload = size.get.values()
    return df.toArrow() if fits(n, payload) else None


def run_gated(df: DataFrame, max_rows: Optional[int], max_bytes: int,
              columns: Optional[Sequence[str]], driver,
              distributed) -> DataFrame:
    """`driver(table)` on `df`'s driver_table (`max_rows`, `max_bytes`,
    `columns`), or `distributed(df)` when the gate refuses or `driver`
    returns None. `df` is cached for the call unless it is a local
    relation or already cached, and only that cache is released: a
    lazy result reads `df` uncached, so a path that reads it twice
    materializes its result before returning."""
    owned = not df.isLocal() and df.storageLevel == StorageLevel.NONE
    if owned:
        df.persist()
    try:
        table = driver_table(df, max_rows, max_bytes, columns)
        out = None if table is None else driver(table)
        return distributed(df) if out is None else out
    finally:
        if owned:
            df.unpersist()
