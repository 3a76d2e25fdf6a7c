"""Skew defusal for heavy-tailed document sizes, and the scaffolds
that frame the Python stages' Arrow batches.

Scaffolds: `batch_map` is the one mapInArrow framing (select the
input columns, hand the kernel one Python list per column, build
typed Arrow arrays from its output, skip empty batches); `doc_map` is
batch_map over (id, text) behind `spread_compute`; `group_map` is the
group-local mapInPandas. A kernel owns only its per-row or per-group
math. tests/test_plan_quality.py lists the few stages that stay
hand-framed, each with its reason.

Skew defusal:

At 10^12-document scale a partition that happens to collect several
5000-page PDFs stalls the stage (SURVEY.md §7.4). The reference's
analog is batch_by="content_boxes" + sort_chunks
(processing/utils.py:43-85); ours is partition-level:

Default strategy: ONE hash repartition on xxhash64(url) with a
partition count finer than the core count. Documents are indivisible
rows, so a uniform hash already spreads oversized documents as evenly
as any assignment can; fine-grained partitions + Spark's task
scheduler absorb the residual per-partition cost variance.

`two_phase=True` additionally decorrelates oversized documents from
the url-hash layout, for corpora with truly pathological size tails:
oversized rows key on their scan arrival index
(monotonically_increasing_id) instead of the url, so whale placement
is independent of url clustering and of the normal rows' layout. It
costs nothing extra by plan shape: ONE scan and ONE shuffle with the
partition key switched per row. (The earlier filter-into-two-branches
+ union formulation double-scanned the source and double-shuffled for
the same expected spread — Spark's round-robin repartition reseeds
per source partition, so it never guaranteed whale-per-partition
either; it was 40% slower on this corpus and the r4 bench's
two_phase premium.)

AQE (spark.sql.adaptive.enabled) further splits skewed shuffle
partitions at runtime; explicit numPartitions here also prevents AQE
from coalescing the shuffle below the core count, which would starve
the CPU-heavy Python stage — shuffle-size heuristics see bytes, not
parse cost.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F  # noqa: N812

DEFAULT_OVERSIZE_BYTES = 1 << 20  # 1 MiB of PDF bytes ~ hundreds of pages


def _width(df: DataFrame) -> int:
    """Explicit shuffle width: finer than the core count."""
    return df.sparkSession.sparkContext.defaultParallelism * 2


def defuse_skew(pages: DataFrame, num_partitions: Optional[int] = None,
                oversize_bytes: int = DEFAULT_OVERSIZE_BYTES,
                two_phase: bool = False) -> DataFrame:
    """Return pages repartitioned for even parse cost."""
    n = num_partitions or _width(pages)
    if not two_phase:
        return pages.repartition(n, F.xxhash64("url"))
    size = F.length(F.col("html"))
    key = F.when(size > oversize_bytes,
                 F.xxhash64(F.monotonically_increasing_id(),
                            F.lit("whale-spread"))) \
        .otherwise(F.xxhash64("url"))
    return pages.repartition(n, key)


def bucket_of(url_col, n_buckets: int):
    """Deterministic bucket id for checkpoint/resume (plans/checkpoint.py):
    non-negative xxhash64(url) mod n_buckets."""
    return (F.pmod(F.xxhash64(url_col), F.lit(n_buckets))).cast("int")


def spread_compute(df: DataFrame) -> DataFrame:
    """Row-preserving repartition applied ONLY when the input plan is
    narrower than the core count.

    A small parquet file scans as one task no matter the cluster
    width, which serializes any heavy map-side compute (explodes,
    per-token hashing) behind it — file splitting sees bytes, not
    downstream cost. On a production-scale scan the source already has
    more partitions than cores and this is a plan-time no-op, so the
    extra exchange is paid exactly when it buys parallelism.
    """
    width = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < width:
        return df.repartition(width)
    return df


def batch_map(df: DataFrame, cols: Sequence, fn, schema) -> DataFrame:
    """The Arrow batch scaffold: ONE mapInArrow over `df`'s `cols`, so
    a kernel owns only its per-row math.

    `fn` gets one batch as one Python list per column of `cols` (NULL
    arrives as None) and returns the output columns in `schema` order
    as equal-length sequences; `schema` is a StructType or a DDL
    string, and each output column takes its Arrow type from it. A
    batch for which fn returns no rows (or no columns) emits nothing.
    No exchange and no `df.rdd` call, so it runs on streaming
    DataFrames; partitioning is the caller's.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type
    from pyspark.sql.types import StructType

    out = StructType.fromDDL(schema) if isinstance(schema, str) else schema
    types = [to_arrow_type(f.dataType) for f in out.fields]
    names = out.fieldNames()

    def kernel(batches):
        for batch in batches:
            outs = fn(*(c.to_pylist() for c in batch.columns))
            if len(outs) and len(outs[0]):
                yield pa.RecordBatch.from_arrays(
                    [pa.array(c, t) for c, t in zip(outs, types)],
                    names=names)

    return df.select(*cols).mapInArrow(kernel, schema=out)


def doc_map(df: DataFrame, id_col: str, text_col: str, fn,
            schema: str) -> DataFrame:
    """The doc-local scaffold: batch_map over (id, text) behind
    spread_compute, so a kernel owns only its per-document math.

    `fn(ids, texts)` returns the output columns, ids first. The output
    is `id`, with id_col's type, followed by the columns of the
    `schema` DDL string.
    """
    from pyspark.sql.types import StructField, StructType

    out = StructType([StructField("id", df.schema[id_col].dataType)]
                     + StructType.fromDDL(schema).fields)
    return batch_map(spread_compute(df.select(F.col(id_col).alias("id"),
                                              F.col(text_col).alias("text"))),
                     ["id", "text"], fn, out)


def group_map(df: DataFrame, key: str, order: Sequence[str], fn,
              schema) -> DataFrame:
    """The group-local pandas kernel scaffold: ONE hash repartition on
    `key`, a sort within each partition by (key, *order), then ONE
    mapInPandas, so a kernel owns only its per-group math.

    `fn(pdf)` gets a frame of whole `key` groups, rows sorted by
    (key, *order), and returns a frame matching `schema`. This is
    applyInPandas semantics at one pandas frame per Arrow batch
    instead of one per group. The last key of a batch may continue
    into the next one, so its rows are held back until the key changes
    or the input ends; the held pieces are concatenated once, so a
    group spanning k batches costs O(k), not O(k^2). Keys are
    non-NULL.

    The partition count is explicit: without it AQE may coalesce this
    tiny-by-bytes shuffle to about one partition and serialize the
    CPU-heavy Python stage behind it, because shuffle-size heuristics
    see bytes, not kernel cost.
    """
    import pandas as pd

    def kernel(batches):
        pending, pending_key = [], None
        for pdf in batches:
            if not len(pdf):
                continue
            keys = pdf[key]
            last = keys.iat[-1]
            if pending and last == pending_key:
                pending.append(pdf)  # sorted: all of it is that group
                continue
            is_last = (keys == last).to_numpy()
            head = pdf[~is_last]
            if len(head):
                pending.append(head)
            if pending:
                yield fn(pd.concat(pending, ignore_index=True))
            pending, pending_key = [pdf[is_last]], last
        if pending:
            yield fn(pd.concat(pending, ignore_index=True))

    return (df.repartition(_width(df), F.col(key))
            .sortWithinPartitions(key, *order)
            .mapInPandas(kernel, schema=schema))


def skew_stats(df, key_col: str, n_parts: int = 32):
    """One-row key-skew diagnosis for a prospective shuffle on
    `key_col`: (n_rows, n_keys, max_count, max_key, top1_share_milli,
    p99_count, salt_factor) — salt_factor = ceil(max_count /
    ceil(n_rows / n_parts)) is the replication factor defuse_skew
    would need so the hottest key fits one partition's fair share
    (1 = no salting needed).

    The measurement is the aggregation it predicts: one shuffle to
    per-key counts (map-side combined), then ordered-statistics over
    the COUNTS table (n_keys rows, not n_rows — the p99 window sorts
    keys, never the corpus)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F  # noqa: N812

    counts = (df.groupBy(F.col(key_col).alias("k"))
              .agg(F.count(F.lit(1)).alias("c")))
    w = Window.orderBy("c", "k")
    ranked = counts.withColumn("rn", F.row_number().over(w))
    tot = counts.groupBy().agg(
        F.sum("c").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.max(F.struct(F.col("c").alias("c"),
                       F.col("k").cast("string").alias("k")))
        .alias("top"))
    p99 = (ranked.join(F.broadcast(tot))
           .where(F.col("rn") == F.expr(
               "cast(ceil(CAST(99 AS DOUBLE)/100 * n_keys) as bigint)"))
           .select(F.col("c").cast("bigint").alias("p99_count")))
    out = (tot.join(F.broadcast(p99))
           .select("n_rows", "n_keys",
                   F.col("top.c").cast("bigint").alias("max_count"),
                   F.col("top.k").alias("max_key"),
                   F.expr("(1000 * top.c) div n_rows")
                   .alias("top1_share_milli"),
                   "p99_count"))
    return out.withColumn(
        "salt_factor",
        F.expr(f"greatest(1L, cast(ceil(CAST(max_count AS DOUBLE) / "
               f"ceil(CAST(n_rows AS DOUBLE) / {n_parts})) as bigint))"))
