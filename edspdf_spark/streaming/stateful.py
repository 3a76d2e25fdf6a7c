"""Custom stateful streaming operator: first-seen streaming dedup.

The training-data use case: a continuous crawl emits (url, warc_ts,
content) pages; downstream must see each distinct content exactly once
per url-shard even across micro-batches. That needs per-key state
that outlives a batch — `applyInPandasWithState`, the Structured
Streaming primitive for custom state (the reference has no streaming;
SURVEY.md §2.9).

State model: key = dedup key prefix (first hex char of the content
md5 — 16 shards); value = the set of 15-hex-prefix content hashes seen
so far, stored as a state tuple of one string column (joined hashes).
Emits only rows whose content hash was not in state. Optional TTL via
GroupStateTimeout.ProcessingTimeTimeout is deliberately NOT used:
dedup state must never silently expire.

Scale note: per-key state grows with distinct content per shard; at
10^12 rows the production layout is key = md5 prefix of N chars (16^N
shards), giving bounded, hash-balanced state partitions — the shard
count is a parameter here for exactly that reason.
"""

from __future__ import annotations

from typing import Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F  # noqa: N812
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUT_SCHEMA = ("shard string, url string, content_md5 string, "
              "first_seen boolean")
STATE_SCHEMA = "seen string"


def _dedup_fn(key: Tuple[str], pdfs: Iterator[pd.DataFrame],
              state: GroupState) -> Iterator[pd.DataFrame]:
    (shard,) = key
    seen = set()
    if state.exists:
        (joined,) = state.get
        if joined:
            seen = set(joined.split(","))
    out = []
    for pdf in pdfs:
        for url, md5 in zip(pdf["url"].tolist(),
                            pdf["content_md5"].tolist()):
            if md5 in seen:
                continue
            seen.add(md5)
            out.append((shard, url, md5, True))
    state.update((",".join(sorted(seen)),))
    yield pd.DataFrame(out, columns=["shard", "url", "content_md5",
                                     "first_seen"])


def keyed_hashes(pages: DataFrame, shard_chars: int = 1) -> DataFrame:
    """(url, html|text, ...) -> (shard, url, content_md5): the dedup
    key derivation shared by batch and streaming forms."""
    # hash the BINARY column directly: casting to string lossily decodes
    # invalid UTF-8 with replacement chars, so two distinct payloads
    # could collide and the first-seen dedup would drop never-seen docs
    content = F.coalesce(F.col("html"), F.lit(b""))
    md5 = F.substring(F.md5(content), 1, 15)
    return pages.select(
        F.substring(md5, 1, shard_chars).alias("shard"),
        "url", md5.alias("content_md5"))


def streaming_first_seen(pages: DataFrame,
                         shard_chars: int = 1) -> DataFrame:
    """Streaming DataFrame -> first-occurrence rows only, exactly once
    per distinct content per shard, across micro-batches."""
    keyed = keyed_hashes(pages, shard_chars)
    return (keyed.groupBy("shard")
            .applyInPandasWithState(
                _dedup_fn, outputStructType=OUT_SCHEMA,
                stateStructType=STATE_SCHEMA,
                outputMode="append",
                timeoutConf=GroupStateTimeout.NoTimeout))


def run_first_seen_stream(spark, input_dir: str, output_dir: str,
                          checkpoint_dir: str, schema,
                          shard_chars: int = 1):
    """File-stream driver: readStream -> stateful dedup -> append
    parquet with exactly-once checkpointing."""
    src = spark.readStream.schema(schema).parquet(input_dir)
    out = streaming_first_seen(src, shard_chars)
    return (out.writeStream.format("parquet")
            .option("path", output_dir)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("append")
            .trigger(availableNow=True)
            .start())


# --- streaming near-dup: per-band first-seen state -------------------------

BAND_OUT_SCHEMA = ("band_key string, url string, first_seen boolean, "
                   "prior_url string")
BAND_STATE_SCHEMA = "first_url string"


def row_minhash_bands(docs: DataFrame, url_col: str = "url",
                      text_col: str = "text", k: int = 3,
                      n_hashes: int = 8,
                      band_size: int = 2) -> DataFrame:
    """Per-ROW minhash signature (no aggregation — legal on a stream)
    exploded to (band_key, url) rows. Same shingle codes (md5-prefix
    BIGINT, functions.code15), hash family and banding as the batch
    LSH (operators/dedup.py) — the parity test pins the band keys
    equal to batch signatures. Docs with fewer than k tokens emit no
    rows.

    Implemented as an Arrow-batched kernel rather than nested
    higher-order column functions: Spark evaluates HOF lambdas
    INTERPRETED per element and does not share subexpressions across
    lambdas, so the column form recomputed the md5 once per hash
    function (8x). Here each shingle hashes once (hashlib) and the 8
    mins are one vectorized numpy pass; works identically on batch
    and streaming DataFrames (plans.salt.batch_map is stream-safe)."""
    import numpy as np

    from ..functions import (CODE_MOD, MINHASH_AB, code15_py, ngrams_py,
                             tokens_py)
    from ..plans.salt import batch_map

    assert n_hashes % band_size == 0
    ab = np.array(MINHASH_AB[:n_hashes], dtype=np.int64)
    n_bands = n_hashes // band_size

    def fn(urls, texts):
        out_keys, out_urls = [], []
        for url, text in zip(urls, texts):
            if text is None:
                continue
            shingles = set(ngrams_py(tokens_py(text), k))
            if not shingles:
                continue
            codes = np.array([code15_py(s) % CODE_MOD for s in shingles],
                             dtype=np.int64)
            # (n_hashes, n_codes) affine mod, then row mins
            hs = ((ab[:, 0:1] * codes[None, :] + ab[:, 1:2])
                  % CODE_MOD).min(axis=1)
            for i in range(n_bands):
                vals = hs[i * band_size:(i + 1) * band_size]
                out_keys.append(":".join([str(i)] + [str(v) for v in vals]))
                out_urls.append(url)
        return out_keys, out_urls

    slim = docs.select(F.col(url_col).cast("string").alias("url"),
                       F.col(text_col).alias("t"))
    # compute-spread: parquet byte-splitting can't see per-shingle
    # hashing cost, so pin the Python stage to full width (the
    # winnowing-kernel pattern; explicit count keeps AQE from
    # byte-coalescing below the core count). Works on streams too.
    width = docs.sparkSession.sparkContext.defaultParallelism
    return batch_map(slim.repartition(width), ["url", "t"], fn,
                     "band_key string, url string")


def _band_fn(key: Tuple[str], pdfs: Iterator[pd.DataFrame],
             state: GroupState) -> Iterator[pd.DataFrame]:
    (band_key,) = key
    first_url = state.get[0] if state.exists else None
    out = []
    for pdf in pdfs:
        for url in pdf["url"].tolist():
            if first_url is None:
                first_url = url
                out.append((band_key, url, True, None))
            else:
                out.append((band_key, url, False, first_url))
    state.update((first_url,))
    yield pd.DataFrame(out, columns=["band_key", "url", "first_seen",
                                     "prior_url"])


def streaming_near_dup_bands(docs: DataFrame, url_col: str = "url",
                             text_col: str = "text", k: int = 3,
                             n_hashes: int = 8,
                             band_size: int = 2) -> DataFrame:
    """Streaming docs -> per-band first-seen rows: a band that was
    already claimed (this batch or ANY earlier batch — state is
    checkpointed) emits first_seen=false with the claiming url, which
    is exactly the LSH candidate relation arriving incrementally.

    Scale shape: state = one tiny tuple per distinct band, hash-
    sharded across executors by the state store — the streaming
    equivalent of the batch band-join shuffle. Doc-level verdicts are
    a stateless rollup over the sink (band_near_dup_rollup):
    Structured Streaming disallows chaining a second stateful stage
    in append mode, and the sink rollup is the standard lambda shape.
    """
    bands = row_minhash_bands(docs, url_col, text_col, k, n_hashes,
                              band_size)
    return (bands.groupBy("band_key")
            .applyInPandasWithState(
                _band_fn, outputStructType=BAND_OUT_SCHEMA,
                stateStructType=BAND_STATE_SCHEMA,
                outputMode="append",
                timeoutConf=GroupStateTimeout.NoTimeout))


def band_near_dup_rollup(band_rows: DataFrame) -> DataFrame:
    """Batch rollup over the band sink: (url, n_bands, near_dup,
    matched_url) — near_dup iff ANY band was previously claimed."""
    hit = (~F.col("first_seen")).cast("int")
    return (band_rows.groupBy("url")
            .agg(F.count(F.lit(1)).alias("n_bands"),
                 (F.max(hit) == 1).alias("near_dup"),
                 F.min(F.when(~F.col("first_seen"),
                              F.col("prior_url")))
                 .alias("matched_url")))


def run_near_dup_stream(spark, input_dir: str, output_dir: str,
                        checkpoint_dir: str, schema, **kw):
    """File-stream driver: readStream -> stateful band claims ->
    append parquet with exactly-once checkpointing."""
    src = spark.readStream.schema(schema).parquet(input_dir)
    out = streaming_near_dup_bands(src, **kw)
    return (out.writeStream.format("parquet")
            .option("path", output_dir)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("append")
            .trigger(availableNow=True)
            .start())


def near_dup_bands_batch(docs: DataFrame, url_col: str = "url",
                         text_col: str = "text", k: int = 3,
                         n_hashes: int = 8,
                         band_size: int = 2) -> DataFrame:
    """Batch form of the band-claim semantics with a DETERMINISTIC
    claimant (min url per band — arrival order in a batch is
    partition-dependent, so the streaming operator's first-wins rule
    is replaced by an order-free one). Exactly the LSH candidate
    relation as doc verdicts: (url, n_bands, near_dup, matched_url).
    This is also the oracle surface certifying that the streaming
    band keys carry the same minhash math as the batch dedup path."""
    bands = row_minhash_bands(docs, url_col, text_col, k, n_hashes,
                              band_size)
    claims = bands.groupBy("band_key").agg(
        F.min("url").alias("claimant"))
    j = bands.join(claims, "band_key")
    hit = (F.col("claimant") != F.col("url")).cast("int")
    return (j.groupBy("url")
            .agg(F.count(F.lit(1)).alias("n_bands"),
                 (F.max(hit) == 1).alias("near_dup"),
                 F.min(F.when(F.col("claimant") != F.col("url"),
                              F.col("claimant")))
                 .alias("matched_url")))
