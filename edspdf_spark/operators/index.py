"""Retrieval-prep operators: positional inverted index construction,
windowed co-occurrence (PMI) statistics and BM25 retrieval.

Index and PMI are shuffle-on-term plans with map-side partial
aggregation: the corpus explodes to token rows ONCE, aggregates to
(term, doc) / (pair) granularity before any exchange carries raw
text; BM25 never explodes (one row of counts per doc). Every score is
integer-quantized (md5-prefix codes, bin-length log2) so the DuckDB
oracles match bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F  # noqa: N812

from ..functions import tokens


def inverted_index(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """(term, doc_id, tf, positions, df): the positional posting
    relation — `positions` is the comma-joined ascending 0-based
    token offsets (a STRING, deliberately: array columns stringify
    differently across engines, killing oracle comparability; a
    writer shards this relation by term into the index files).

    Shape: posexplode -> ONE shuffle to (term, doc) with map-side
    combine -> tiny term-level df table joined back broadcast. At
    10^12 docs the (term, doc) aggregate is the index itself — there
    is no cheaper exact plan."""
    base = (df.select(F.col(id_col).alias("doc_id"),
                      F.posexplode(tokens(F.col(text_col)))
                      .alias("pos", "term")))
    post = (base.groupBy("term", "doc_id")
            .agg(F.count(F.lit(1)).alias("tf"),
                 F.array_join(F.sort_array(F.collect_list("pos")), ",")
                 .alias("positions")))
    dfreq = post.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    return (post.join(F.broadcast(dfreq), "term")
            .select("term", "doc_id", F.col("tf").cast("bigint"),
                    "positions", F.col("df").cast("bigint")))


def cooc_pairs(df: DataFrame, id_col: str = "doc_id",
               text_col: str = "text", window: int = 2,
               min_count: int = 5) -> DataFrame:
    """Directional co-occurrence pairs within a forward token window
    (a at position i, b at i+1..i+window) with an integer PMI score:

        pmi_ilog2 = ilog2(c_pair) + ilog2(total_pairs)
                  - ilog2(c_a) - ilog2(c_b)

    — the sum-of-floor-log2 decomposition keeps every term in BIGINT
    range at any corpus size (the naive c_pair*total*2^20/(ca*cb)
    numerator overflows past ~10^5-doc corpora). High pmi = words
    that appear together far above chance (collocations; word-vector
    training signal).

    Shape: pair construction is zip-with-shifted-slices — no position
    self-join, no range join, and not transform(sequence, i ->
    element_at(toks, i+d)), which projection collapse makes
    O(d * len^2) by inlining the split into every element_at;
    one shuffle to pair counts, token counts and the total as
    broadcast sides. min_count bounds output (and is the standard
    noise floor for PMI)."""
    toks = tokens(F.col(text_col))
    pair_arrays = [
        F.arrays_zip(F.slice(toks, 1,
                             F.greatest(F.size(toks) - d, F.lit(0)))
                     .alias("x"),
                     F.slice(toks, 1 + d,
                             F.greatest(F.size(toks) - d, F.lit(0)))
                     .alias("y"))
        for d in range(1, window + 1)]
    pairs = (df.select(F.explode(F.concat(*pair_arrays)).alias("p"))
             .select(F.col("p.x").alias("a"), F.col("p.y").alias("b")))
    cp = pairs.groupBy("a", "b").agg(F.count(F.lit(1)).alias("c_pair"))
    tot = pairs.groupBy().agg(F.count(F.lit(1)).alias("total_pairs"))
    ct = (df.select(F.explode(toks).alias("t"))
          .groupBy("t").agg(F.count(F.lit(1)).alias("c_tok")))
    ilog2 = lambda c: (F.length(F.bin(c)) - 1).cast("bigint")  # noqa: E731
    out = (cp.where(F.col("c_pair") >= min_count)
           .join(F.broadcast(ct.withColumnRenamed("t", "a")
                             .withColumnRenamed("c_tok", "c_a")), "a")
           .join(F.broadcast(ct.withColumnRenamed("t", "b")
                             .withColumnRenamed("c_tok", "c_b")), "b")
           .join(F.broadcast(tot)))
    return out.select(
        "a", "b", F.col("c_pair").cast("bigint"),
        F.col("c_a").cast("bigint"), F.col("c_b").cast("bigint"),
        (ilog2(F.col("c_pair")) + ilog2(F.col("total_pairs"))
         - ilog2(F.col("c_a")) - ilog2(F.col("c_b")))
        .alias("pmi_ilog2"))


# Okapi BM25 constants, milli-scaled so per-term scores are integers
# (float partial sums are aggregation-order-dependent; summing
# integer-quantized term scores is exact and partition-invariant)
BM25_K1_MILLI = 1200   # k1 = 1.2
BM25_B_MILLI = 750     # b  = 0.75
BM25_SCALE = 1 << 20


def bm25_topk(df: DataFrame, query_terms, top_k: int = 10,
              id_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
    """Okapi BM25 retrieval: (doc_id, score_scaled, n_hit_terms, rk)
    — the top_k documents for a bag of query terms.

        idf_q  = ilog2(N * 2^20 / df_q)                (integer)
        tf'    = tf * 1000 * (k1+1)
        denom  = tf * 1000 + k1 * (1000 - b + b * dl*1000/avgdl)
        score  = sum over hit terms of idf_q * (tf' div denom-ish)

    All quantities are milli/2^20-scaled BIGINTs; the one division
    per (doc, term) happens BEFORE the sum, so the aggregate is a
    sum of integers — deterministic under any partitioning, exact in
    the oracle. Quantization changes scores by <0.1% vs float BM25;
    ranking ties break by doc_id.

    Shape: no token explode. One codegen row per input row carries dl
    and one tf per query term, summed per doc_id (shuffle 1, map-side
    combined; a repeated id sums its rows); n_docs, total_tokens and
    every df are one broadcast aggregate; top-k is a single ungrouped
    window over only the docs hitting >= 1 query term. Per-doc cost
    is one array pass per query term: a shape for short queries.
    """
    terms = sorted(set(query_terms))
    ix = range(len(terms))
    # SQL strings, not Column trees: each Column node is a py4j round
    # trip, and on small inputs building the plan costs about half of
    # running it. The terms ride as one literal array `q`, folded into
    # each tf at plan time, so no term is spliced into SQL text.
    docs = (df.select(F.col(id_col).alias("doc_id"),
                      tokens(F.coalesce(F.col(text_col), F.lit("")))
                      .alias("tk"), F.array(*map(F.lit, terms)).alias("q"))
            .groupBy("doc_id")
            .agg(*map(F.expr, ["sum(size(tk)) AS dl", *[
                f"sum(size(tk) - size(array_remove(tk, q[{i}]))) AS tf{i}"
                for i in ix]]))
            .where("dl > 0"))
    stats = docs.selectExpr("count(1) AS n_docs", "sum(dl) AS total_tokens",
                            *[f"count_if(tf{i} > 0) AS df{i}" for i in ix])
    # n_docs * 2^20 stays under BIGINT range through ~10^12 docs
    idf = (f"CAST(length(bin((n_docs * {BM25_SCALE}) div df{{i}})) - 1 "
           f"AS BIGINT)")
    dl_norm = (f"({BM25_K1_MILLI} * (1000 - {BM25_B_MILLI} + "
               f"({BM25_B_MILLI} * dl * n_docs) div total_tokens)) "
               f"div 1000")
    term_score = (f"IF(tf{{i}} > 0, ({idf}) * ((tf{{i}} * 1000 * "
                  f"({BM25_K1_MILLI} + 1000)) div (tf{{i}} * 1000 + "
                  f"({dl_norm}))), 0)")
    n_hit = " + ".join([f"CAST(tf{i} > 0 AS BIGINT)" for i in ix] or ["0L"])
    score = " + ".join([term_score.format(i=i) for i in ix] or ["0L"])
    # a NULL id counts in stats, is never ranked (one unpushed filter)
    return (docs.where(f"IF(doc_id IS NULL, 0, {n_hit}) > 0")
            .join(F.broadcast(stats))
            .selectExpr("doc_id", f"{score} AS score_scaled",
                        f"{n_hit} AS n_hit_terms")
            .selectExpr("*", "CAST(row_number() OVER (ORDER BY "
                        "score_scaled DESC, doc_id) AS BIGINT) AS rk")
            .where(f"rk <= {int(top_k)}"))
