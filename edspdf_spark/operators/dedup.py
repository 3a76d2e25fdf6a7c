"""Deduplication operators for training-data pipelines.

Four families, each designed so a DuckDB oracle can reproduce it
exactly (portable md5-prefix hashing, integer arithmetic only — see
functions/__init__.py). Joins, aggregations and windows are native
DataFrame ops (JVM-side, whole-stage codegen); the doc-local shingle,
simhash and passage cutting run as Arrow-batched Python kernels
(plans/salt.doc_map), never per-row UDFs. Shingling a corpus within
the text gate runs the same kernel on the driver instead:

* exact_dedup        — hash-groupBy on md5(text)
* jaccard_pairs      — word-k-shingle pair count with exact Jaccard
* minhash_lsh_pairs  — shingle->minhash->band->bucket-join->verify
* simhash            — n-bit fingerprint from token-hash bit voting

Scale notes (100 TB framing):
- exact dedup shuffles once on the 15-byte hash, not the text.
- the pair operators (jaccard_pairs, containment_pairs) have one
  formulation per side: within the driver gate the broadcast-postings
  kernel, beyond it the shingle self-join _pair_join, whose blowup is
  bounded by document frequency of a shingle; `max_doc_freq` drops
  stop-shingles (the classic "common shingle" guard) BEFORE the join,
  which also kills the skew.
- MinHash/LSH replaces the all-pairs join with per-band equality
  joins on tiny signatures; candidate verification runs jaccard_pairs
  on the (pruned) shingle sets of candidate documents only. Within
  the driver gate the whole chain is one numpy pass on the driver
  instead: at that size per-job framing, not per-row work, is the
  cost.
- the gated paths chain on the driver: shingle_table within
  TEXT_DRIVER_MAX_BYTES collects (id, text) once and returns a driver
  frame (plans.gate.driver_frame), which the pair gate, the minhash
  pass and connected_components read with no further Spark job, so a
  small corpus runs the near-dup family with no Python stage at all.
- simhash is one doc-local map, no shuffle; near-dup lookup joins on the
  top bits (band) so the pair space never materializes globally.
"""

from __future__ import annotations

from typing import Optional

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F  # noqa: N812

from ..functions import (CODE_MOD, MINHASH_AB, code15, code15_py,
                         minhash_exprs, ngrams_py, tokens, tokens_py)
from ..plans import gate


def exact_dedup(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """One row per distinct content: (content_md5, keep_id, n_dups)."""
    return (df.groupBy(F.md5(F.col(text_col)).alias("content_md5"))
            .agg(F.min(id_col).alias("keep_id"),
                 F.count("*").alias("n_dups")))


def shingle_table(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", k: int = 3,
                  max_doc_freq: Optional[int] = None) -> DataFrame:
    """(id, shingle_code) rows, one per DISTINCT shingle per input
    row (a repeated id's rows make a multiset, see jaccard_pairs).
    max_doc_freq drops shingles appearing in more than that many docs
    (stop-shingle + skew guard applied before any join).

    Within TEXT_DRIVER_MAX_BYTES of (id, text) (plans.gate.driver_table)
    the input is collected once and shingled in-process, and the rows
    come back as a driver frame, so the driver pair paths read them
    with no further job. Beyond it the same kernel runs as ONE Arrow
    map (plans.salt.doc_map: spread over the full core count first —
    document parquets are small in bytes, so the scan alone gets a
    handful of tasks and byte heuristics would serialize the
    CPU-heavy shingling). Values match the codegen and DuckDB forms:
    functions.tokens, k-token shingles joined with one space,
    functions.code15."""
    from ..plans.salt import doc_map

    def fn(ids, texts):
        out_i: list = []
        out_c: list = []
        for i, t in zip(ids, texts):
            if t is None:
                continue
            grams = dict.fromkeys(ngrams_py(tokens_py(t), k))
            out_i += [i] * len(grams)
            out_c += [code15_py(g) for g in grams]
        return out_i, out_c

    table = gate.driver_table(df, None, TEXT_DRIVER_MAX_BYTES,
                              [id_col, text_col])
    if table is None:
        sh = doc_map(df, id_col, text_col, fn, "code bigint")
    else:
        ids = table.column(0)
        out_i, out_c = fn(ids.to_pylist(), table.column(1).to_pylist())
        sh = gate.driver_frame(df.sparkSession, pa.table({
            "id": pa.array(out_i, ids.type),
            "code": pa.array(out_c, pa.int64())}))
    if max_doc_freq is not None:
        sh = _cap_doc_freq(sh, max_doc_freq)
    return sh


# gate of shingle_table's in-process path, in (id, text) Arrow bytes
# (plans.gate.driver_table). Serial driver shingling (~0.13 s per 1,000
# short docs) beats the distributed map while the Python stage's
# framing (worker start, task launch, the Arrow round trip) outweighs
# the per-document work it spreads over the cores. Measured crossover
# (4-vCPU host, local[4], q_dedup_jaccard / q_dedup_components on the
# near-dup corpus of sf0.1 prefixes): 551 KB (1,800 docs) 0.62 / 0.78 s
# on the driver against 0.97 / 0.93 s distributed; 918 KB (3,000 docs)
# 0.98 / 1.27 s against 1.08 / 1.21 s; sf0.1 (1.8 MB) and above lose
# on the driver (sf0.1 1.89 / 1.99 s against 1.59 / 1.38 s).
TEXT_DRIVER_MAX_BYTES = 768 << 10


# default hot-shingle cap for the SELF-JOINING pair operators: a
# shingle present in f documents contributes f^2 join rows, so an
# uncapped stop-shingle is the one quadratic blowup in the suite (at
# 10^12 docs, "all rights reserved"-class shingles alone would melt
# the shuffle). 256 keeps any single shingle's contribution under
# ~65k pairs while leaving genuinely near-duplicate content (which
# shares MANY shingles, each of low doc frequency) untouched.
HOT_SHINGLE_DOC_FREQ = 256


def _cap_doc_freq(shingles: DataFrame,
                  max_doc_freq: Optional[int]) -> DataFrame:
    """In-plan doc-frequency guard applied before any shingle
    self-join (shingle_table emits one row per DISTINCT shingle per
    doc, so count(*) per code IS document frequency).

    Precondition: `code` is never NULL (shingle_table emits none). The
    window would count all NULL-code rows as ONE shingle's document
    frequency, so they would be kept or dropped together by that
    count rather than per document.

    Plan shape: the shingle table is explicitly hash-repartitioned on
    `code` FIRST; the doc-freq count then runs as a count(*) window
    over that one exchange and the filter drops hot codes in the same
    pass — no separate freq aggregate, no keep-set join, no sort-merge
    of two 2.6M-row sides (r6: 1.55 s -> 0.90 s for the capped table
    at 10x rows, identical rows). The downstream pair self-join still
    satisfies its distribution from the same exchange. Count-based
    (never collect_list), so a stop-shingle with a billion-document
    frequency costs one spilled window partition on the exchange's
    single reducer for that key — the same reducer the previous
    agg+join shape funnelled those rows through — not an OOM."""
    if max_doc_freq is None:
        return shingles
    from pyspark.sql import Window

    sh = shingles.repartition(F.col("code"))
    w = Window.partitionBy("code")
    return (sh.withColumn("_df", F.count(F.lit(1)).over(w))
            .where(F.col("_df") <= max_doc_freq).drop("_df"))


# gate for the broadcast-postings pair counter: when the shingle table
# is at most this many in-memory Arrow bytes (plans.gate.driver_table;
# 16 B per bigint row), pair counting runs as per-doc posting-list
# merges against a broadcast CSR — every pair is generated, counted AND
# threshold-filtered inside one task, so only the final (tiny) result
# rows ever cross an exchange. Beyond the gate the capped self-join
# runs (the 100-TB path: one reused code exchange, stop-shingle guard
# bounding the quadratic term). The sf1.0 corpus showed why the fast
# path matters: 3.1M shingle rows (~50 MB) fan out to 180M join rows
# with 161M DISTINCT pairs, so the join's partial aggregation cannot
# reduce anything and the exchange moves ~4 GB to keep 1.5M rows.
PAIR_DRIVER_MAX_BYTES = 512 << 20


def _factorize(vals, order):
    """(sorted distinct values, each element's index among them) from
    `vals`' stable argsort `order` (np.unique would sort again)."""
    sv = vals[order]
    new = np.ones(len(sv), dtype=bool)
    new[1:] = sv[1:] != sv[:-1]
    inv = np.empty(len(sv), dtype=np.int64)
    inv[order] = np.cumsum(new) - 1
    return sv[new], inv


def _driver_shingles(table: pa.Table):
    """The driver pair paths' prologue on the gated (id, code) table:
    NULL ids/codes dropped (joins never match them), ids factorized in
    sorted order (index order IS id order): (ids, codes, doc_inv,
    order_d)."""
    table = table.drop_null()
    ids_raw = table.column("id").to_numpy(zero_copy_only=False)
    order_d = np.argsort(ids_raw, kind="stable")
    ids, doc_inv = _factorize(ids_raw, order_d)
    return (ids, table.column("code").to_numpy().astype(np.int64),
            doc_inv, order_d)


def _gated_shingles(shingles: DataFrame, driver, distributed):
    """plans.gate.run_gated on the (id, code) table within
    PAIR_DRIVER_MAX_BYTES (a doc_map table runs its Python stage once);
    an id type other than bigint or string goes distributed with no
    sizing pass."""
    if dict(shingles.dtypes).get("id") not in ("bigint", "string"):
        return distributed(shingles)
    # a refused gate leaves the sizing pass's cache of `shingles`: the
    # lazy fallback reads a checkpoint of it, taken before run_gated
    # releases the cache, so the Python shingling runs once
    return gate.run_gated(shingles, None, PAIR_DRIVER_MAX_BYTES,
                          ["id", "code"], driver,
                          lambda sh: distributed(sh.localCheckpoint()))


def _pairs_via_postings(shingles: DataFrame, table: pa.Table,
                        max_doc_freq: Optional[int], mode: str,
                        threshold: float, min_intersect: int):
    """All-pairs intersection counter on `shingles`' gated table
    (_gated_shingles). The kernel runs per block of 4,096 docs: one
    block runs in-process and comes back as a driver frame; more run
    as one task each against a broadcast of the CSR arrays. Semantics
    replicated exactly: rows are NOT deduplicated (doc frequency and
    sizes count raw rows, as the join did), ids compare strictly
    (equal ids never pair), sizes are taken after the doc-frequency
    drop, and all ratios are the same int64 / float64 IEEE
    divisions."""
    id_ddl = dict(shingles.dtypes)["id"]
    uniq_ids, codes, doc_inv, order_d = _driver_shingles(table)
    spark = shingles.sparkSession
    # TWO sorts total (by id, by code); factorizations, counts and
    # both CSR layouts derive from the sorted orders (np.unique would
    # pay an internal sort per call, and the CSR builds another two)
    n_rows = len(codes)
    order_c = np.argsort(codes, kind="stable")
    _, code_inv = _factorize(codes, order_c)
    n_docs = len(uniq_ids)
    n_codes = int(code_inv.max()) + 1 if n_rows else 0
    if max_doc_freq is not None and n_rows:
        code_counts = np.bincount(code_inv, minlength=n_codes)
        keep = code_counts[code_inv] <= max_doc_freq
        # a filtered subsequence of a sorted order stays sorted
        order_c = order_c[keep[order_c]]
        order_d = order_d[keep[order_d]]
    sizes = np.bincount(doc_inv[order_d],
                        minlength=n_docs).astype(np.int64)
    # CSR code -> doc indices (postings), CSR doc -> code indices
    post_docs = doc_inv[order_c].astype(np.int32)
    code_lens = np.bincount(code_inv[order_c],
                            minlength=n_codes).astype(np.int64)
    post_offsets = np.zeros(n_codes + 1, dtype=np.int64)
    np.cumsum(code_lens, out=post_offsets[1:])
    doc_codes = code_inv[order_d].astype(np.int32)
    doc_offsets = np.zeros(n_docs + 1, dtype=np.int64)
    np.cumsum(sizes, out=doc_offsets[1:])

    arrays = (uniq_ids, sizes, doc_offsets, doc_codes, post_offsets,
              code_lens, post_docs)

    if mode == "jaccard":
        out_schema = (f"id_a {id_ddl}, id_b {id_ddl}, inter bigint, "
                      "size_a bigint, size_b bigint, jaccard double")
        names = ["id_a", "id_b", "inter", "size_a", "size_b", "jaccard"]
    else:
        out_schema = (f"id_src {id_ddl}, id_dst {id_ddl}, inter bigint, "
                      "size_src bigint, size_dst bigint, "
                      "containment double")
        names = ["id_src", "id_dst", "inter", "size_src", "size_dst",
                 "containment"]
    pa_id = pa.int64() if id_ddl == "bigint" else pa.string()
    schema = pa.schema(zip(names, [pa_id, pa_id] + [pa.int64()] * 3
                           + [pa.float64()]))

    block = 4096

    def fn(arrays, blocks):
        (u_ids, szs, d_off, d_codes, p_off, c_lens, p_docs) = arrays
        for b in blocks:
            lo, hi = b * block, min(n_docs, (b + 1) * block)
            cols: list = [[] for _ in names]
            for d in range(lo, hi):
                cs = d_codes[d_off[d]:d_off[d + 1]]
                if not cs.size:
                    continue
                lens = c_lens[cs]
                total = int(lens.sum())
                if not total:
                    continue
                ends = np.cumsum(lens)
                idx = (np.arange(total, dtype=np.int64)
                       + np.repeat(p_off[cs] - (ends - lens), lens))
                cand, cnt = np.unique(p_docs[idx], return_counts=True)
                # uniq_ids is sorted, so index order IS id order: keep
                # strictly-smaller partners only (each unordered pair
                # is emitted by its larger member)
                cut = np.searchsorted(cand, d, side="left")
                cand, cnt = cand[:cut], cnt[:cut]
                if not cand.size:
                    continue
                m = cnt >= min_intersect
                cand, cnt = cand[m], cnt[m]
                if not cand.size:
                    continue
                sz_c, sz_d = szs[cand], szs[d]
                if mode == "jaccard":
                    den = sz_c + sz_d - cnt
                    # repeated ids with equal row multisets leave no
                    # denominator: the pair is dropped, as in
                    # _pair_join and _minhash_driver
                    ok = den > 0
                    cand, cnt = cand[ok], cnt[ok]
                    parts = [(cand, d, cnt / den[ok])]
                else:  # src = smaller id, then src = larger id
                    parts = [(cand, d, cnt / sz_c), (d, cand, cnt / sz_d)]
                for src, dst, ratio in parts:
                    m = ratio >= threshold
                    if not m.any():
                        continue
                    src = np.broadcast_to(src, m.shape)[m]
                    dst = np.broadcast_to(dst, m.shape)[m]
                    for col, vals in zip(cols, (
                            u_ids[src], u_ids[dst], cnt[m],
                            szs[src], szs[dst], ratio[m])):
                        col.extend(vals.tolist())
            if cols[0]:
                yield pa.RecordBatch.from_arrays(
                    [pa.array(c, f.type) for c, f in zip(cols, schema)],
                    schema=schema)

    n_blocks = max(1, -(-n_docs // block))
    if n_blocks == 1:  # the driver holds the arrays: no task to launch
        return gate.driver_frame(spark, pa.Table.from_batches(
            list(fn(arrays, [0])), schema))
    bc = spark.sparkContext.broadcast(arrays)

    def task(batches):
        for batch in batches:
            yield from fn(bc.value, batch.column(0).to_pylist())

    width = min(spark.sparkContext.defaultParallelism, n_blocks)
    return spark.range(0, n_blocks, 1, width).mapInArrow(
        task, schema=out_schema)


def jaccard_pairs(shingles: DataFrame, threshold: float = 0.5,
                  min_intersect: int = 1,
                  max_doc_freq: Optional[int] = HOT_SHINGLE_DOC_FREQ
                  ) -> DataFrame:
    """Exact Jaccard over shingle sets: (id_a, id_b, inter, size_a,
    size_b, jaccard) for pairs with jaccard >= threshold.

    jaccard = inter / (size_a + size_b - inter): integer inputs, so
    the double division is bit-identical across engines. A repeated
    id's rows are a multiset, so its jaccard can exceed 1.

    max_doc_freq (DEFAULT ON) drops shingles appearing in more than
    that many documents before the self-join — set sizes are computed
    AFTER the drop, so jaccard stays a true set ratio over the capped
    universe. Pass None ONLY for inputs already bounded by
    construction (e.g. LSH-candidate verification).

    Within PAIR_DRIVER_MAX_BYTES (in-memory bytes of the shingle
    table) the pair space is counted by the postings kernel and
    filtered in-task (in-process on the driver for up to one block of
    4,096 docs); beyond it, the capped self-join _pair_join is the
    scale path. A pair whose denominator is not positive (ids
    repeated with equal row multisets) is dropped on both paths."""
    den = F.col("size_a") + F.col("size_b") - F.col("inter")
    return _gated_shingles(
        shingles,
        lambda t: _pairs_via_postings(shingles, t, max_doc_freq,
                                      "jaccard", threshold, min_intersect),
        lambda sh: (_pair_join(sh, min_intersect, max_doc_freq)
                    .withColumn("jaccard",
                                F.when(den > 0, F.col("inter") / den))
                    .where(F.col("jaccard") >= threshold)))


def _pair_join(shingles: DataFrame, min_intersect: int,
               max_doc_freq: Optional[int]) -> DataFrame:
    """The pair operators' distributed formulation: the capped shingle
    self-join on one reused code exchange, (id_a, id_b, inter, size_a,
    size_b) per pair id_a < id_b with inter >= min_intersect."""
    shingles = _cap_doc_freq(shingles, max_doc_freq)
    sizes = shingles.groupBy("id").agg(F.count("*").alias("sz"))
    a = shingles.select(F.col("id").alias("id_a"), "code")
    b = shingles.select(F.col("id").alias("id_b"), "code")
    inter = (a.join(b, "code")
             .where(F.col("id_a") < F.col("id_b"))
             .groupBy("id_a", "id_b")
             .agg(F.count("*").alias("inter"))
             .where(F.col("inter") >= min_intersect))
    return (inter
            .join(sizes.withColumnRenamed("id", "id_a")
                  .withColumnRenamed("sz", "size_a"), "id_a")
            .join(sizes.withColumnRenamed("id", "id_b")
                  .withColumnRenamed("sz", "size_b"), "id_b")
            .select("id_a", "id_b", "inter", "size_a", "size_b"))


def minhash_signatures(shingles: DataFrame, n_hashes: int = 8) -> DataFrame:
    """(id, h0..h{n-1}) min-hash signature per document."""
    return shingles.groupBy("id").agg(*minhash_exprs(F.col("code"), n_hashes))


def lsh_candidates(signatures: DataFrame, band_size: int = 2) -> DataFrame:
    """Candidate pairs sharing at least one full band of the signature.

    One explode to (id, band_key) rows — band_key a struct of
    (band_idx, v0..v{band_size-1}), the EXACT band values, no hash so
    no collision risk — then a single self-join on band_key. One
    shuffle (the second side reuses the first exchange) instead of one
    join per band; `distinct` collapses pairs sharing several bands.
    """
    hs = [c for c in signatures.columns if c.startswith("h")]
    assert len(hs) % band_size == 0
    bands = [hs[i:i + band_size] for i in range(0, len(hs), band_size)]
    band_arr = F.array(*[
        F.struct(F.lit(i).alias("b"),
                 *[F.col(h).alias(f"v{j}") for j, h in enumerate(band)])
        for i, band in enumerate(bands)])
    ex = signatures.select("id", F.explode(band_arr).alias("band_key"))
    a = ex.select(F.col("id").alias("id_a"), "band_key")
    b = ex.select(F.col("id").alias("id_b"), "band_key")
    return (a.join(b, "band_key").where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b").distinct())


def minhash_lsh_pairs(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", k: int = 3,
                      n_hashes: int = 8, band_size: int = 2,
                      threshold: float = 0.5,
                      max_doc_freq: Optional[int] = None) -> DataFrame:
    """Full near-dup chain: shingle -> minhash -> LSH bucket join ->
    exact-Jaccard verification of the candidates only. The shingle
    table runs under the pair operators' gate (_gated_shingles): when
    it passes, one driver pass (_minhash_driver) reads a
    driver-shingled table with no Spark job and returns its pairs as a
    driver frame, so connected_components labels them with no job
    either. A repeated id's rows are a multiset, as in jaccard_pairs:
    jaccard can exceed 1.

    The distributed fallback (also past gate.EDGE_MAX_ROWS bucket
    pairs) runs on the gate's call-cached shingle table and verifies
    only shingles of documents in some candidate pair (leftsemi prune)
    through jaccard_pairs. It owns `cand` (read by the prune and the
    final join); its pairs are an eager local checkpoint, so they
    outlive both caches."""
    assert n_hashes <= len(MINHASH_AB) and n_hashes % band_size == 0
    sh = shingle_table(df, id_col, text_col, k, max_doc_freq)

    def distributed(sh):
        cand = lsh_candidates(minhash_signatures(sh, n_hashes),
                              band_size).persist()
        try:
            cand_ids = (cand.select(F.col("id_a").alias("id"))
                        .unionByName(cand.select(F.col("id_b").alias("id")))
                        .distinct())
            # max_doc_freq=None: the verification input is pruned to
            # candidate documents only (bounded by construction), and
            # the verified jaccard must be over the SAME shingle
            # universe the signatures were built from — corpus-level
            # capping is this function's max_doc_freq, at shingling
            verified = jaccard_pairs(sh.join(cand_ids, "id", "leftsemi"),
                                     threshold, 1, None)
            return (cand.join(verified, ["id_a", "id_b"])
                    .select("id_a", "id_b", "jaccard")
                    .localCheckpoint(eager=True))
        finally:
            cand.unpersist()

    return _gated_shingles(
        sh, lambda t: _minhash_driver(sh, t, n_hashes, band_size,
                                      threshold),
        distributed)


def _minhash_driver(sh: DataFrame, table: pa.Table, n_hashes: int,
                    band_size: int, threshold: float
                    ) -> Optional[DataFrame]:
    """minhash_lsh_pairs as one numpy pass over `sh`'s gated table,
    row for row the distributed chain's output (inter counts
    code-matching row pairs and sizes count rows, as the join does);
    None to stay distributed past gate.EDGE_MAX_ROWS pairs."""
    ids, codes, doc_inv, order_d = _driver_shingles(table)
    n = len(ids)
    docs, codes = doc_inv[order_d], codes[order_d]  # doc-major rows
    sizes = np.bincount(docs, minlength=n)
    starts = np.cumsum(sizes) - sizes
    cm = np.fmod(codes, CODE_MOD)
    sig = np.stack([np.minimum.reduceat(np.fmod(a * cm + b, CODE_MOD),
                                        starts)
                    for a, b in MINHASH_AB[:n_hashes]], axis=1)
    bands = [np.unique(sig[:, lo:lo + band_size], axis=0,
                       return_inverse=True)[1].reshape(-1)
             for lo in range(0, n_hashes, band_size)]
    counts = [np.bincount(bucket) for bucket in bands]
    if sum(int((c * (c - 1) // 2).sum()) for c in counts) \
            > gate.EDGE_MAX_ROWS:
        return None
    # in-bucket pairs, all buckets of one size at once; the stable sort
    # keeps a bucket's docs ascending, so column i < j is id order
    keys = [np.empty(0, dtype=np.int64)]
    for bucket, c in zip(bands, counts):
        order, first = np.argsort(bucket, kind="stable"), np.cumsum(c) - c
        for size in np.unique(c[c > 1]):
            m = order[first[c == size][:, None] + np.arange(size)]
            i, j = np.triu_indices(size, 1)
            keys.append((m[:, i] * n + m[:, j]).ravel())
    a, b = np.divmod(np.unique(np.concatenate(keys)), max(n, 1))
    # walk each pair's a-rows, counting equal (doc b, code) row keys
    code_idx = np.unique(codes, return_inverse=True)[1].reshape(-1)
    n_codes = int(code_idx.max(initial=0)) + 1
    packed = np.sort(docs * n_codes + code_idx)
    inter = np.empty(len(a), dtype=np.int64)
    step = max(1, (1 << 22) // max(int(sizes.max(initial=0)), 1))
    for lo in range(0, len(a), step):
        xa, xb = a[lo:lo + step], b[lo:lo + step]
        r = sizes[xa]
        seg = np.cumsum(r) - r
        pos = np.repeat(starts[xa] - seg, r) + np.arange(int(r.sum()))
        q = np.repeat(xb * n_codes, r) + packed[pos] % n_codes
        hits = np.searchsorted(packed, q, "right") - np.searchsorted(packed, q)
        inter[lo:lo + step] = np.add.reduceat(hits, seg)
    # a pair with no positive denominator (ids repeated with equal
    # row multisets) is dropped, as in jaccard_pairs
    ok = (inter >= 1) & (sizes[a] + sizes[b] > inter)
    a, b, inter = a[ok], b[ok], inter[ok]
    jac = inter / (sizes[a] + sizes[b] - inter)
    keep = jac >= threshold
    pa_id = pa.int64() if dict(sh.dtypes)["id"] == "bigint" else pa.string()
    return gate.driver_frame(sh.sparkSession, pa.table({
        "id_a": pa.array(ids[a[keep]], pa_id),
        "id_b": pa.array(ids[b[keep]], pa_id), "jaccard": jac[keep]}))


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
            bits: int = 16) -> DataFrame:
    """(id, simhash) fingerprints: per distinct token, each of the
    low `bits` bits of the token hash votes +1/-1; fingerprint sets
    the bits with positive tallies. Documents with no tokens (or NULL
    text) emit no row — the explode semantics of the original.

    Doc-local Arrow kernel, ZERO shuffles beyond the compute-spread
    repartition: the earlier explode + groupBy(id) formulation
    shuffled one row per distinct token (6M rows at sf1.0) and paid
    interpreted HOF evaluation for the tokenize/distinct chain, with
    the map side stuck on the scan's handful of tasks. Here token
    hashing is the only Python loop (one md5 per distinct token);
    the bit tallies are one vectorized numpy pass per batch, and the
    fingerprint never leaves the task that read the document."""
    from ..plans.salt import doc_map

    shifts = np.arange(bits, dtype=np.int64)

    def fn(ids, texts):
        out_i: list = []
        codes: list = []
        counts: list = []
        for i, t in zip(ids, texts):
            if t is None:
                continue
            toks = set(tokens_py(t))
            if not toks:
                continue
            out_i.append(i)
            counts.append(len(toks))
            codes += [code15_py(w) for w in toks]
        if not out_i:
            return out_i, []
        carr = np.asarray(codes, dtype=np.int64)
        ones = (carr[:, None] >> shifts) & 1       # (tokens, bits)
        bounds = np.zeros(len(out_i), dtype=np.int64)
        np.cumsum(counts[:-1], out=bounds[1:])
        ones_per_doc = np.add.reduceat(ones, bounds, axis=0)
        n_tok = np.asarray(counts, dtype=np.int64)[:, None]
        tally = 2 * ones_per_doc - n_tok           # (+1/-1 votes)
        fp = ((tally > 0).astype(np.int64) << shifts[None, :]).sum(axis=1)
        return out_i, fp

    return doc_map(df, id_col, text_col, fn, "simhash bigint")


def simhash_near_pairs(fingerprints: DataFrame, bits: int = 16,
                       band_bits: int = 8, max_hamming: int = 2) -> DataFrame:
    """Near-dup pairs by Hamming distance, bucketed on the top
    `band_bits` bits so the pair space stays local to buckets."""
    banded = fingerprints.withColumn(
        "band", F.shiftright(F.col("simhash"), bits - band_bits))
    a = banded.select(F.col("id").alias("id_a"),
                      F.col("simhash").alias("sh_a"), "band")
    b = banded.select(F.col("id").alias("id_b"),
                      F.col("simhash").alias("sh_b"), "band")
    return (a.join(b, "band").where(F.col("id_a") < F.col("id_b"))
            .withColumn("hamming",
                        F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
            .where(F.col("hamming") <= max_hamming)
            .select("id_a", "id_b", "hamming"))


def passage_dedup(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", k: int = 50) -> DataFrame:
    """Passage-level exact dedup (the C4/RefinedWeb sub-document
    variant of exact dedup): documents are cut into NON-OVERLAPPING
    k-token passages; every repeated passage keeps only its first
    occurrence in (doc_id, passage_idx) order.

    Output: one row per passage occurrence —
    (doc_id, passage_idx, passage_code, keep).

    Scale shape: the explode adds ~n_tokens/k rows per doc (bounded,
    ~2% at the production k=50), passages travel as 15-byte md5-prefix
    BIGINT codes (never the text), and the first-occurrence ranking is
    ONE shuffle on the code — the same single-exchange profile as
    exact_dedup, just at sub-document granularity."""
    from pyspark.sql import Window

    from ..plans.salt import doc_map

    # Passage cutting + hashing is doc-local: one Arrow kernel behind
    # the compute-spread repartition (the codegen explode inlined the
    # tokenize HOF chain per passage and ran on the scan's 1-2
    # effective tasks).
    def fn(ids, texts):
        out_i: list = []
        out_j: list = []
        out_c: list = []
        for i, t in zip(ids, texts):
            if t is None:
                continue
            passages = ngrams_py(tokens_py(t), k, k)
            out_i += [i] * len(passages)
            out_j += range(len(passages))
            out_c += [code15_py(g) for g in passages]
        return out_i, out_j, out_c

    ex = (doc_map(df, id_col, text_col, fn,
                  "passage_idx int, passage_code bigint")
          .withColumnRenamed("id", "doc_id"))
    w = Window.partitionBy("passage_code").orderBy("doc_id", "passage_idx")
    return ex.withColumn("keep", F.row_number().over(w) == 1)


def substring_dedup(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", w: int = 10) -> DataFrame:
    """Exact duplicated-substring removal (the Lee et al. 2021
    "Deduplicating Training Data Makes Language Models Better"
    ExactSubstr method, re-expressed for Spark): every w-token window
    that occurs more than once corpus-wide keeps only its FIRST
    occurrence in (doc_id, pos) order; all other occurrences' token
    spans are cut and each document is rebuilt from survivors.

    The reference method uses a monolithic suffix array; the
    distributed shape here is the standard rolling-window-hash
    equivalent (same removals for spans of exactly w tokens; maximal
    longer duplicates are covered because all their w-windows match).

    Output: (id, text, n_tokens, n_removed) — text rebuilt from the
    surviving tokens, single-space joined.

    Scale shape (100 TB framing):
    - windows travel as md5-prefix BIGINT codes, never the text; the
      explode is ~n_tokens rows/doc, same order as the token count.
    - first-occurrence ranking is ONE shuffle on the window hash.
    - only duplicated-non-first positions survive to the rebuild, so
      the groupBy(id) + join back to the corpus move a set that is
      tiny relative to the corpus (AQE broadcasts it when small).
    - the rebuild itself is doc-local column math: per-token interval
      test against the doc's (few) removed starts, no extra shuffle.
    """
    from pyspark.sql import Window

    from edspdf_spark.plans.salt import spread_compute

    base = spread_compute(df.select(id_col, text_col)).select(
        F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("tk"))
    n = F.size(F.col("tk"))
    m = F.greatest(F.lit(0), n - w + 1)
    # positional w-gram codes via slice-zip: projection collapse would
    # inline tk's expression into every element of transform(sequence,
    # i -> slice(tk, i, w)) -> O(w * len^2)
    parts = [F.slice(F.col("tk"), j + 1, m).alias(f"w{j}")
             for j in range(w)]
    wins = (base.select(
        "id", F.posexplode(F.arrays_zip(*parts)).alias("pos0", "s"))
        .select("id", (F.col("pos0") + 1).alias("pos"),
                code15(F.concat_ws(
                    " ", *[F.col(f"s.w{j}") for j in range(w)]))
                .alias("h")))
    rk = Window.partitionBy("h").orderBy("id", "pos")
    removed = (wins.withColumn("rn", F.row_number().over(rk))
               .where(F.col("rn") > 1)
               .groupBy("id")
               .agg(F.sort_array(F.collect_set("pos")).alias("starts")))
    joined = base.join(removed, "id", "left")
    pos_tok = F.arrays_zip(
        F.sequence(F.lit(1), F.size("tk")).alias("p"),
        F.col("tk").alias("tok"))
    kept = F.filter(
        pos_tok,
        lambda t: ~F.exists(F.col("starts"),
                            lambda s: (s <= t["p"]) & (t["p"] < s + w)))
    kept_toks = F.when(F.col("starts").isNull(), F.col("tk")) \
        .otherwise(F.transform(kept, lambda t: t["tok"]))
    return joined.select(
        "id",
        F.concat_ws(" ", kept_toks).alias("text"),
        F.size("tk").cast("bigint").alias("n_tokens"),
        (F.size("tk") - F.size(kept_toks)).cast("bigint")
        .alias("n_removed"))


def decontaminate(df: DataFrame, benchmark: DataFrame,
                  id_col: str = "doc_id", text_col: str = "text",
                  k: int = 8, threshold: int = 1) -> DataFrame:
    """Benchmark decontamination (the GPT-3 appendix-C / PaLM method):
    flag every training document that shares at least `threshold`
    distinct k-gram shingles with an evaluation/benchmark table.

    `benchmark` must expose the same (id_col, text_col) columns.
    Output: one row per training doc — (id, n_overlap, contaminated).

    Scale shape: the benchmark side is eval sets (MBs, not TBs) — its
    distinct shingle codes are broadcast, so the corpus-side scan is
    shuffle-free up to the per-doc overlap count (one groupBy(id) over
    matched shingles only, a set near-empty for clean corpora)."""
    doc_sh = shingle_table(df, id_col, text_col, k)
    bench_codes = (shingle_table(benchmark, id_col, text_col, k)
                   .select("code").distinct())
    hits = (doc_sh.join(F.broadcast(bench_codes), "code")
            .groupBy("id").agg(F.count("*").alias("n_overlap")))
    return (df.select(F.col(id_col).alias("id"))
            .join(hits, "id", "left")
            .select("id",
                    F.coalesce(F.col("n_overlap"), F.lit(0))
                    .cast("bigint").alias("n_overlap"),
                    (F.coalesce(F.col("n_overlap"), F.lit(0))
                     >= threshold).alias("contaminated")))


def latest_by_key(df: DataFrame, key_col: str, ts_col: str,
                  tie_col: str) -> DataFrame:
    """Latest-capture dedup: keep the newest snapshot per key (the
    Common-Crawl "latest warc_ts per url wins" rule), tie-broken by
    `tie_col` so the winner is total-ordered.

    Physical shape: ONE hash shuffle on the key with map-side partial
    aggregation — max(struct(ts, tie, payload...)) is an ordinary
    commutative agg, so every mapper pre-reduces its partition before
    the exchange. The window-function formulation (row_number over
    partitionBy(key) orderBy(ts desc)) shuffles EVERY capture row and
    then sorts each group; at 10^12 captures the partial-agg form
    moves one row per key per mapper instead."""
    payload = [c for c in df.columns if c not in (key_col, ts_col, tie_col)]
    packed = F.struct(F.col(ts_col), F.col(tie_col),
                      *[F.col(c) for c in payload])
    agg = (df.groupBy(key_col)
           .agg(F.max(packed).alias("_w"),
                F.count("*").alias("n_captures")))
    return agg.select(
        F.col(key_col),
        F.col(f"_w.{ts_col}").alias(f"last_{ts_col}"),
        F.col(f"_w.{tie_col}").alias(f"last_{tie_col}"),
        *[F.col(f"_w.{c}").alias(f"last_{c}") for c in payload],
        "n_captures")


def line_dedup_rebuild(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text",
                       min_line_len: int = 10) -> DataFrame:
    """C4's line-level global dedup (Raffel et al. 2020 §2.2: "we
    discarded all but one of any three-sentence span occurring more
    than once", applied here at line granularity): every distinct line
    keeps only its FIRST occurrence in (doc_id, line_idx) order across
    the whole corpus; documents are rebuilt from their surviving
    lines.

    Output: (id, text, n_lines, n_kept) — text is the rebuilt
    document (surviving lines joined with \\n, original order).

    Lines shorter than `min_line_len` chars are always kept (blank
    lines and stubs would otherwise collapse corpus-wide to a single
    survivor — the standard guard in production line dedup).

    Scale shape: lines travel as 15-byte md5-prefix codes next to the
    line text; first-occurrence ranking is ONE shuffle on the code;
    the rebuild is ONE groupBy(id) whose collect_list is order-healed
    by an in-group array_sort on the line index (collect_list order is
    partition-dependent; the sort makes the result deterministic)."""
    from pyspark.sql import Window

    lines = F.split(F.col(text_col), "\n")
    idx = F.when(F.size(lines) > 0,
                 F.sequence(F.lit(0), F.size(lines) - 1)) \
        .otherwise(F.array().cast("array<int>"))
    ex = (df.select(F.col(id_col).alias("id"),
                    F.arrays_zip(idx.alias("idx"), lines.alias("line"))
                    .alias("z"))
          .select("id", F.explode("z").alias("p"))
          .select("id", F.col("p.idx").alias("idx"),
                  F.col("p.line").alias("line")))
    w = Window.partitionBy(code15(F.col("line"))).orderBy("id", "idx")
    kept = ex.withColumn(
        "keep", (F.length("line") < min_line_len)
        | (F.row_number().over(w) == 1))
    rebuilt = (kept.groupBy("id")
               .agg(F.count("*").alias("n_lines"),
                    F.sum(F.col("keep").cast("bigint")).alias("n_kept"),
                    F.concat_ws(
                        "\n",
                        F.transform(
                            F.array_sort(F.collect_list(
                                F.when(F.col("keep"),
                                       F.struct("idx", "line")))),
                            lambda s: s["line"])).alias("text")))
    return rebuilt.select("id", "text", "n_lines", "n_kept")


def snapshot_diff(old: DataFrame, new: DataFrame, key_col: str = "url",
                  content_col: str = "text") -> DataFrame:
    """Crawl-refresh delta between two captures of a corpus:
    (key, status, old_md5, new_md5) with status in
    added / removed / changed / unchanged.

    The incremental-processing primitive: a refresh pipeline
    reprocesses only `added`+`changed`, tombstones `removed`, and
    skips `unchanged` (typically the bulk). Content identity is md5
    — the 15-hex-prefix convention is for BIGINT codes; here the full
    digest is kept since it is compared, not arithmetic'd.

    Contract: `key_col` is unique within each snapshot (multi-capture
    inputs collapse first via latest_by_key — duplicate keys would
    cross-multiply through the full-outer join).

    Scale shape: each side reduces to (key, md5) at scan time (the
    text never shuffles), then ONE co-partitioned full-outer
    sort-merge join on key; both sides hash-partition identically, so
    at 10^12 rows this is the minimal movement for an exact diff.
    """
    o = old.select(F.col(key_col).alias("key"),
                   F.md5(F.col(content_col)).alias("old_md5"))
    n = new.select(F.col(key_col).alias("key"),
                   F.md5(F.col(content_col)).alias("new_md5"))
    j = o.join(n, "key", "full_outer")
    status = (F.when(F.col("old_md5").isNull(), F.lit("added"))
              .when(F.col("new_md5").isNull(), F.lit("removed"))
              .when(F.col("old_md5") == F.col("new_md5"),
                    F.lit("unchanged"))
              .otherwise(F.lit("changed")))
    return j.select("key", status.alias("status"), "old_md5", "new_md5")


def containment_pairs(shingles: DataFrame, threshold: float = 0.8,
                      min_intersect: int = 1,
                      max_doc_freq: Optional[int] = HOT_SHINGLE_DOC_FREQ
                      ) -> DataFrame:
    """One-way near-duplication: containment(src in dst) =
    |S_src ∩ S_dst| / |S_src| — catches excerpts, quotes, and
    page-in-site copies that symmetric Jaccard misses whenever the
    containing document is much larger (jaccard -> 0 while
    containment -> 1). Emits DIRECTIONAL rows (id_src, id_dst, inter,
    size_src, size_dst, containment) with containment >= threshold.

    Same scale shape as jaccard_pairs: within PAIR_DRIVER_MAX_BYTES
    the broadcast-postings kernel counts and filters the pair space
    in-task; beyond it, _pair_join's capped self-join behind the
    DEFAULT-ON max_doc_freq stop-shingle/skew guard (sizes are
    computed after the drop; None opts out for inputs bounded by
    construction) is the scale path. Intersections are computed once
    per unordered pair and fanned into both directions after
    aggregation — the direction fan-out happens on pair rows, never
    on shingle rows.
    """
    def distributed(sh):
        j = _pair_join(sh, min_intersect, max_doc_freq)
        fwd, rev = (j.select(F.col(f"id_{s}").alias("id_src"),
                             F.col(f"id_{d}").alias("id_dst"), "inter",
                             F.col(f"size_{s}").alias("size_src"),
                             F.col(f"size_{d}").alias("size_dst"))
                    for s, d in ("ab", "ba"))
        c = F.col("inter") / F.col("size_src")
        return (fwd.unionByName(rev).withColumn("containment", c)
                .where(F.col("containment") >= threshold))

    return _gated_shingles(
        shingles,
        lambda t: _pairs_via_postings(shingles, t, max_doc_freq,
                                      "containment", threshold,
                                      min_intersect),
        distributed)


def edit_verified_pairs(corpus: DataFrame, pairs: DataFrame,
                        id_col: str = "doc_id", text_col: str = "text",
                        max_dist_milli: int = 200) -> DataFrame:
    """Candidate near-dup pairs verified by character edit distance:
    (id_a, id_b, dist, len_a, len_b, dist_milli, verified) with
    dist_milli = 1000*levenshtein/max(len) and verified iff <=
    max_dist_milli — the exact-verification stage (the Stack/BigCode
    practice) run on CANDIDATES only: levenshtein is O(la*lb) per
    pair, affordable after LSH has cut the pair set, never all-pairs.

    Engine note: Spark's levenshtein counts CHARACTERS (the right
    semantic); DuckDB's counts bytes, so the oracle is exact on
    ASCII corpora (ours is) and the operator's semantic is Spark's.
    At scale add Spark 3.5's threshold argument (early-exit cap) —
    omitted here only because the oracle engine lacks it."""
    t = corpus.select(F.col(id_col).alias("id"),
                      F.col(text_col).alias("t"))
    j = (pairs.select("id_a", "id_b")
         .join(t.withColumnRenamed("id", "id_a")
               .withColumnRenamed("t", "t_a"), "id_a")
         .join(t.withColumnRenamed("id", "id_b")
               .withColumnRenamed("t", "t_b"), "id_b")
         .withColumn("dist", F.levenshtein("t_a", "t_b").cast("bigint"))
         .withColumn("len_a", F.length("t_a").cast("bigint"))
         .withColumn("len_b", F.length("t_b").cast("bigint")))
    milli = F.expr("(1000 * dist) div greatest(greatest(len_a, len_b), "
                   "1L)")
    return (j.select("id_a", "id_b", "dist", "len_a", "len_b",
                     milli.alias("dist_milli"))
            .withColumn("verified",
                        F.col("dist_milli") <= max_dist_milli))


def intra_doc_line_dedup(df: DataFrame, id_col: str = "doc_id",
                         text_col: str = "text",
                         min_line_len: int = 10) -> DataFrame:
    """WITHIN-document repeated-line removal (the doc-local
    counterpart of line_dedup_rebuild's corpus-global pass; C4 applies
    both scopes): a line survives iff it is the first occurrence of
    its text inside ITS OWN document, or shorter than min_line_len
    (the blank/stub guard). Output (id, text, n_lines, n_kept) with
    text rebuilt in original order.

    Zero shuffles — first-occurrence-within-doc is pure array math
    (indexed filter + array_position, which returns the FIRST match
    in both engines). O(L^2) per doc in line count, L is tens for web
    text; documents with pathological line counts are the job of the
    oversize defusal upstream, not this operator."""
    base = df.select(F.col(id_col).alias("id"),
                     F.split(F.col(text_col), "\n").alias("ls"))
    keep = F.filter(
        F.col("ls"),
        lambda x, i: (F.length(x) < min_line_len) |
                     (F.array_position(F.col("ls"), x) == i + 1))
    return (base.withColumn("kept", keep)
            .select("id", F.array_join(F.col("kept"), "\n").alias("text"),
                    F.size("ls").cast("bigint").alias("n_lines"),
                    F.size("kept").cast("bigint").alias("n_kept")))
