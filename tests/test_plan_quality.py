"""Physical-plan hygiene: the properties that make this engine hold at
100TB must be visible in explain() — column pruning into the scan,
broadcast of the mask dim, zero shuffles in the fused path, no Python
in native operators."""

import pytest

from edspdf_spark import synth
from edspdf_spark.operators import (PipelineConfig, blocs, extract,
                                    mask_classify, masks_df, run_fused)
from edspdf_spark.plans import defuse_skew


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.fixture(scope="module")
def pages_parquet(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("pq") / "pages")
    synth.pages_spark(spark, 20, num_partitions=2).write.parquet(path)
    return spark.read.parquet(path)


CFG = PipelineConfig(masks=[(None, 0.1, 0.9, 0.1, 0.9, "body")],
                     threshold=0.1)


def test_extract_prunes_scan_to_url_html(pages_parquet):
    """Only (url, html) reach the Python worker; the parquet scan must
    not read warc_ts/text/lang."""
    plan = _plan(extract(pages_parquet))
    scan_line = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scan_line, plan
    schema = scan_line[0].split("ReadSchema:")[1]
    assert "url" in schema and "html" in schema
    assert "warc_ts" not in schema and "lang" not in schema


def test_fused_pipeline_has_no_shuffle(pages_parquet):
    """scan -> mapInArrow -> (sink): zero Exchange nodes."""
    plan = _plan(run_fused(pages_parquet, CFG))
    assert "Exchange" not in plan, plan


def test_fused_with_salting_has_exactly_one_shuffle(pages_parquet):
    plan = _plan(run_fused(defuse_skew(pages_parquet, 8), CFG))
    assert plan.count("Exchange") == 1, plan


def test_mask_classify_broadcasts_masks(spark, pages_parquet):
    plan = _plan(mask_classify(blocs(extract(pages_parquet)),
                               masks_df(spark, [("b", "body", 0.1, 0.1,
                                                 0.9, 0.9, None)]),
                               threshold=0.1))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, \
        plan
    # overlap math must be columnar, not a Python UDF
    assert "EvalPython" not in plan


def test_dedup_exact_single_shuffle(spark, tmp_path_factory):
    from edspdf_spark.operators.dedup import exact_dedup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(exact_dedup(docs))
    # one hash aggregate with a partial (map-side) phase: two
    # HashAggregate nodes around exactly one Exchange of the 16-byte key
    assert plan.count("Exchange") == 1, plan
    assert plan.count("HashAggregate") == 2, plan
    assert "EvalPython" not in plan


def test_analysis_ops_are_pythonless(spark):
    from edspdf_spark.operators.analysis import fingerprint, text_quality

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for op in (text_quality, fingerprint):
        plan = _plan(op(docs))
        assert "EvalPython" not in plan, (op.__name__, plan)
        assert "Exchange" not in plan, (op.__name__, plan)  # pure map


def test_lang_id_is_scan_local_arrow_kernel(spark):
    """lang_id is a doc-local Arrow kernel: one MapInArrow straight on
    the scan (zero Exchange), never a per-row EvalPython stage."""
    from edspdf_spark.operators.analysis import lang_id

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(lang_id(docs))
    assert "MapInArrow" in plan, plan
    assert "EvalPython" not in plan, plan
    assert "Exchange" not in plan, plan


def test_simsearch_scoring_is_arrow_matmul(spark):
    """brute_force_topk: the N x Q scoring is ONE Arrow matmul stage
    with a per-task top-k cut (closed-over query matrix — no crossJoin
    materializing N x Q rows); only tasks x queries x k candidates
    reach the final merge window."""
    from pyspark.sql import functions as F

    from edspdf_spark.operators.simsearch import brute_force_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = _plan(brute_force_topk(emb, emb.where(F.col("vec_id") % 50 == 0)))
    assert "MapInArrow" in plan, plan
    assert "EvalPython" not in plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Join" not in plan, plan


def test_ivf_scoring_is_pythonless(spark):
    from pyspark.sql import functions as F

    from edspdf_spark.operators.simsearch import ivf_topk, kmeans_fit

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    sample = [list(r.embedding) for r in emb.limit(16).collect()]
    plan = _plan(ivf_topk(emb, emb.where(F.col("vec_id") % 50 == 0),
                          kmeans_fit(sample, k=4, iters=3)))
    assert "EvalPython" not in plan  # no per-row Python anywhere
    # assignment is ONE Arrow matmul stage; no posexplode-style row
    # amplification on the corpus side (the two Generates are the
    # query-side probe explode and the k-bounded top-k posexplode)
    assert plan.count("MapInArrow") == 1, plan
    assert plan.count("Generate") <= 2, plan
    # and the struct-topk replaced the per-query Window sort entirely
    assert "Window" not in plan, plan


def test_ivf_assignment_preserves_rows(spark):
    """Null / wrong-dim vectors keep their row (cell = -1) and
    duplicate rows are not collapsed — assignment is 1:1."""
    from edspdf_spark.operators.simsearch import _with_cell

    df = spark.createDataFrame(
        [(1, [1000, 0]), (1, [1000, 0]), (2, None), (3, [1, 2, 3]),
         (4, [-1000, 0])],
        "id long, qv array<bigint>")
    got = _with_cell(df, [[900, 0], [-900, 0]]).collect()
    assert len(got) == 5
    cells = sorted((r.id, r.cell) for r in got)
    assert cells == [(1, 0), (1, 0), (2, -1), (3, -1), (4, 1)]


def test_lsh_candidates_shuffles_do_not_scale_with_bands(spark,
                                                          monkeypatch):
    """lsh_candidates is ONE explode + ONE self-join on the composite
    (band_idx, values) key: its Exchange count is a constant (pinned),
    and doubling the band count must not add shuffles (the round-1
    per-band-join shape scaled Exchanges linearly with bands)."""
    from edspdf_spark.operators import dedup
    from edspdf_spark.operators.dedup import (lsh_candidates,
                                              minhash_signatures,
                                              shingle_table)

    # the doc_map shingling, which a corpus past the text gate runs
    monkeypatch.setattr(dedup, "TEXT_DRIVER_MAX_BYTES", 0)
    df = spark.createDataFrame(
        [(i, f"w{i} x y z a b c d e f g h" * 3) for i in range(40)],
        "doc_id long, text string")
    sh = shingle_table(df)

    sigs = minhash_signatures(sh, 8)

    def n_exchanges(band_size):
        plan = _plan(lsh_candidates(sigs, band_size))
        assert "EvalPython" not in plan
        return plan.count("Exchange")

    four_bands, two_bands = n_exchanges(2), n_exchanges(4)
    assert four_bands == two_bands
    # +1 vs the pre-kernel shape: shingle_table's compute-spread
    # round-robin repartition ahead of the Arrow shingling stage
    assert four_bands <= 7, four_bands


def test_simhash_single_shuffle_no_bit_explode(spark):
    """simhash is a doc-local Arrow kernel: the fingerprint never
    leaves the task that read the document — the only Exchange is the
    compute-spread repartition, no token explode (Generate), no
    groupBy of token rows."""
    from edspdf_spark.operators.dedup import simhash

    df = spark.createDataFrame(
        [(i, f"w{i} alpha beta gamma") for i in range(40)],
        "doc_id long, text string")
    plan = _plan(simhash(df, bits=16))
    # spread_compute is conditional: 0 exchanges on an already-wide
    # input, 1 on a narrow scan
    assert plan.count("Exchange") <= 1, plan
    assert "EvalPython" not in plan
    assert plan.count("MapInArrow") == 1, plan
    assert "Generate" not in plan, plan


def test_winnow_fingerprints_plan(spark):
    """Winnowing is doc-local: ONE Arrow kernel stage, no per-char
    explode (Generate), no per-doc sort window, no per-row Python.
    Its one row-preserving repartition is doc_map's compute spread:
    present on an input narrower than the core count, absent on one
    already as wide (createDataFrame gives defaultParallelism
    partitions)."""
    from edspdf_spark.operators.analysis import winnow_fingerprints

    df = spark.createDataFrame(
        [(1, "hello world this is a document with text")],
        "doc_id long, text string")
    for src, exchanges in ((df.coalesce(1), 1), (df, 0)):
        plan = _plan(winnow_fingerprints(src))
        assert "EvalPython" not in plan
        assert plan.count("MapInArrow") == 1, plan
        assert plan.count("Exchange") == exchanges, plan
        assert "Generate" not in plan, plan
        assert "Window" not in plan, plan


def test_gopher_quality_is_scan_local(spark):
    """The Gopher rule filter is a pure projection: zero shuffles,
    zero Python, zero regex."""
    from edspdf_spark.operators.analysis import gopher_quality

    df = spark.createDataFrame([(1, "some text with the and that")],
                               "doc_id long, text string")
    plan = _plan(gopher_quality(df))
    assert "EvalPython" not in plan
    assert "Exchange" not in plan


def test_passage_dedup_single_shuffle(spark):
    """Passage dedup: one doc-local Arrow kernel (no Generate), the
    compute-spread repartition and the first-occurrence window's
    exchange on the 15-byte code — exact_dedup's profile at
    sub-document granularity."""
    from edspdf_spark.operators.dedup import passage_dedup

    df = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta") for i in range(10)],
        "doc_id long, text string")
    plan = _plan(passage_dedup(df, k=3))
    assert "EvalPython" not in plan
    assert plan.count("MapInArrow") == 1, plan
    assert "Generate" not in plan, plan
    # the window's code exchange, plus the conditional compute spread
    assert 1 <= plan.count("Exchange") <= 2, plan
    got = passage_dedup(df, k=3).collect()
    assert len(got) == 20  # 2 passages x 10 docs
    # identical passages: exactly one keeper each
    assert sum(1 for r in got if r.keep) == 2


def test_token_count_is_scan_local(spark):
    """token_count is a pure projection: zero shuffles, zero Python."""
    from edspdf_spark.operators.analysis import token_count

    df = spark.createDataFrame([(1, "some text 42")],
                               "doc_id long, text string")
    plan = _plan(token_count(df))
    assert "EvalPython" not in plan
    assert "Exchange" not in plan


def test_bloc_embed_python_stages_are_bounded(spark):
    """The bloc-embedding chain has exactly TWO Python stages (extract
    parse + text-embed kernel); the box-layout embedding adds native
    expressions only, and the chain stays shuffle-free."""
    import __spark_entry__ as entry_mod

    df = entry_mod.q_bloc_embed(spark, "/root/testdata/sf0.01")
    plan = _plan(df)
    assert plan.count("MapInPandas") + plan.count("MapInArrow") == 3, \
        plan  # synth generator + extract + text embed
    assert "Exchange" not in plan, plan


def test_connected_components_lineage_is_truncated(spark, monkeypatch):
    """Distributed path (forced via a zero driver-gate row cap): after
    convergence the result plan must be a checkpoint scan, not a
    nested join tree (the OOM failure mode)."""
    from edspdf_spark.operators.components import connected_components
    from edspdf_spark.plans import gate

    pairs = spark.createDataFrame([(1, 2), (2, 3), (10, 11)],
                                  "id_a long, id_b long")
    monkeypatch.setattr(gate, "EDGE_MAX_ROWS", 0)
    comp = connected_components(pairs)
    plan = _plan(comp)
    assert "Scan ExistingRDD" in plan or "LocalTableScan" in plan, plan
    assert plan.count("Join") == 0, plan  # lineage truncated
    got = {(r.id, r.component) for r in comp.collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}


def test_connected_components_paths_agree_and_guard_convergence(
        spark, monkeypatch):
    """The driver union-find fast path and the distributed propagation
    must label identically; the distributed path must still raise
    loudly when max_iter is too small for the diameter."""
    import pytest as _pytest

    from edspdf_spark.operators.components import connected_components
    from edspdf_spark.plans import gate

    # chain (diameter 6) + clique + singleton pair, shuffled order
    edges = ([(i, i + 1) for i in range(7, 1, -1)]
             + [(100, 101), (101, 102), (100, 102), (200, 201)])
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    fast = {(r.id, r.component)
            for r in connected_components(pairs).collect()}
    monkeypatch.setattr(gate, "EDGE_MAX_ROWS", 0)
    dist = {(r.id, r.component)
            for r in connected_components(pairs).collect()}
    assert fast == dist
    assert (2, 2) in fast and (7, 2) in fast  # chain collapses to min
    with _pytest.raises(RuntimeError, match="converge"):
        connected_components(pairs, max_iter=2)


def test_filter_pushdown_reaches_scan(pages_parquet):
    """Catalyst pushes url predicates into the parquet source."""
    from pyspark.sql import functions as F

    df = pages_parquet.where(F.col("url") > "https://example.org/doc/00000010")
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(url), GreaterThan(url," in plan, plan


def test_gopher_repetition_plan(spark):
    """Repetition rules are doc-local: ONE Arrow kernel, one
    compute-spread repartition, no explode/window/Python-UDF."""
    from edspdf_spark.operators.analysis import gopher_repetition

    df = spark.createDataFrame([(1, "a b\na b")],
                               "doc_id long, text string")
    plan = _plan(gopher_repetition(df))
    assert "EvalPython" not in plan
    assert plan.count("MapInArrow") == 1, plan
    assert plan.count("Exchange") <= 1, plan
    assert "Generate" not in plan and "Window" not in plan, plan


def test_pack_sequences_avoids_global_window(spark):
    """The packing plan must not contain a partition-less Window sort
    (the single-task corpus funnel); its only exchange is the range
    repartition feeding the partition-local cumsum."""
    from edspdf_spark.operators.pack import pack_sequences

    df = spark.createDataFrame([(i, "a b c") for i in range(10)],
                               "doc_id long, text string")
    out = pack_sequences(df, seq_len=4, num_partitions=4)
    plan = _plan(out)
    # result is localCheckpoint-ed (boundary-stability of the sampled
    # range partitioner), so the visible plan is the checkpoint scan
    assert "Window" not in plan, plan
    assert "Scan ExistingRDD" in plan, plan


def test_hash_split_and_url_normalize_are_scan_local(spark):
    from edspdf_spark.operators.sampling import hash_split
    from edspdf_spark.operators.urls import url_normalize

    df = spark.createDataFrame([(1, "http://a.org/x")],
                               "doc_id long, url string")
    for out in (hash_split(df), url_normalize(df)):
        plan = _plan(out)
        assert "EvalPython" not in plan, plan
        assert "Exchange" not in plan, plan


def test_latest_by_key_is_partial_aggregable(spark):
    """latest_by_key must compile to partial+final HashAggregate or
    ObjectHashAggregate around ONE exchange — not a window sort over
    every capture row."""
    from datetime import datetime

    from edspdf_spark.operators.dedup import latest_by_key

    df = spark.createDataFrame(
        [("u", datetime(2024, 1, 1), 1, "x")],
        "url string, warc_ts timestamp, cap_id long, body string")
    plan = _plan(latest_by_key(df, "url", "warc_ts", "cap_id"))
    assert plan.count("Exchange") == 1, plan
    assert "Window" not in plan, plan
    assert "EvalPython" not in plan
    assert ("HashAggregate" in plan or "SortAggregate" in plan
            or "ObjectHashAggregate" in plan), plan


def test_domain_stats_single_corpus_shuffle(spark):
    """One exchange for the groupBy; the share-of-corpus window runs
    over the aggregated domain rows, not the corpus."""
    from edspdf_spark.operators.analysis import domain_stats

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(domain_stats(docs))
    assert "EvalPython" not in plan
    # exchanges: corpus->domain hash, distinct-lang expand, and the
    # tiny single-partition exchange feeding the share window — the
    # corpus itself is shuffled exactly once
    assert plan.count("Exchange") <= 3, plan


def test_blocklist_filter_is_broadcast_anti(spark):
    """The corpus side must not shuffle: broadcast anti join only."""
    from edspdf_spark.operators.urls import blocklist_filter

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    bl = spark.createDataFrame([("src1",)], "domain string")
    plan = _plan(blocklist_filter(docs, bl))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    assert "EvalPython" not in plan
    # the only exchange is the tiny broadcast of the blocklist
    assert "Exchange hashpartitioning" not in plan, plan


def test_int8_quantize_is_scan_local(spark):
    from edspdf_spark.operators.simsearch import int8_quantize

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = _plan(int8_quantize(emb))
    assert "EvalPython" not in plan
    assert "Exchange" not in plan


def test_bigram_coverage_codes_travel_not_strings(spark):
    """Both passes shuffle 15-byte codes: the optimized plan must not
    carry the bigram STRING through any exchange."""
    from edspdf_spark.operators.analysis import bigram_coverage

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = bigram_coverage(docs)
    plan = _plan(out)
    assert "EvalPython" not in plan
    opt = _optimized(out)
    # the concat that builds the bigram string must be consumed by the
    # md5 in the same projection (pushed below every exchange)
    for ln in opt.splitlines():
        if "Exchange" in ln:
            assert "concat" not in ln


def test_pii_scrub_is_scan_local(spark):
    from edspdf_spark.operators.analysis import pii_scrub

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(pii_scrub(docs))
    assert "EvalPython" not in plan
    assert "Exchange" not in plan


def test_line_dedup_two_shuffles(spark):
    """line dedup: one Generate (the line explode), the ranking
    exchange on the 15-byte code and the rebuild exchange on id —
    nothing else."""
    from edspdf_spark.operators.dedup import line_dedup_rebuild

    df = spark.createDataFrame([(1, "aaaaaaaaaaaa\nbbbbbbbbbbbb")],
                               "doc_id long, text string")
    plan = _plan(line_dedup_rebuild(df))
    assert "EvalPython" not in plan
    assert plan.count("Generate") == 1, plan
    assert plan.count("Exchange") <= 3, plan


def test_quality_classify_plan(spark):
    """fastText-style scoring is doc-local: ONE Arrow kernel behind
    the conditional compute-spread — no feature explode, no
    groupBy(id) shuffle, zero per-row Python."""
    from edspdf_spark.operators.analysis import quality_classify

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(quality_classify(docs))
    assert "EvalPython" not in plan
    assert plan.count("MapInArrow") == 1, plan
    assert "Generate" not in plan, plan
    assert plan.count("Exchange") <= 1, plan


def test_substring_dedup_plan(spark):
    """ExactSubstr: window codes travel as BIGINTs, bounded exchanges
    (spread, rank-by-hash, removed-set groupBy, rebuild join), no
    Python."""
    from edspdf_spark.operators.dedup import substring_dedup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(substring_dedup(docs, w=5))
    assert "EvalPython" not in plan
    assert plan.count("Exchange") <= 6, plan


def test_decontaminate_broadcasts_benchmark(spark):
    """The corpus side must meet the benchmark codes via broadcast."""
    from edspdf_spark.operators.dedup import decontaminate

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    bench = docs.where("doc_id % 29 = 0")
    plan = _plan(decontaminate(docs.where("doc_id % 29 <> 0"), bench))
    assert "EvalPython" not in plan
    assert "BroadcastHashJoin" in plan, plan


def test_lm_buckets_cutoff_path_has_no_global_window(spark):
    """With frozen cutoffs (the 10^12-doc path) bucketing is pure
    comparison: no Window sort anywhere; count tables broadcast."""
    from edspdf_spark.operators.analysis import lm_perplexity_buckets

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(lm_perplexity_buckets(docs, cutoffs=(-4.5, -4.7)))
    assert "EvalPython" not in plan
    assert "Window" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_badwords_filter_is_scan_local(spark):
    from edspdf_spark.operators.analysis import word_blocklist_filter

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(word_blocklist_filter(docs, ["dup"]))
    assert "EvalPython" not in plan
    assert "Exchange" not in plan and "Generate" not in plan, plan


def test_token_budget_window_is_domain_partitioned(spark):
    """The running sum must run inside domain partitions — one hash
    exchange, never a partition-less (single-task) window."""
    from edspdf_spark.operators.analysis import token_budget_select

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(token_budget_select(docs, 1000))
    assert "EvalPython" not in plan
    assert "Window" in plan, plan
    assert "SinglePartition" not in plan, plan
    assert plan.count("Exchange") == 1, plan


def test_semantic_dedup_assignment_is_arrow(spark):
    from edspdf_spark.operators.simsearch import semantic_dedup

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = _plan(semantic_dedup(emb, [[0] * 64, [1000] * 64]))
    assert "EvalPython" not in plan
    # ONE assignment kernel instance (the old join shape instantiated
    # it three times) + the grouped per-cell scoring stage; the
    # occupancy guard now raises inside that stage (behavioral test:
    # test_webtext_ops.test_semantic_dedup_occupancy_guard_fires)
    assert plan.count("MapInArrow") == 1, plan
    assert "FlatMapGroupsInPandas" in plan, plan
    # two exchanges: the assignment kernel's compute-spread and the
    # one cell-key shuffle feeding the per-cell scoring
    assert plan.count("Exchange") == 2, plan


def test_knn_classify_brute_plan(spark):
    from pyspark.sql import functions as F

    from edspdf_spark.operators.simsearch import knn_classify

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = _plan(knn_classify(emb, emb.where(F.col("vec_id") % 50 == 0)))
    assert "EvalPython" not in plan
    assert "MapInArrow" in plan, plan                # scoring side
    assert "BroadcastHashJoin" in plan, plan         # label vote side


def test_warc_render_is_native_and_parse_is_one_arrow_stage(spark):
    from pyspark.sql import functions as F

    from edspdf_spark.sources.warc import (parse_warc_column,
                                           render_warc_record)

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    blobs = docs.select(render_warc_record(
        F.col("doc_id").cast("string"), F.lit("t"),
        F.col("text")).alias("blob"))
    assert "EvalPython" not in _plan(blobs)
    assert "MapInArrow" not in _plan(blobs)
    full = _plan(parse_warc_column(blobs, "blob"))
    assert full.count("MapInArrow") == 1, full
    assert "Exchange" not in full, full


def test_dsir_weights_scoring_is_doc_local(spark):
    """The bucket-count tables (bounded by `buckets`) are collected
    at build time; the visible scoring plan is ONE Arrow kernel with
    the closed log-ratio array — no corpus-side join, no groupBy(id)
    shuffle, no per-row Python."""
    from edspdf_spark.operators.analysis import dsir_weights

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(dsir_weights(docs, docs.where("lang = 'en'")))
    assert "EvalPython" not in plan
    assert "Join" not in plan, plan
    assert plan.count("MapInArrow") == 1, plan
    assert plan.count("Exchange") <= 1, plan


def test_shingle_cap_bounded_distinct_exchanges(spark, monkeypatch):
    """The doc-freq guard's plan (jaccard_pairs with the default cap):
    the shingle table is explicitly repartitioned on `code`, so the
    pair self-join's far side reuses that one exchange instead of
    recomputing the explode+hash scan (r5: measured -18% at 10x rows
    vs the per-branch shape). Pinned as the audit counts: distinct
    canonicalized shuffles stay bounded, at least one ReusedExchange
    fires, and no Python stage appears. Compiled with AQE off so the
    static ReuseExchange rule exposes what AQE's runtime stage-level
    dedup does for the production plan."""
    from edspdf_spark.operators import dedup
    from edspdf_spark.operators.dedup import jaccard_pairs, shingle_table

    df = spark.createDataFrame(
        [(i, f"alpha beta gamma delta w{i} epsilon zeta") for i in range(30)],
        "doc_id long, text string")

    def walk(node):
        yield node, node.nodeName()
        ch = node.children()
        for i in range(ch.size()):
            yield from walk(ch.apply(i))

    old = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        # zero byte caps pin the doc_map shingling and the JOIN
        # fallback (the 100-TB path); within the gates the driver
        # shingling and the broadcast-postings kernel run instead
        monkeypatch.setattr(dedup, "TEXT_DRIVER_MAX_BYTES", 0)
        monkeypatch.setattr(dedup, "PAIR_DRIVER_MAX_BYTES", 0)
        out = jaccard_pairs(shingle_table(df, k=3), threshold=0.5)
        plan = out._jdf.queryExecution().executedPlan()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old)

    shuffles = set()
    reused = 0
    for n, name in walk(plan):
        if name == "Exchange":
            shuffles.add(n.canonicalized().semanticHash())
        elif name == "ReusedExchange":
            reused += 1
        assert "EvalPython" not in name, name
    # compute-spread repartition + code-repartition + freq partial agg
    # + pair groupBy + two size joins (id_a / id_b) + sizes groupBy --
    # bounded regardless of corpus width; a regression to per-branch
    # explodes adds more.
    assert len(shuffles) <= 7, plan.toString()
    assert reused >= 1, plan.toString()


def test_every_persist_is_released_by_its_function():
    """Static cache-ownership guard: in every function under
    edspdf_spark/, a name bound to `<expr>.persist()` / `.cache()`, or
    persisted by the statement `name.persist()` / `name.cache()`, is
    also released with `name.unpersist()` in that same function."""
    import ast
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent / "edspdf_spark"

    def cached_call(node):
        return (isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("persist", "cache"))

    unowned = set()
    for path in sorted(root.rglob("*.py")):
        module = path.relative_to(root).as_posix()
        for fn in ast.walk(ast.parse(path.read_text())):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            cached, released = set(), set()
            for node in ast.walk(fn):
                if isinstance(node, ast.Assign) and cached_call(node.value):
                    cached |= {t.id for t in node.targets
                               if isinstance(t, ast.Name)}
                elif (isinstance(node, ast.Expr) and cached_call(node.value)
                      and isinstance(node.value.func.value, ast.Name)):
                    cached.add(node.value.func.value.id)
                elif (isinstance(node, ast.Call)
                      and isinstance(node.func, ast.Attribute)
                      and node.func.attr == "unpersist"
                      and isinstance(node.func.value, ast.Name)):
                    released.add(node.func.value.id)
            unowned |= {(module, fn.name, n) for n in cached - released}
    assert unowned == set()


# Python-stage call sites framed by hand rather than by plans/salt.py's
# batch_map / group_map, each with the reason it cannot use them.
_HAND_FRAMED = {
    ("operators/simsearch.py", "cosine_bucket_pairs"):
        "applyInPandas: works on whole groups",
    ("operators/simsearch.py", "semantic_dedup"):
        "applyInPandas: works on whole groups",
    ("streaming/stateful.py", "streaming_first_seen"):
        "applyInPandasWithState: keeps state across micro-batches",
    ("streaming/stateful.py", "streaming_near_dup_bands"):
        "applyInPandasWithState: keeps state across micro-batches",
    ("operators/analysis.py", "_bucket_totals"):
        "carries per-task partial counts across batches",
    ("operators/analysis.py", "cm_token_counts"):
        "carries per-task partial counts across batches",
    ("operators/simsearch.py", "brute_force_topk"):
        "carries a per-task top-k heap across batches",
    ("operators/pack.py", "pack_sequences"):
        "carries the open sequence across batches",
    ("operators/simsearch.py", "_with_cell"):
        "passes every input column through untouched",
    ("operators/simsearch.py", "int8_quantize"):
        "works on the vector column's Arrow buffers directly",
    ("operators/embeddings.py", "_pool_token_matrix"):
        "passes every input column through and works on pandas frames",
    ("operators/dedup.py", "_pairs_via_postings"):
        "broadcast block tasks over a spark.range, not a row map",
    ("sources/warc.py", "parse_warc_column"):
        "reads whole-file blobs one at a time; a batch to_pylist would "
        "hold every file of the batch as Python bytes at once",
    ("synth.py", "pages_spark"):
        "a fixture generator with a timestamp column",
}


def test_python_stages_go_through_the_batch_scaffolds():
    """Static framing guard: every mapInArrow / mapInPandas /
    applyInPandas / applyInPandasWithState call under edspdf_spark/
    sits in plans/salt.py's batch_map or group_map, or in one of the
    hand-framed functions listed above with its reason."""
    import ast
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent / "edspdf_spark"
    stages = ("mapInArrow", "mapInPandas", "applyInPandas",
              "applyInPandasWithState")
    calls = []
    for path in sorted(root.rglob("*.py")):
        module = path.relative_to(root).as_posix()
        for top in ast.parse(path.read_text()).body:
            calls += [(module, getattr(top, "name", "<module>"))
                      for node in ast.walk(top)
                      if isinstance(node, ast.Call)
                      and isinstance(node.func, ast.Attribute)
                      and node.func.attr in stages]
    scaffolds = {("plans/salt.py", "batch_map"),
                 ("plans/salt.py", "group_map")}
    assert sorted(set(calls) - scaffolds) == sorted(_HAND_FRAMED)
    assert len(calls) == len(set(calls)) == 16
