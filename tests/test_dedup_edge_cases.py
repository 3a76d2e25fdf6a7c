"""Regression: documents with fewer than k tokens must not crash the
shingle path (Spark's sequence(0,-1) DESCENDS instead of being empty)
and must agree with the DuckDB oracle's empty-shingle behavior."""

import duckdb
import pytest


def test_short_docs_shingle_pipeline(spark):
    from edspdf_spark.operators.dedup import (jaccard_pairs,
                                              minhash_lsh_pairs,
                                              shingle_table)

    rows = [(0, ""), (1, "hello"), (2, "hello world"),
            (3, "one two three"), (4, "one two three four"),
            (5, "one two three four")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    sh = shingle_table(df, k=3)
    got = {(r.id, r.code) for r in sh.collect()}
    # docs 0-2 produce nothing; 3 has one shingle; 4/5 have two each
    assert {i for i, _c in got} == {3, 4, 5}

    # doc3's single shingle is contained in docs 4/5 -> jaccard 1/2,
    # exactly at threshold; (4,5) are identical -> jaccard 1.0
    jp = jaccard_pairs(sh, threshold=0.5).collect()
    assert {(r.id_a, r.id_b) for r in jp} == {(3, 4), (3, 5), (4, 5)}

    ml = {(r.id_a, r.id_b): r.jaccard
          for r in minhash_lsh_pairs(df, k=3, threshold=0.5).collect()}
    assert (4, 5) in ml and ml[(4, 5)] == 1.0
    assert set(ml) <= {(3, 4), (3, 5), (4, 5)}  # LSH may miss subset pairs

    # DuckDB mini-oracle for the shingle counts
    con = duckdb.connect()
    con.sql("CREATE TABLE t AS SELECT * FROM (VALUES (0,''),(1,'hello'),"
            "(2,'hello world'),(3,'one two three'),"
            "(4,'one two three four'),(5,'one two three four'))"
            " v(doc_id, text)")
    o = con.sql("""
      WITH toks AS (SELECT doc_id,
             list_filter(string_split(text,' '), x -> x <> '') t FROM t)
      SELECT doc_id, count(*) FROM (
        SELECT DISTINCT doc_id, unnest(list_transform(
          generate_series(1, greatest(len(t)-2, 0)),
          i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) s
        FROM toks) GROUP BY doc_id ORDER BY doc_id""").fetchall()
    want = {r[0]: r[1] for r in o}
    from collections import Counter
    got_counts = Counter(i for i, _c in got)
    assert dict(got_counts) == want


def test_winnowing_guarantee_shared_substring(spark):
    """Winnowing's core guarantee: two documents sharing a substring of
    length >= w + k - 1 share at least one selected fingerprint."""
    from edspdf_spark.operators.analysis import (WINNOW_K, WINNOW_W,
                                                 winnow_fingerprints)

    shared = "the quick brown fox jumps over it"  # > k + w - 1 chars
    assert len(shared) >= WINNOW_K + WINNOW_W - 1
    df = spark.createDataFrame(
        [(1, "AAAA " + shared + " BBBB"), (2, "xyzzy " + shared + " qq")],
        "doc_id long, text string")
    fps = winnow_fingerprints(df).collect()
    f1 = {r["fp"] for r in fps if r["id"] == 1}
    f2 = {r["fp"] for r in fps if r["id"] == 2}
    assert f1 & f2, "no shared fingerprint for a long shared substring"


def test_winnowing_short_docs_dropped(spark):
    from edspdf_spark.operators.analysis import (WINNOW_K, WINNOW_W,
                                                 winnow_fingerprints)

    df = spark.createDataFrame(
        [(1, "x" * (WINNOW_K + WINNOW_W - 2)), (2, "y" * 40)],
        "doc_id long, text string")
    got = winnow_fingerprints(df).collect()
    assert {r["id"] for r in got} == {2}


# --- containment_pairs -----------------------------------------------------

def test_containment_catches_excerpt_jaccard_misses(spark):
    from edspdf_spark.operators.dedup import (containment_pairs,
                                              jaccard_pairs,
                                              shingle_table)
    big = " ".join(f"w{i}" for i in range(60))
    excerpt = " ".join(f"w{i}" for i in range(10))  # first 10 words
    df = spark.createDataFrame([(1, big), (2, excerpt)],
                               "doc_id long, text string")
    sh = shingle_table(df, k=3)
    # symmetric jaccard: 8 shared shingles / 58 union ~ 0.14 -> missed
    assert jaccard_pairs(sh, threshold=0.5).count() == 0
    got = containment_pairs(sh, threshold=0.9).collect()
    # only the excerpt->big direction passes (8/8 = 1.0); big->excerpt
    # is 8/58 and must NOT appear
    assert [(r.id_src, r.id_dst, r.containment) for r in got] == \
        [(2, 1, 1.0)]
    r = got[0]
    assert (r.inter, r.size_src, r.size_dst) == (8, 8, 58)


def test_containment_symmetric_dup_both_directions(spark):
    from edspdf_spark.operators.dedup import (containment_pairs,
                                              shingle_table)
    t = " ".join(f"w{i}" for i in range(20))
    df = spark.createDataFrame([(1, t), (2, t)],
                               "doc_id long, text string")
    got = sorted((r.id_src, r.id_dst)
                 for r in containment_pairs(shingle_table(df, k=3),
                                            threshold=0.99).collect())
    assert got == [(1, 2), (2, 1)]


# --- hot-shingle doc-frequency cap ----------------------------------------

def test_hot_shingle_cap_kills_stop_shingle_blowup(spark):
    """A stop-shingle present in EVERY doc must not generate the
    quadratic all-pairs set once the (default-on) cap fires: docs
    share only the stop phrase, so after the cap drops it no pair
    survives; uncapped, every pair appears."""
    from edspdf_spark.operators.dedup import (containment_pairs,
                                              jaccard_pairs,
                                              shingle_table)
    stop = "all rights reserved"
    rows = [(i, f"{stop} unique{i}a unique{i}b unique{i}c")
            for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sh = shingle_table(df, k=3)

    # every doc carries the stop shingle -> doc freq 40 > cap 8
    capped = jaccard_pairs(sh, threshold=0.01, min_intersect=1,
                           max_doc_freq=8)
    assert capped.count() == 0
    assert containment_pairs(sh, threshold=0.01, min_intersect=1,
                             max_doc_freq=8).count() == 0
    # explicit opt-out reproduces the uncapped quadratic behavior
    uncapped = jaccard_pairs(sh, threshold=0.01, min_intersect=1,
                             max_doc_freq=None)
    assert uncapped.count() == 40 * 39 // 2


def test_hot_shingle_cap_default_transparent_on_clean_corpus(spark):
    """On a corpus with no hot shingles the default cap must be a
    no-op: identical pair sets and identical jaccard values."""
    from edspdf_spark.operators.dedup import jaccard_pairs, shingle_table
    rows = [(1, "one two three four five"),
            (2, "one two three four six"),
            (3, "seven eight nine ten eleven")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sh = shingle_table(df, k=3)
    got_default = {(r.id_a, r.id_b, r.jaccard)
                   for r in jaccard_pairs(sh, threshold=0.1).collect()}
    got_uncapped = {(r.id_a, r.id_b, r.jaccard)
                    for r in jaccard_pairs(sh, threshold=0.1,
                                           max_doc_freq=None).collect()}
    assert got_default == got_uncapped and got_default


# --- keep_best_per_cluster -------------------------------------------------

def test_keep_best_overrides_min_id(spark):
    """The higher-scoring LARGER id must win (min-id rule would pick
    the other)."""
    from pyspark.sql import functions as F
    from edspdf_spark.operators.components import keep_best_per_cluster
    corpus = spark.createDataFrame(
        [(1, "short"), (2, "a much longer better capture"),
         (3, "singleton")], "doc_id long, text string")
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    scores = corpus.select(
        "doc_id", F.length("text").cast("bigint").alias("score"))
    got = {r.id: r for r in
           keep_best_per_cluster(corpus, pairs, scores).collect()}
    assert not got[1].keep and got[2].keep          # best, not min id
    assert got[1].component == got[2].component == 1
    assert got[3].keep and got[3].component == 3    # singleton


def test_keep_best_tie_breaks_to_smallest_id(spark):
    from edspdf_spark.operators.components import keep_best_per_cluster
    corpus = spark.createDataFrame(
        [(5, "same"), (9, "same")], "doc_id long, text string")
    pairs = spark.createDataFrame([(5, 9)], "id_a long, id_b long")
    scores = spark.createDataFrame([(5, 10), (9, 10)],
                                   "doc_id long, score long")
    got = {r.id: r.keep for r in
           keep_best_per_cluster(corpus, pairs, scores).collect()}
    assert got == {5: True, 9: False}


def test_keep_best_works_with_string_ids(spark):
    """String doc ids (urls) must order correctly in the winner
    struct — the old -id negation only worked for numerics (r3
    ADVICE). Ties break to the lexicographically smallest id."""
    from edspdf_spark.operators.components import keep_best_per_cluster
    corpus = spark.createDataFrame(
        [("https://a.com/x",), ("https://b.com/x",), ("https://c.com/solo",)],
        "doc_id string")
    pairs = spark.createDataFrame(
        [("https://a.com/x", "https://b.com/x")], "id_a string, id_b string")
    scores = spark.createDataFrame(
        [("https://a.com/x", 3), ("https://b.com/x", 7),
         ("https://c.com/solo", 1)], "doc_id string, score long")
    got = {r.id: r.keep for r in
           keep_best_per_cluster(corpus, pairs, scores).collect()}
    assert got == {"https://a.com/x": False, "https://b.com/x": True,
                   "https://c.com/solo": True}
    # tie: smallest id wins, string order
    scores2 = spark.createDataFrame(
        [("https://a.com/x", 7), ("https://b.com/x", 7),
         ("https://c.com/solo", 1)], "doc_id string, score long")
    got2 = {r.id: r.keep for r in
            keep_best_per_cluster(corpus, pairs, scores2).collect()}
    assert got2["https://a.com/x"] and not got2["https://b.com/x"]


# --- edit_verified_pairs ---------------------------------------------------

def test_edit_verification_separates_true_and_false_candidates(spark):
    from edspdf_spark.operators.dedup import edit_verified_pairs
    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy cat"),   # 3 edits
         (3, "a completely different sentence that shares nothing")],
        "doc_id long, text string")
    pairs = spark.createDataFrame([(1, 2), (1, 3)],
                                  "id_a long, id_b long")
    got = {(r.id_a, r.id_b): r
           for r in edit_verified_pairs(corpus, pairs,
                                        max_dist_milli=100).collect()}
    near = got[(1, 2)]
    assert near.dist == 3 and near.verified
    assert near.dist_milli == 1000 * 3 // 43
    far = got[(1, 3)]
    assert not far.verified and far.dist > 20


# --- intra_doc_line_dedup --------------------------------------------------

def test_intra_doc_dedup_scope_is_per_document(spark):
    from edspdf_spark.operators.dedup import intra_doc_line_dedup
    t1 = "a repeated long line\nunique middle text\na repeated long line"
    t2 = "a repeated long line\nother body"     # same line, other doc
    df = spark.createDataFrame([(1, t1), (2, t2)],
                               "doc_id long, text string")
    got = {r.id: r for r in intra_doc_line_dedup(df).collect()}
    assert got[1].text == "a repeated long line\nunique middle text"
    assert (got[1].n_lines, got[1].n_kept) == (3, 2)
    # doc 2 keeps its copy — scope is within-document only
    assert got[2].text == t2 and got[2].n_kept == 2


def test_intra_doc_dedup_short_lines_always_kept(spark):
    from edspdf_spark.operators.dedup import intra_doc_line_dedup
    df = spark.createDataFrame([(1, "ok\nbody line that is long\nok")],
                               "doc_id long, text string")
    r = intra_doc_line_dedup(df).collect()[0]
    assert r.text.count("ok") == 2 and r.n_kept == 3


def test_intra_doc_dedup_zero_shuffle(spark):
    from edspdf_spark.operators.dedup import intra_doc_line_dedup
    df = spark.createDataFrame([(1, "x\ny")], "doc_id long, text string")
    plan = intra_doc_line_dedup(df)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan and "EvalPython" not in plan


def test_domain_hll_matches_global_when_one_group(spark):
    from edspdf_spark.operators.analysis import hll_distinct, hll_distinct_by
    df = spark.createDataFrame(
        [(i, "g", f"text {i % 40}") for i in range(200)],
        "id long, source string, text string")
    by = hll_distinct_by(df, "source", "text").collect()[0]
    g = hll_distinct(df, "text", exact=False).collect()[0]
    assert (by.used_registers, by.s_scaled) == \
        (g.used_registers, g.s_scaled)
    assert by.estimate == g.estimate


# --- lsh_params advisor (pure math, no Spark) ------------------------------

def test_lsh_params_advisor():
    from edspdf_spark.functions import lsh_params
    import pytest as _pytest
    # the contract config: 8 hashes at threshold 0.5 -> bands of 2
    got = lsh_params(0.5, 8)
    assert (got["band_size"], got["n_bands"]) == (2, 4)
    assert got["midpoint"] == _pytest.approx(0.5, abs=0.01)
    # S-curve: catches well above threshold, thins below
    assert got["p_at_125t"] > got["p_at_threshold"] > got["p_at_075t"]
    # high threshold wants wider bands (more specific candidates)
    hi = lsh_params(0.9, 8)
    assert hi["band_size"] >= got["band_size"]
    with _pytest.raises(ValueError):
        lsh_params(1.5, 8)


# --- driver gate: postings path vs join fallback ---------------------------

def _gate_shingles(spark, id_type):
    """The stop-shingle corpus of test_hot_shingle_cap_kills_stop_
    shingle_blowup plus the excerpt pair of test_containment_catches_
    excerpt_jaccard_misses and a near copy; string ids sort differently
    from their numbers ("doc10" < "doc2")."""
    from edspdf_spark.operators.dedup import shingle_table

    stop = "all rights reserved"
    rows = [(i, f"{stop} unique{i}a unique{i}b unique{i}c")
            for i in range(12)]
    big = " ".join(f"w{i}" for i in range(60))
    rows += [(100, big), (101, " ".join(f"w{i}" for i in range(10))),
             (102, big + " tail end")]
    if id_type == "string":
        rows = [(f"doc{i}", t) for i, t in rows]
    df = spark.createDataFrame(rows, f"doc_id {id_type}, text string")
    return shingle_table(df, k=3)


@pytest.mark.parametrize("id_type", ["bigint", "string"])
@pytest.mark.parametrize("max_doc_freq", [None, 8])
def test_pair_gate_refusal_matches_postings(spark, monkeypatch, id_type,
                                            max_doc_freq):
    """A zero PAIR_DRIVER_MAX_BYTES makes the gate refuse; the join
    fallback must return the same (ids, inter, sizes, ratio) rows as
    the broadcast-postings path, bit for bit."""
    from edspdf_spark.operators import dedup

    # shingled on the doc_map path, so the join reads the plan it
    # reads past the text gate
    monkeypatch.setattr(dedup, "TEXT_DRIVER_MAX_BYTES", 0)
    sh = _gate_shingles(spark, id_type)
    calls = []
    orig = dedup._pairs_via_postings
    monkeypatch.setattr(dedup, "_pairs_via_postings",
                        lambda *a: calls.append(1) or orig(*a))

    def run(refused):
        calls.clear()
        jac = {tuple(r) for r in dedup.jaccard_pairs(
            sh, threshold=0.01, max_doc_freq=max_doc_freq).collect()}
        con = {tuple(r) for r in dedup.containment_pairs(
            sh, threshold=0.01, max_doc_freq=max_doc_freq).collect()}
        assert (not calls) == refused
        return jac, con

    postings = run(refused=False)
    monkeypatch.setattr(dedup, "PAIR_DRIVER_MAX_BYTES", 0)
    join = run(refused=True)
    assert postings == join
    jac, con = postings
    assert jac and con
    # the stop shingle pairs every doc only when uncapped
    assert len(jac) == (66 + 3 if max_doc_freq is None else 3)


def test_pair_gate_writes_no_files(spark, monkeypatch):
    """The gate sizes its input in-plan: no driver-local temp dir,
    which executors on other hosts could not see."""
    import tempfile

    from edspdf_spark.operators.dedup import jaccard_pairs

    sh = _gate_shingles(spark, "bigint")

    def no_tmp(*a, **k):
        raise AssertionError("driver gate must not touch the filesystem")

    monkeypatch.setattr(tempfile, "mkdtemp", no_tmp)
    got = {(r.id_a, r.id_b) for r in jaccard_pairs(sh, threshold=0.5)
           .collect()}
    assert got == {(100, 102)}


def test_minhash_lsh_releases_shingles_and_signatures(spark):
    """On the driver path the returned DataFrame is the verified pairs
    themselves, built from the collected shingle table, so no cached
    RDD survives the call."""
    from edspdf_spark.operators.dedup import minhash_lsh_pairs

    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    rows = [(0, ""), (1, "hello"), (2, "hello world"),
            (3, "one two three"), (4, "one two three four"),
            (5, "one two three four")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    before = persisted()
    pairs = minhash_lsh_pairs(df, k=3, threshold=0.5).collect()
    assert (4, 5) in {(r.id_a, r.id_b) for r in pairs}
    assert persisted() - before == set()


# --- near-dup chain: one driver pass vs the distributed chain --------------

_EQUAL_MULTISET_ROWS = [
    (7, "the quick brown fox jumps over the lazy dog again"),
    (7, "the quick brown fox jumps over the lazy dog again"),
    (8, "the quick brown fox jumps over the lazy dog again"),
    (8, "the quick brown fox jumps over the lazy dog again"),
    (9, "the quick brown fox jumps over the lazy dog once")]


def _near_corpus(spark, name):
    """(doc_id, text) inputs for the driver/distributed equality."""
    from test_entry_contract import SF_DIR

    import __spark_entry__ as entry_mod

    if name == "corpus_near":
        return entry_mod._corpus_near(spark, SF_DIR)
    base = ["the quick brown fox jumps over the lazy dog again",
            "the quick brown fox jumps over the lazy dog once",
            "a completely different sentence about other things here",
            "a completely different sentence about other things there"]
    if name == "string_ids":  # "doc10" < "doc2": id order != number
        rows = [(f"doc{i}", base[i % 4]) for i in (1, 2, 3, 10, 11, 20)]
        return spark.createDataFrame(rows, "doc_id string, text string")
    rows = {
        # id 7 twice: its rows are both texts' shingles, still pairing
        "duplicated_id": [(7, base[0]), (7, base[2]), (8, base[1]),
                          (9, base[3]), (10, base[0])],
        # ids 7 and 8 repeat equal rows: their Jaccard denominator is 0
        "equal_multiset_ids": _EQUAL_MULTISET_ROWS,
        "null_id": [(None, base[0]), (1, base[1]), (2, base[0]),
                    (3, base[2]), (None, base[3])],
        "short_docs": [(0, ""), (1, "hello"), (2, "hello world"),
                       (3, "one two three"), (4, "one two three four"),
                       (5, "one two three four"), (6, None)],
        "empty": [],
        # 710 equal docs: 4 bands x C(710, 2) > gate.EDGE_MAX_ROWS
        "one_big_bucket": [(i, "alpha beta gamma delta")
                           for i in range(710)] + [(999, base[0])],
    }[name]
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.mark.parametrize("name", ["corpus_near", "string_ids",
                                  "duplicated_id", "equal_multiset_ids",
                                  "null_id", "short_docs", "empty",
                                  "one_big_bucket"])
def test_minhash_driver_pass_matches_distributed_chain(spark, monkeypatch,
                                                       name):
    """minhash_lsh_pairs and dedup_keep_list give the same rows on the
    driver pass and with both driver gates refused (the distributed
    chain). Only a bucket set whose in-bucket pairs exceed
    gate.EDGE_MAX_ROWS leaves the driver pass for the fallback."""
    from edspdf_spark.operators import dedup
    from edspdf_spark.operators.components import dedup_keep_list
    from edspdf_spark.plans import gate

    df = _near_corpus(spark, name)
    calls = []
    orig = dedup.lsh_candidates
    monkeypatch.setattr(dedup, "lsh_candidates",
                        lambda *a: calls.append(1) or orig(*a))

    def run():
        pairs = dedup.minhash_lsh_pairs(df, k=3, n_hashes=8, band_size=2,
                                        threshold=0.5)
        keep = dedup_keep_list(df, pairs)
        return (sorted(map(tuple, pairs.collect()), key=repr),
                sorted(map(tuple, keep.collect()), key=repr))

    drv = run()
    assert bool(calls) == (name == "one_big_bucket")
    with monkeypatch.context() as m:
        m.setattr(dedup, "TEXT_DRIVER_MAX_BYTES", 0)
        m.setattr(dedup, "PAIR_DRIVER_MAX_BYTES", 0)
        m.setattr(gate, "EDGE_MAX_ROWS", 0)
        dist = run()
    assert drv == dist
    pairs, keep = drv
    assert bool(pairs) == (name != "empty")
    if name == "one_big_bucket":
        assert len(pairs) == 710 * 709 // 2
    if name == "equal_multiset_ids":
        assert {p[:2] for p in pairs} == {(7, 9), (8, 9)}
        assert (7, 9, 1.4) in pairs  # a repeated id is a multiset


@pytest.mark.parametrize("name", ["corpus_near", "string_ids",
                                  "duplicated_id", "null_id",
                                  "short_docs", "empty"])
def test_text_gate_refusal_matches_driver_shingles(spark, monkeypatch,
                                                   name):
    """shingle_table within TEXT_DRIVER_MAX_BYTES (shingled on the
    driver) and past it (the doc_map path) give the same rows,
    and so do the pair operators and minhash_lsh_pairs built on them:
    bigint and string ids, a repeated id, a NULL id, NULL text and an
    empty input."""
    from edspdf_spark.operators import dedup
    from edspdf_spark.plans import salt

    df = _near_corpus(spark, name)
    maps = []
    orig = salt.doc_map
    monkeypatch.setattr(salt, "doc_map",
                        lambda *a: maps.append(1) or orig(*a))

    def run():
        def rows(out):
            return sorted(map(tuple, out.collect()), key=repr)

        sh = dedup.shingle_table(df, k=3)
        return (rows(sh),
                rows(dedup.jaccard_pairs(sh, threshold=0.3)),
                rows(dedup.containment_pairs(sh, threshold=0.5)),
                rows(dedup.minhash_lsh_pairs(df, k=3, threshold=0.5)))

    drv = run()
    assert not maps
    # below any size, the empty input's 0 bytes included
    monkeypatch.setattr(dedup, "TEXT_DRIVER_MAX_BYTES", -1)
    assert run() == drv
    assert maps
    assert bool(drv[0]) == (name != "empty")


def test_equal_multiset_ids_jaccard_matches_refused_gate(spark, monkeypatch):
    """Two ids repeating equal row multisets have size_a + size_b -
    inter == 0: the postings kernel and the refused gate's self-join
    both drop that pair (no inf, no DIVIDE_BY_ZERO) and agree on the
    rest, bit for bit, including a ratio above 1."""
    from edspdf_spark.operators import dedup

    df = spark.createDataFrame(_EQUAL_MULTISET_ROWS,
                               "doc_id long, text string")
    sh = dedup.shingle_table(df, k=3)

    def run():
        return {tuple(r) for r in dedup.jaccard_pairs(
            sh, threshold=0.0, max_doc_freq=None).collect()}

    postings = run()
    monkeypatch.setattr(dedup, "PAIR_DRIVER_MAX_BYTES", 0)
    assert run() == postings
    assert {r[:2] for r in postings} == {(7, 9), (8, 9)}
    # id 7's two rows are a multiset: 7 shared shingles twice over
    assert (7, 9, 14, 16, 8, 1.4) in postings


def test_minhash_fallback_leaves_no_cache(spark, monkeypatch):
    """With both driver gates refused, minhash_lsh_pairs releases every
    Dataset it cached: the CacheManager is empty after the call, and
    the returned pairs still read."""
    from edspdf_spark.operators import dedup
    from edspdf_spark.plans import gate

    monkeypatch.setattr(dedup, "TEXT_DRIVER_MAX_BYTES", 0)
    monkeypatch.setattr(dedup, "PAIR_DRIVER_MAX_BYTES", 0)
    monkeypatch.setattr(gate, "EDGE_MAX_ROWS", 0)
    df = _near_corpus(spark, "duplicated_id")
    spark.catalog.clearCache()
    pairs = dedup.minhash_lsh_pairs(df, k=3, threshold=0.5)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert pairs.count()


def _query_jobs(spark, run_in_job_group, query):
    from test_entry_contract import SF_DIR

    import __spark_entry__ as entry_mod

    jobs, _ = run_in_job_group(
        f"q_{query}", lambda: entry_mod.queries()[query](spark, SF_DIR))
    return jobs


def test_dedup_components_job_count(spark, run_in_job_group):
    """The near-dup chain plus its keep-list is one collect of the
    text and one driver pass: at most 5 Spark jobs for
    q_dedup_components at sf0.01 (4 measured; 11 with the shingling on
    executors; the distributed chain ran 29)."""
    jobs = _query_jobs(spark, run_in_job_group, "dedup_components")
    assert 0 < len(jobs) <= 5, jobs


def test_dedup_jaccard_job_count(spark, run_in_job_group):
    """q_dedup_jaccard at sf0.01 runs at most 3 Spark jobs (2
    measured; 6 with the shingling and the postings task on
    executors)."""
    jobs = _query_jobs(spark, run_in_job_group, "dedup_jaccard")
    assert 0 < len(jobs) <= 3, jobs


@pytest.mark.parametrize("query", ["dedup_jaccard", "dedup_components",
                                   "bm25_topk", "lm_ppl_buckets",
                                   "regdomain_stats"])
def test_corpus_ops_queries_run_no_python_stage(spark, monkeypatch,
                                                run_in_job_group, query):
    """No corpus_ops query starts a Python worker at sf0.01: no Python
    map is built while the query is planned (the gated paths run their
    jobs then), and its final plan has no Python stage."""
    from pyspark.sql import GroupedData
    from test_entry_contract import SF_DIR
    from test_index import _PY_STAGES

    import __spark_entry__ as entry_mod

    calls = []

    def spy(cls, name):
        orig = getattr(cls, name)
        monkeypatch.setattr(cls, name, lambda *a, **k: calls.append(
            name) or orig(*a, **k))

    for name in ("mapInArrow", "mapInPandas"):
        spy(type(spark.range(1)), name)
    for name in ("applyInPandas", "applyInArrow"):
        spy(GroupedData, name)
    _, plan = run_in_job_group(
        f"q_{query}", lambda: entry_mod.queries()[query](spark, SF_DIR))
    assert not calls, calls
    assert not any(p in plan for p in _PY_STAGES), plan


def test_dedup_components_leaves_no_cache(spark):
    """q_dedup_components owns its storage: the persistent RDD set is
    the same before and after the query runs."""
    from test_entry_contract import SF_DIR

    import __spark_entry__ as entry_mod

    spark.catalog.clearCache()
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    assert entry_mod.q_dedup_components(spark, SF_DIR).count()
    assert set(spark.sparkContext._jsc.getPersistentRDDs().keys()) == before


# --- Python twins of the portable text primitives --------------------------

TWIN_TEXTS = {
    "empty": "",
    "all_space": "   ",
    "double_space": "a  b c",
    "lead_trail": " lead and trail ",
    "tab_newline": "tab\there new\nline x",
    "accents": "café é crème brûlée",
    "cjk": "中文 分词 测试 文本",
    "astral": "emoji 😀 astral 𝄞 clef",
    "long_token": "x" * 10_000 + " y z",
}


@pytest.mark.parametrize("text", list(TWIN_TEXTS.values()),
                         ids=list(TWIN_TEXTS))
def test_python_twins_match_spark_and_duckdb(spark, text):
    """tokens_py equals Spark `tokens`; code15_py equals Spark `code15`
    and DuckDB `code15_sql`; ngrams_py with step 1 and step n equals
    the windows DuckDB cuts, and the codes shingle_table and
    passage_dedup emit are those windows' codes."""
    from edspdf_spark.functions import (code15, code15_py, code15_sql,
                                        ngrams_py, tokens, tokens_py)
    from edspdf_spark.operators.dedup import passage_dedup, shingle_table

    n = 2
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    row = df.select(tokens("text").alias("tk"),
                    code15("text").alias("code")).first()
    toks = tokens_py(text)
    assert toks == row.tk
    duck_code = duckdb.execute(f"SELECT {code15_sql('?')}",
                               [text]).fetchone()[0]
    assert code15_py(text) == row.code == duck_code

    def duck_windows(step):
        return duckdb.execute(f"""
            WITH s AS (SELECT list_filter(string_split(?, ' '),
                                          w -> w <> '') AS t),
            g AS (SELECT [array_to_string(list_slice(t, i, i + {n - 1}),
                                          ' ')
                          FOR i IN generate_series(1, len(t) - {n - 1},
                                                   {step})] AS w
                  FROM s)
            SELECT w, [{code15_sql('x')} FOR x IN w] FROM g""",
                              [text]).fetchone()

    shingles, shingle_codes = duck_windows(1)
    passages, passage_codes = duck_windows(n)
    assert ngrams_py(toks, n) == shingles
    assert ngrams_py(toks, n, n) == passages
    assert [code15_py(g) for g in shingles] == shingle_codes
    got = [r.code for r in shingle_table(df, k=n).collect()]
    assert got == list(dict.fromkeys(shingle_codes))
    got = [r.passage_code for r in passage_dedup(df, k=n)
           .orderBy("passage_idx").collect()]
    assert got == passage_codes


def test_md5_code_format_has_one_owner():
    """The md5-prefix code format is written out in functions/ only:
    every kernel calls code15_py, so Spark, DuckDB and Python cannot
    drift apart."""
    import pathlib

    import edspdf_spark

    root = pathlib.Path(edspdf_spark.__file__).parent
    owners = sorted(str(p.relative_to(root)) for p in root.rglob("*.py")
                    if "hexdigest()[:15]" in p.read_text("utf-8"))
    assert owners == ["functions/__init__.py"]


def test_pair_fallback_reads_the_shingles_once(spark, monkeypatch):
    """Past both caps (text and pair), jaccard_pairs / containment_pairs
    return a plan that no longer holds the Python shingling: the
    fallback reads a checkpoint of the table the sizing pass cached, so
    acting on the result does not shingle again. Rows equal the
    within-cap path's."""
    from edspdf_spark.operators import dedup

    df = (spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
          .orderBy("doc_id").limit(300))

    def run():
        sh = dedup.shingle_table(df, k=3)
        return [dedup.jaccard_pairs(sh, threshold=0.3),
                dedup.containment_pairs(sh, threshold=0.5)]

    def rows(out):
        return sorted(map(tuple, out.collect()), key=repr)

    want = [rows(out) for out in run()]
    monkeypatch.setattr(dedup, "TEXT_DRIVER_MAX_BYTES", 0)
    monkeypatch.setattr(dedup, "PAIR_DRIVER_MAX_BYTES", 0)
    for out, exp in zip(run(), want):
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "MapInArrow" not in plan, plan
        assert rows(out) == exp
    assert want[0] and want[1]
