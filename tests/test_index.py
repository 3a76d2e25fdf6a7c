"""Inverted index + co-occurrence PMI (operators/index.py)."""

from edspdf_spark.operators.index import cooc_pairs, inverted_index


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_inverted_index_postings(spark):
    df = spark.createDataFrame(
        [(1, "a b a c"), (2, "b b"), (3, "")],
        "doc_id long, text string")
    got = {(r.term, r.doc_id): r
           for r in inverted_index(df).collect()}
    assert got[("a", 1)].tf == 2
    assert got[("a", 1)].positions == "0,2"
    assert got[("a", 1)].df == 1
    assert got[("b", 1)].positions == "1"
    assert got[("b", 2)].tf == 2 and got[("b", 2)].positions == "0,1"
    assert got[("b", 1)].df == 2
    assert all(t != "" for t, _ in got)          # empty doc emits nothing


def test_cooc_window_and_counts(spark):
    df = spark.createDataFrame(
        [(i, "x y z x y") for i in range(5)], "doc_id long, text string")
    got = {(r.a, r.b): r for r in
           cooc_pairs(df, window=2, min_count=5).collect()}
    # per doc: (x,y)@d1 twice, (y,z), (z,x), (x,z)@d2, (y,x)@d2, (z,y)@d2
    assert got[("x", "y")].c_pair == 10          # 2 per doc * 5 docs
    assert got[("y", "z")].c_pair == 5
    assert got[("x", "z")].c_pair == 5           # distance-2 pair
    assert ("y", "q") not in got
    r = got[("x", "y")]
    total = 35  # (4 dist-1 + 3 dist-2) pairs per doc * 5 docs
    assert r.c_a == 10 and r.c_b == 10
    want = (r.c_pair.bit_length() - 1) + (total.bit_length() - 1) \
        - (r.c_a.bit_length() - 1) - (r.c_b.bit_length() - 1)
    assert r.pmi_ilog2 == want


def test_min_count_floor(spark):
    df = spark.createDataFrame([(1, "p q p q")],
                               "doc_id long, text string")
    assert cooc_pairs(df, min_count=5).count() == 0
    assert cooc_pairs(df, min_count=1).count() > 0


def test_plans_broadcast_small_sides(spark):
    df = spark.createDataFrame([(1, "a b c a b")],
                               "doc_id long, text string")
    p1 = _plan(inverted_index(df))
    assert "EvalPython" not in p1 and "BroadcastHashJoin" in p1, p1
    p2 = _plan(cooc_pairs(df, min_count=1))
    assert "EvalPython" not in p2 and "BroadcastHashJoin" in p2, p2


# --- bm25_topk -------------------------------------------------------------

def test_bm25_ranks_relevance(spark):
    from edspdf_spark.operators.index import bm25_topk
    filler = " ".join(f"f{i}" for i in range(20))
    df = spark.createDataFrame(
        [(1, f"apple apple apple {filler}"),     # high tf, short-ish
         (2, f"apple {filler} {filler}"),        # low tf, long
         (3, f"banana {filler}"),                # other query term
         (4, filler)],                           # no hits
        "doc_id long, text string")
    got = {r.doc_id: r for r in
           bm25_topk(df, ["apple", "banana"], top_k=10).collect()}
    assert 4 not in got                          # non-hits absent
    assert got[1].score_scaled > got[2].score_scaled   # tf + length norm
    assert got[1].rk == 1
    assert got[3].n_hit_terms == 1 and got[1].n_hit_terms == 1


def test_bm25_multi_term_beats_single(spark):
    from edspdf_spark.operators.index import bm25_topk
    filler = " ".join(f"f{i}" for i in range(20))
    df = spark.createDataFrame(
        [(1, f"apple banana {filler}"), (2, f"apple {filler}"),
         (3, filler)],
        "doc_id long, text string")
    got = {r.doc_id: r for r in
           bm25_topk(df, ["apple", "banana"]).collect()}
    assert got[1].n_hit_terms == 2
    assert got[1].score_scaled > got[2].score_scaled


def test_bm25_partition_invariant(spark):
    from edspdf_spark.operators.index import bm25_topk
    df = spark.createDataFrame(
        [(i, f"w{i % 11} apple w{i % 7} banana w{i}" * (1 + i % 3))
         for i in range(60)], "doc_id long, text string")
    a = sorted(map(tuple, bm25_topk(df, ["apple", "banana"]).collect()))
    b = sorted(map(tuple, bm25_topk(df.repartition(9),
                                    ["apple", "banana"]).collect()))
    assert a == b


def test_bm25_and_lm_repeated_id_and_empty_edges(spark):
    """Edge rows both token operators must keep: a repeated id sums
    its rows into one doc (BM25 ranks it once; the LM reports the id's
    totals on each of its input rows), and NULL / empty / one-token
    texts score no bigram but still get an LM row."""
    from edspdf_spark.operators.analysis import lm_perplexity_buckets
    from edspdf_spark.operators.index import bm25_topk
    df = spark.createDataFrame(
        [(1, "hash join a b"), (1, "window hash c"), (2, "hash x y z"),
         (3, None), (4, ""), (5, "join")], "doc_id long, text string")
    got = sorted(map(tuple, bm25_topk(
        df, ["hash", "join", "window"], top_k=10).collect()))
    assert got == [(1, 54065, 3, 1), (2, 20000, 1, 3), (5, 28860, 1, 2)]
    no_bigram = [(3, 0, None, None), (4, 0, None, None),
                 (5, 0, None, None)]
    rows = [(1, 5, -3, -0.6)] * 2 + [(2, 3, -1, -1 / 3)] + no_bigram
    got = sorted(map(tuple, lm_perplexity_buckets(df).collect()))
    assert got == sorted(
        r + (b,) for r, b in zip(rows, ["head", "middle", "head",
                                        "middle", "tail", "tail"]))
    got = sorted(map(tuple, lm_perplexity_buckets(
        df, cutoffs=(-0.5, -1.0)).collect()))
    assert got == sorted(
        r + (b,) for r, b in zip(rows, ["middle", "middle", "head",
                                        "tail", "tail", "tail"]))


_PY_STAGES = ("EvalPython", "MapInArrow", "MapInPandas", "FlatMapGroups")


def test_bm25_topk_job_count(spark, run_in_job_group):
    """q_bm25_topk at sf0.01 runs at most 5 Spark jobs (the token
    explode plan ran 13): one codegen row per doc, no Generate, no
    Python stage."""
    from test_entry_contract import SF_DIR

    import __spark_entry__ as entry_mod

    jobs, plan = run_in_job_group(
        "q_bm25_topk", lambda: entry_mod.q_bm25_topk(spark, SF_DIR))
    assert 0 < len(jobs) <= 5, jobs
    assert "isFinalPlan=true" in plan, plan
    assert "Generate" not in plan, plan
    assert not any(p in plan for p in _PY_STAGES), plan


def test_lm_ppl_buckets_job_count(spark, run_in_job_group):
    """q_lm_ppl_buckets at sf0.01 runs at most 7 Spark jobs (the plan
    with a base join ran 13), with no Python stage. Its final plan has
    three Generates: the position explode, once for the per-doc side
    and once under the count table's one exchange, and the replay of
    a repeated id's rows. The count table is combined map-side (a
    partial count over the rollup's Expand) and its one broadcast is
    reused by the second probe."""
    from test_entry_contract import SF_DIR

    import __spark_entry__ as entry_mod

    jobs, plan = run_in_job_group(
        "q_lm_ppl_buckets",
        lambda: entry_mod.q_lm_ppl_buckets(spark, SF_DIR))
    assert 0 < len(jobs) <= 7, jobs
    assert "isFinalPlan=true" in plan, plan
    assert not any(p in plan for p in _PY_STAGES), plan
    assert plan.count("Generate posexplode") == 2, plan
    assert plan.count("Generate ") <= 3, plan
    assert "Expand" in plan and "partial_count(1)" in plan, plan
    assert plan.count("ReusedExchange") == 1, plan
