"""Unit tests for the webtext training-data operators added in round 3:
Gopher repetition rules, sequence packing, hash-split sampling, URL
normalization, latest-capture dedup, per-domain stats.

The sf0.01 corpus has no newlines, so the line/paragraph repetition
rules are pinned here on hand-computed multi-line documents (the
oracle contract test covers the n-gram math end-to-end)."""

import pytest
from pyspark.sql import functions as F  # noqa: N812


def _repetition(spark, texts):
    from edspdf_spark.operators.analysis import gopher_repetition

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    rows = {r["id"]: r.asDict()
            for r in gopher_repetition(df).collect()}
    return rows


def test_repetition_line_and_para_metrics(spark):
    # lines: "a b" x2 + the long line -> 1 dup line of 3 chars;
    # paragraphs: both distinct. text length = 26.
    text = "a b\na b\n\nc d e c d e c d e"
    assert len(text) == 26
    r = _repetition(spark, [text])[0]
    assert r["dup_line_frac"] == pytest.approx(1 / 3, abs=0)
    assert r["dup_para_frac"] == 0.0
    assert r["dup_line_char_frac"] == 3 / 26
    # tokens: a b a b c d e c d e c d e -> top 2-gram "c d" (or "d e"),
    # 3 occurrences x 3 chars = 9
    assert r["top2gram_char_frac"] == 9 / 26
    # 5-grams "c d e c d" and "d e c d e" each occur twice (overlap
    # counted): (2*9 + 2*9) / 26
    assert r["dup5gram_char_frac"] == 36 / 26


def test_repetition_empty_and_none(spark):
    rows = _repetition(spark, ["", None])
    for rid in (0, 1):
        r = rows[rid]
        assert r["keep"] is True
        assert r["dup_line_frac"] == 0.0
        assert r["top2gram_char_frac"] == 0.0


def test_repetition_rejects_duplicate_paragraphs(spark):
    para = "word one two three four five six seven"
    text = "\n\n".join([para] * 10)
    r = _repetition(spark, [text])[0]
    assert r["dup_para_frac"] == 0.9
    assert r["keep"] is False


def test_repetition_accepts_normal_prose(spark):
    # 80 distinct words: every n-gram occurs once, so each top-n-gram
    # fraction is one gram's chars over the whole doc — far below the
    # thresholds for any document long enough to pass the companion
    # gopher_quality min-words rule (short docs are ITS job to drop)
    text = " ".join(f"word{i:02d}" for i in range(80))
    r = _repetition(spark, [text])[0]
    assert r["keep"] is True
    assert r["dup5gram_char_frac"] == 0.0


def _pack(spark, texts, seq_len, p=3):
    from edspdf_spark.operators.pack import pack_sequences

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    rows = pack_sequences(df, seq_len=seq_len, num_partitions=p).collect()
    return sorted((r["id"], r["n_tokens"], r["start_offset"],
                   r["first_seq"], r["last_seq"], r["n_seqs"])
                  for r in rows)


def test_pack_sequences_straddle_and_empty(spark):
    texts = ["a b c", "", "d e f g", "h", "i j"]  # 3,0,4,1,2 tokens
    got = _pack(spark, texts, seq_len=4)
    # offsets: 0,3,3,7,8 — doc 2 straddles seqs 0..1, doc 1 is empty
    assert got == [
        (0, 3, 0, 0, 0, 1),
        (1, 0, 3, 0, 0, 1),
        (2, 4, 3, 0, 1, 2),
        (3, 1, 7, 1, 1, 1),
        (4, 2, 8, 2, 2, 1),
    ]


def test_pack_sequences_offsets_are_a_prefix_sum(spark):
    # many docs across many partitions: the two-phase sum must equal
    # the direct cumulative sum regardless of partition boundaries
    texts = [f"{'tok ' * (i % 7)}".strip() for i in range(100)]
    got = _pack(spark, texts, seq_len=5, p=8)
    acc = 0
    for (i, n, start, first, last, nseq) in got:
        assert start == acc, f"doc {i}"
        assert first == start // 5
        assert last == (start + max(n, 1) - 1) // 5
        assert nseq == last - first + 1
        acc += n


def test_hash_split_is_stable_and_proportioned(spark):
    from edspdf_spark.operators.sampling import hash_split

    df = spark.createDataFrame([(i,) for i in range(2000)], "doc_id long")
    a = {r["id"]: (r["bucket"], r["split"])
         for r in hash_split(df).collect()}
    b = {r["id"]: (r["bucket"], r["split"])
         for r in hash_split(df.repartition(7)).collect()}
    assert a == b  # partitioning-independent
    from collections import Counter
    frac = Counter(s for _, s in a.values())
    assert 0.85 < frac["train"] / 2000 < 0.95
    assert frac["val"] > 0 and frac["test"] > 0
    # a different salt reassigns, same salt is a pure function of id
    c = {r["id"]: r["split"]
         for r in hash_split(df, salt="other").collect()}
    assert any(c[i] != a[i][1] for i in a)


def test_hash_split_rejects_bad_weights(spark):
    from edspdf_spark.operators.sampling import hash_split

    df = spark.createDataFrame([(1,)], "doc_id long")
    with pytest.raises(ValueError):
        hash_split(df, weights={"train": 1, "val": 1})


def test_latest_by_key_tie_break(spark):
    from datetime import datetime

    from edspdf_spark.operators.dedup import latest_by_key

    t = datetime(2024, 1, 1)
    rows = [("u1", t, 1, "a"), ("u1", t, 3, "b"), ("u1", t, 2, "c"),
            ("u2", datetime(2024, 2, 2), 9, "d"),
            ("u2", datetime(2024, 1, 5), 99, "e")]
    df = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, cap_id long, body string")
    got = {r["url"]: (r["last_cap_id"], r["last_body"], r["n_captures"])
           for r in latest_by_key(df, "url", "warc_ts", "cap_id").collect()}
    assert got == {"u1": (3, "b", 3),   # equal ts -> max tie col wins
                   "u2": (9, "d", 2)}   # later ts wins over bigger tie


def test_domain_stats_shares_sum_to_one(spark):
    from edspdf_spark.operators.analysis import domain_stats

    df = spark.createDataFrame(
        [(1, "aa bb", "en", "s1"), (2, "cc", "en", "s1"),
         (3, "dd ee ff", "fr", "s2")],
        "doc_id long, text string, lang string, source string")
    rows = {r["domain"]: r for r in domain_stats(df).collect()}
    assert rows["s1"]["n_docs"] == 2 and rows["s1"]["n_tokens"] == 3
    assert rows["s2"]["n_langs"] == 1
    assert sum(r["share_chars"] for r in rows.values()) == pytest.approx(1.0)


def test_url_normalize_canonical_forms(spark):
    from edspdf_spark.operators.urls import url_normalize

    rows = [(0, "HTTPS://www.Example.COM:443/a/b/?b=2&a=1#frag"),
            (1, "http://example.com:80/a/b?a=1&b=2"),
            (2, "http://host.org/"),
            (3, "http://example.com:8080/x")]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    got = {r["id"]: (r["url_norm"], r["host"], r["path"], r["n_params"])
           for r in url_normalize(df).collect()}
    assert got[0] == ("https://example.com/a/b?a=1&b=2",
                      "example.com", "/a/b", 2)
    assert got[1] == ("http://example.com/a/b?a=1&b=2",
                      "example.com", "/a/b", 2)
    assert got[2] == ("http://host.org", "host.org", "", 0)
    # non-default port survives
    assert got[3] == ("http://example.com:8080/x",
                      "example.com:8080", "/x", 0)


def test_url_normalize_collapses_capture_variants(spark):
    # the operator's purpose: variants of one resource share a key
    from edspdf_spark.operators.urls import url_normalize

    variants = ["http://www.site.org/page?a=1&b=2",
                "HTTP://SITE.org:80/page/?b=2&a=1",
                "http://site.org/page?a=1&b=2#top"]
    df = spark.createDataFrame(list(enumerate(variants)),
                               "doc_id long, url string")
    norms = {r["url_norm"] for r in url_normalize(df).collect()}
    assert norms == {"http://site.org/page?a=1&b=2"}


def test_blocklist_filter_drops_blocked_domains(spark):
    from edspdf_spark.operators.urls import blocklist_filter

    df = spark.createDataFrame(
        [(1, "good.org"), (2, "spam.biz"), (3, "fine.net")],
        "doc_id long, source string")
    bl = spark.createDataFrame([("spam.biz",)], "domain string")
    kept = {r["doc_id"] for r in blocklist_filter(df, bl).collect()}
    assert kept == {1, 3}


def test_int8_quantize_bounds_and_zero_vector(spark):
    from edspdf_spark.operators.simsearch import int8_quantize

    df = spark.createDataFrame(
        [(1, [0.5, -1.0, 0.25]), (2, [0.0, 0.0]), (3, [2.0])],
        "vec_id long, embedding array<float>")
    rows = {r["id"]: r for r in int8_quantize(df).collect()}
    assert rows[1]["qvec"] == [64, -127, 32]  # round(0.5*127), ...
    assert rows[1]["scale"] == 1.0 and rows[1]["l1"] == 223
    assert rows[2]["qvec"] == [0, 0] and rows[2]["scale"] == 0.0
    assert rows[3]["qvec"] == [127]
    assert all(abs(q) <= 127 for r in rows.values() for q in r["qvec"])


def test_sessionize_gap_boundary(spark):
    from datetime import datetime, timedelta

    from edspdf_spark.streaming.windowed import sessionize

    t0 = datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        ("u", t0, 1.0),                            # session 1
        ("u", t0 + timedelta(minutes=29), 2.0),    # merges (< gap)
        ("u", t0 + timedelta(minutes=59), 4.0),    # exactly at the
        # session end (29m + 30m gap): Spark's boundary is INCLUSIVE,
        # so this still merges — the oracle mirrors `diff > gap`
        ("u", t0 + timedelta(minutes=90), 16.0),   # 31m later: new
        ("v", t0, 8.0),
    ]
    df = spark.createDataFrame(
        rows, "user_id string, ts timestamp, value double")
    got = sorted((r["key"], r["session_start"], r["session_end"],
                  r["n_events"], r["sum_value_centi"])
                 for r in sessionize(df, gap="30 minutes").collect())
    from datetime import timedelta as td
    assert got == [
        ("u", t0, t0 + td(minutes=89), 3, 700),
        ("u", t0 + td(minutes=90), t0 + td(minutes=120), 1, 1600),
        ("v", t0, t0 + td(minutes=30), 1, 800),
    ]


def test_sessionize_streaming_matches_batch(spark, tmp_path):
    import os

    from edspdf_spark.streaming.windowed import sessionize

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    in_dir, out_dir, ck = (str(tmp_path / d) for d in ("in", "out", "ck"))
    os.makedirs(in_dir)
    events.write.mode("append").parquet(in_dir)
    src = spark.readStream.schema(events.schema).parquet(in_dir)
    q = (sessionize(src).writeStream.format("parquet")
         .option("path", out_dir).option("checkpointLocation", ck)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    got = spark.read.parquet(out_dir).toPandas()
    want = sessionize(events).toPandas()
    wmap = {(r.key, r.session_start): (r.session_end, r.n_events,
                                       r.sum_value_centi)
            for r in want.itertuples()}
    assert len(got) > 0  # watermark may withhold the newest sessions
    for r in got.itertuples():
        assert wmap[(r.key, r.session_start)] == \
            (r.session_end, r.n_events, r.sum_value_centi)


def test_url_normalize_is_idempotent(spark):
    """Canonical form must be a fixpoint: normalizing an already
    normalized URL changes nothing (over the full messy-URL grammar
    the oracle query exercises)."""
    import __spark_entry__ as entry_mod
    from edspdf_spark.operators.urls import url_normalize

    df = spark.range(0, 300).selectExpr(
        "id AS doc_id", f"{entry_mod._MESSY_URL_SQL} AS url")
    once = url_normalize(df).select(
        "id", F.col("url_norm").alias("url"))
    twice = url_normalize(once, id_col="id")
    bad = twice.where(F.col("url") != F.col("url_norm")).count()
    assert bad == 0


def test_bigram_coverage_separates_off_distribution_docs(spark):
    from edspdf_spark.operators.analysis import bigram_coverage

    common = "the cat sat on the mat"
    rows = [(i, common) for i in range(5)]           # in-distribution
    rows.append((5, "zq xv jk wq pl mn"))            # garbled outlier
    rows.append((6, "x"))                            # < 2 tokens
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["id"]: r for r in bigram_coverage(df, min_df=3).collect()}
    assert got[0]["coverage"] == 1.0
    assert got[5]["coverage"] == 0.0
    assert got[6]["n_bigrams"] == 0 and got[6]["coverage"] == 0.0


def test_line_dedup_first_occurrence_and_short_guard(spark):
    from edspdf_spark.operators.dedup import line_dedup_rebuild

    rows = [(0, "a repeated boilerplate line\nunique body zero\n-"),
            (1, "a repeated boilerplate line\nunique body one\n-"),
            (2, "unique body two\na repeated boilerplate line")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["id"]: r for r in line_dedup_rebuild(df).collect()}
    # doc 0 wins the duplicate line; short "-" lines always survive
    assert got[0]["text"] == \
        "a repeated boilerplate line\nunique body zero\n-"
    assert got[1]["text"] == "unique body one\n-"
    assert got[2]["text"] == "unique body two"
    assert (got[1]["n_lines"], got[1]["n_kept"]) == (3, 2)


def test_pii_scrub_redacts_and_counts(spark):
    from edspdf_spark.operators.analysis import pii_scrub

    rows = [(0, "mail a.b+c@ex-ample.org now"),
            (1, "call +123 456 7890 or 555-123-4567"),
            (2, "host 192.168.0.1 up"),
            (3, "clean text only")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["id"]: r for r in pii_scrub(df).collect()}
    assert got[0]["text"] == "mail <EMAIL> now"
    assert got[0]["n_emails"] == 1
    assert got[1]["text"] == "call <PHONE> or <PHONE>"
    assert got[1]["n_phones"] == 2
    assert got[2]["text"] == "host <IP> up" and got[2]["n_ips"] == 1
    assert got[3]["text"] == "clean text only"
    assert (got[3]["n_emails"], got[3]["n_phones"], got[3]["n_ips"]) \
        == (0, 0, 0)


def test_stratified_sample_rates_and_determinism(spark):
    from edspdf_spark.operators.sampling import stratified_sample

    rows = [(i, ["a", "b", "c"][i % 3]) for i in range(3000)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = stratified_sample(df, {"a": 500, "b": 0})
    got = {r["doc_id"] for r in out.collect()}
    again = {r["doc_id"]
             for r in stratified_sample(df.repartition(5),
                                        {"a": 500, "b": 0}).collect()}
    assert got == again  # repartition-stable
    from collections import Counter
    kept = Counter(s for i, s in rows if i in got)
    assert kept["b"] == 0            # rate 0 drops the domain
    assert kept["c"] == 1000         # default keeps everything
    assert 400 <= kept["a"] <= 600   # ~half survive


def test_substring_dedup_removes_later_occurrences(spark):
    from edspdf_spark.operators.dedup import substring_dedup

    df = spark.createDataFrame(
        [(0, "a b c d e"),        # holds the FIRST "a b c"
         (1, "x y a b c q"),      # dup "a b c" at pos 3..5 -> cut
         (2, "p q r p q r p q r"),  # self-repetition
         (3, "z z")],             # shorter than the window: untouched
        "doc_id long, text string")
    rows = {r["id"]: r.asDict()
            for r in substring_dedup(df, w=3).collect()}
    assert rows[0]["text"] == "a b c d e"
    assert rows[0]["n_removed"] == 0
    assert rows[1]["text"] == "x y q"
    assert rows[1]["n_removed"] == 3
    # windows pos 4..7 are dups of pos 1..3 -> positions 4..9 cut
    assert rows[2]["text"] == "p q r"
    assert rows[2]["n_removed"] == 6
    assert rows[3]["text"] == "z z"
    assert rows[3]["n_tokens"] == 2


def test_substring_dedup_first_occurrence_is_global_order(spark):
    from edspdf_spark.operators.dedup import substring_dedup

    # the same window in two docs: the LOWER doc_id keeps it
    df = spark.createDataFrame(
        [(7, "k l m"), (2, "k l m")], "doc_id long, text string")
    rows = {r["id"]: r.asDict()
            for r in substring_dedup(df, w=3).collect()}
    assert rows[2]["n_removed"] == 0
    assert rows[7]["n_removed"] == 3
    assert rows[7]["text"] == ""


def test_decontaminate_flags_benchmark_overlap(spark):
    from edspdf_spark.operators.dedup import decontaminate

    bench = spark.createDataFrame(
        [(100, "m n o p")], "doc_id long, text string")
    train = spark.createDataFrame(
        [(0, "q r m n s"),   # shares the 2-gram "m n"
         (1, "u v w"),       # clean
         (2, "n o p p n o")],  # shares "n o" and "o p" (distinct: 2)
        "doc_id long, text string")
    rows = {r["id"]: r.asDict()
            for r in decontaminate(train, bench, k=2).collect()}
    assert rows[0]["n_overlap"] == 1 and rows[0]["contaminated"]
    assert rows[1]["n_overlap"] == 0 and not rows[1]["contaminated"]
    assert rows[2]["n_overlap"] == 2 and rows[2]["contaminated"]


def test_quality_classify_matches_manual_hash_kernel(spark):
    import hashlib

    from edspdf_spark.operators.analysis import (QC_BUCKETS, QC_LCG,
                                                 QC_MOD, quality_classify)

    text = "the quick brown fox the quick"
    toks = text.split(" ")
    feats = toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]

    def weight(f, cls):
        code = int(hashlib.md5(f.encode()).hexdigest()[:15], 16)
        b = code % QC_BUCKETS
        a, c = QC_LCG[cls]
        return ((b + 1) * a + c) % QC_MOD % 201 - 100

    s0 = sum(weight(f, 0) for f in feats)
    s1 = sum(weight(f, 1) for f in feats)
    df = spark.createDataFrame([(0, text)], "doc_id long, text string")
    r = quality_classify(df).collect()[0]
    assert r["n_features"] == len(feats)
    assert r["score0"] == s0
    assert r["score1"] == s1
    assert r["label"] == (1 if s1 > s0 else 0)


def test_lm_ppl_buckets_hand_counts(spark):
    from edspdf_spark.operators.analysis import lm_perplexity_buckets

    # corpus counts: c1(a)=3 c1(b)=3 c1(c)=1 c1(x)=1;
    # c2("a b")=3, c2("b a")=1, c2("b c")=1; ilog2: 3->1, 1->0
    df = spark.createDataFrame(
        [(0, "a b a b"), (1, "a b c"), (2, "x")],
        "doc_id long, text string")
    rows = {r["id"]: r.asDict()
            for r in lm_perplexity_buckets(df).collect()}
    assert rows[0]["logq"] == -1 and rows[0]["n_bigrams"] == 3
    assert rows[1]["logq"] == -1 and rows[1]["n_bigrams"] == 2
    assert rows[2]["logq"] is None and rows[2]["n_bigrams"] == 0
    assert abs(rows[0]["avg_logq"] - (-1 / 3)) < 1e-12
    # exact-tercile path: best avg -> head, NULL -> last bucket
    assert rows[0]["bucket"] == "head"
    assert rows[1]["bucket"] == "middle"
    assert rows[2]["bucket"] == "tail"


def test_lm_ppl_buckets_frozen_cutoffs(spark):
    from edspdf_spark.operators.analysis import lm_perplexity_buckets

    df = spark.createDataFrame(
        [(0, "a b a b"), (1, "a b c"), (2, "x")],
        "doc_id long, text string")
    rows = {r["id"]: r["bucket"]
            for r in lm_perplexity_buckets(
                df, cutoffs=(-0.4, -0.6)).collect()}
    assert rows == {0: "head", 1: "middle", 2: "tail"}


def test_cosine_bucket_pairs_edge_cases(spark):
    """Within one sign bucket (band_dims=2): a zero-norm vector never
    pairs (its cosine is NULL in the DuckDB oracle, which drops the
    pair); vectors of different lengths never pair; equal ids never
    pair (each copy still pairs with the other ids); NULL vectors are
    dropped."""
    import math
    from collections import Counter

    from edspdf_spark.operators.simsearch import cosine_bucket_pairs

    rows = [(1, [0.0, 0.0, 0.0]),    # zero norm: pairs with nothing
            (2, [1.0, 1.0, 1.0]),
            (11, [1.0, 1.0, -1.0]),  # cos 1/3 with 2: below threshold
            (3, [1.0, 1.0]),         # same bucket, length 2: pairs
            (5, [2.0, 2.0]),         # with 5 only
            (7, [-1.0, -1.0, 5.0]),  # bucket 0: the two id-7 copies
            (7, [-1.0, -1.0, 5.0]),  # never pair with each other,
            (8, [-1.0, -1.0, 5.0]),  # each pairs with 8
            (9, None), (10, None)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def cos(a, b):
        qa = [round(x * 1000) for x in a]
        qb = [round(x * 1000) for x in b]
        dot = sum(x * y for x, y in zip(qa, qb))
        return dot / (math.sqrt(sum(x * x for x in qa))
                      * math.sqrt(sum(x * x for x in qb)))

    got = Counter((r["id_a"], r["id_b"], r["cos"])
                  for r in cosine_bucket_pairs(df, threshold=0.9,
                                               band_dims=2).collect())
    c78 = cos([-1.0, -1.0, 5.0], [-1.0, -1.0, 5.0])
    assert got == Counter({(3, 5, cos([1.0, 1.0], [2.0, 2.0])): 1,
                           (7, 8, c78): 2})


def test_semantic_dedup_keeps_first_per_cluster(spark):
    from edspdf_spark.operators.simsearch import semantic_dedup

    cents = [[1000, 0], [-1000, 0]]
    df = spark.createDataFrame(
        [(0, [1.0, 0.01]),       # cluster 0, first -> kept
         (1, [1.0, 0.0100001]),  # ~identical, larger id -> dropped
         (2, [-1.0, 0.0]),       # cluster 1, alone -> kept
         (3, [0.0, 1.0]),        # cluster 0 but orthogonal -> kept
         (4, None),              # invalid vector -> cell -1, kept
         (5, [0.0, 0.0])],       # zero norm: NULL cosine, kept
        "vec_id long, embedding array<float>")
    rows = {r["id"]: r.asDict()
            for r in semantic_dedup(df, cents, threshold=0.95).collect()}
    assert rows[0]["keep"] and rows[0]["cell"] == 0
    assert not rows[1]["keep"] and rows[1]["cell"] == 0
    assert rows[2]["keep"] and rows[2]["cell"] == 1
    assert rows[3]["keep"] and rows[3]["cell"] == 0
    assert rows[4]["keep"] and rows[4]["cell"] == -1
    assert rows[5]["keep"] and rows[5]["cell"] == 0


def test_semantic_dedup_occupancy_guard_fires(spark):
    """10x the data into frozen cells: when a cell's occupancy
    exceeds max_cell_rows the query must RAISE at execution instead
    of silently going quadratic (r3 VERDICT — the sqrt(N) cell rule
    is enforced, not advisory)."""
    import pytest
    from edspdf_spark.operators.simsearch import semantic_dedup

    cents = [[1000, 0], [-1000, 0]]
    # 10 replicas x 12 rows, all in cell 0 -> occupancy 120
    rows = [(rep * 100 + i, [1.0, i / 1000.0])
            for rep in range(10) for i in range(12)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    with pytest.raises(Exception, match="max_cell_rows"):
        semantic_dedup(df, cents, threshold=0.99,
                       max_cell_rows=50).collect()
    # same data, guard within bound -> runs
    ok = semantic_dedup(df, cents, threshold=0.99, max_cell_rows=200)
    assert ok.count() == 120
    # explicit opt-out reproduces the unguarded behavior
    ign = semantic_dedup(df, cents, threshold=0.99, max_cell_rows=50,
                         on_oversize="ignore")
    assert sorted(map(tuple, ign.collect())) == \
        sorted(map(tuple, ok.collect()))


def test_semantic_dedup_autocells_refits_by_rule(spark):
    """The automated re-fit path: near-identical mirror rows dedup,
    and the quantizer is sized from the data (no manual dial)."""
    from edspdf_spark.operators.simsearch import semantic_dedup_autocells

    import math
    # 60 distinct directions 0.05 rad apart (adjacent cos ~0.99875,
    # below threshold) — only the scaled mirrors are near-identical
    base = [(i, [math.cos(i * 0.05), math.sin(i * 0.05)])
            for i in range(60)]
    mirror = [(i + 1000, [v * 1.0001 for v in vec]) for i, vec in base]
    df = spark.createDataFrame(base + mirror,
                               "vec_id long, embedding array<float>")
    out = semantic_dedup_autocells(df, threshold=0.999,
                                   target_cell_rows=16)
    rows = {r.id: r for r in out.collect()}
    assert len(rows) == 120
    # every base row keeps; its +1000 mirror lands in the same cell
    # and drops whenever they share a cell (same quantized direction)
    dropped = [i for i, r in rows.items() if not r.keep]
    assert dropped and all(i >= 1000 for i in dropped)


def test_dsir_weights_hand_computed(spark):
    import hashlib

    from edspdf_spark.operators.analysis import QC_BUCKETS, dsir_weights

    raw = spark.createDataFrame(
        [(0, "a b"), (1, "a c"), (2, "c c")],
        "doc_id long, text string")
    target = spark.createDataFrame(
        [(0, "a b")], "doc_id long, text string")

    def bucket(f):
        return int(hashlib.md5(f.encode()).hexdigest()[:15], 16) % QC_BUCKETS

    # feature multisets (unigrams + bigrams)
    feats = {0: ["a", "b", "a b"], 1: ["a", "c", "a c"],
             2: ["c", "c", "c c"]}
    cr: dict = {}
    for fs in feats.values():
        for f in fs:
            cr[bucket(f)] = cr.get(bucket(f), 0) + 1
    ct: dict = {}
    for f in feats[0]:
        ct[bucket(f)] = ct.get(bucket(f), 0) + 1

    def ilog2(n):
        return n.bit_length() - 1

    rows = {r["id"]: r.asDict()
            for r in dsir_weights(raw, target).collect()}
    for i, fs in feats.items():
        want = sum(ilog2(ct.get(bucket(f), 0) + 1) - ilog2(cr[bucket(f)] + 1)
                   for f in fs)
        assert rows[i]["weight"] == want, (i, rows[i], want)
        assert rows[i]["n_features"] == 3
        assert rows[i]["selected"] == (want >= 0)
    # the target-matching doc must outscore the disjoint one
    assert rows[0]["weight"] > rows[2]["weight"]


def test_knn_classify_majority_and_tiebreak(spark):
    from edspdf_spark.operators.simsearch import knn_classify

    # 1-d embeddings: cosine is sign-based, so craft neighbors by sign
    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0], 7), (2, [0.9, 0.1], 7), (3, [0.8, 0.2], 5),
         (4, [-1.0, 0.0], 3), (5, [0.7, 0.3], 5)],
        "vec_id long, embedding array<float>, label int")
    queries = spark.createDataFrame(
        [(100, [1.0, 0.05])], "vec_id long, embedding array<float>")
    r = knn_classify(corpus, queries, k=4).collect()
    assert len(r) == 1
    # 4-NN = {1,2,3,5}: labels 7,7,5,5 -> 2-2 tie -> smallest label 5
    assert r[0]["query_id"] == 100
    assert r[0]["pred_label"] == 5
    assert r[0]["n_votes"] == 2


def test_knn_classify_ivf_path_agrees(spark):
    from edspdf_spark.operators.simsearch import knn_classify

    corpus = spark.createDataFrame(
        [(i, [float(i % 7) / 7 + 0.1, float(i % 3) / 3 + 0.1], i % 4)
         for i in range(40)],
        "vec_id long, embedding array<float>, label int")
    queries = corpus.where("vec_id % 10 = 0").drop("label")
    brute = {r["query_id"]: r["pred_label"]
             for r in knn_classify(corpus, queries, k=3).collect()}
    # one cell -> IVF search space == brute force
    ivf = {r["query_id"]: r["pred_label"]
           for r in knn_classify(corpus, queries, k=3,
                                 centroids=[[500, 500]]).collect()}
    assert brute == ivf and len(brute) == 4


def test_word_blocklist_filter_c4_rule(spark):
    from edspdf_spark.operators.analysis import word_blocklist_filter

    df = spark.createDataFrame(
        [(0, "clean text here"),
         (1, "contains BAD word"),     # case-insensitive token match
         (2, "bad bad bad"),           # multiset count
         (3, "embedded badword stays")],  # whole-token only
        "doc_id long, text string")
    rows = {r["id"]: r.asDict()
            for r in word_blocklist_filter(df, ["bad"]).collect()}
    assert rows[0]["keep"] and rows[0]["n_hits"] == 0
    assert not rows[1]["keep"] and rows[1]["n_hits"] == 1
    assert not rows[2]["keep"] and rows[2]["n_hits"] == 3
    assert rows[3]["keep"]  # substring is NOT a hit (C4 is token-level)


def test_token_budget_select_greedy_prefix(spark):
    import hashlib

    from edspdf_spark.operators.analysis import token_budget_select

    df = spark.createDataFrame(
        [(0, "w " * 4, "d1"), (1, "w " * 3, "d1"), (2, "w " * 5, "d1"),
         (3, "w " * 100, "d2")],  # oversized first doc still kept
        "doc_id long, text string, source string")

    def rk(text):
        return int(hashlib.md5(text.encode()).hexdigest()[:15], 16)

    order = sorted([0, 1, 2], key=lambda i: (rk("w " * (4, 3, 5)[i]), i))
    rows = {r["id"]: r.asDict()
            for r in token_budget_select(df, budget=7).collect()}
    # d1 in hash order: first doc always kept, then while cum < 7
    cum = 0
    for i in order:
        assert rows[i]["cum_before"] == cum
        assert rows[i]["keep"] == (cum < 7)
        cum += rows[i]["n_tokens"]
    assert rows[3]["keep"] and rows[3]["cum_before"] == 0


def test_hll_distinct_matches_python_reference(spark):
    import hashlib

    from edspdf_spark.operators.analysis import hll_distinct

    vals = [f"value-{i}" for i in range(300)] + ["value-0", "value-1"]
    df = spark.createDataFrame([(v,) for v in vals], "text string")
    p, m, rmax = 6, 64, 55

    regs = {}
    for v in set(vals):
        h = int(hashlib.md5(v.encode()).hexdigest()[:15], 16)
        b, w = h % m, h >> p
        rho = (60 - p) - (w.bit_length() - 1) if w > 0 else rmax
        regs[b] = max(regs.get(b, 0), rho)
    s = sum(1 << (rmax - M) for M in regs.values()) \
        + (m - len(regs)) * (1 << rmax)
    alpha = 7213 / 10000 / (1 + 1079 / 1000 / m)
    want = alpha * float(m * m) * float(1 << rmax) / float(s)

    r = hll_distinct(df, "text").collect()[0]
    assert r["m"] == m
    assert r["used_registers"] == len(regs)
    assert r["s_scaled"] == s
    assert r["estimate"] == want          # bit-exact, not approx
    assert r["exact_count"] == 300
    assert 0.6 < r["rel_err"] < 1.6       # sketch sanity at m=64


def test_hll_distinct_partition_invariant(spark):
    from edspdf_spark.operators.analysis import hll_distinct

    df = spark.createDataFrame([(f"v{i}",) for i in range(200)],
                               "text string")
    a = hll_distinct(df.repartition(1), "text").collect()[0]
    b = hll_distinct(df.repartition(17), "text").collect()[0]
    # register maxes merge associatively -> same sketch any split
    assert a["s_scaled"] == b["s_scaled"]
    assert a["estimate"] == b["estimate"]


def test_cm_sketch_matches_python_reference_and_never_underestimates(spark):
    import hashlib
    from collections import Counter

    from edspdf_spark.functions import CODE_MOD
    from edspdf_spark.operators.analysis import CM_ROWS, cm_token_counts

    text = " ".join(f"t{i % 7}" for i in range(100))  # 7 tokens, skewed
    df = spark.createDataFrame([(0, text)], "doc_id long, text string")
    width = 4  # force collisions

    counts = Counter(text.split(" "))

    def bucket(tok, a, b):
        code = int(hashlib.md5(tok.encode()).hexdigest()[:15],
                   16) % CODE_MOD
        return (a * code + b) % CODE_MOD % width

    cells = Counter()
    for tok, n in counts.items():
        for j, (a, b) in enumerate(CM_ROWS):
            cells[(j, bucket(tok, a, b))] += n

    def est(tok):
        return min(cells[(j, bucket(tok, a, b))]
                   for j, (a, b) in enumerate(CM_ROWS))

    rows = {r["token"]: r.asDict()
            for r in cm_token_counts(df, top_k=7, width=width).collect()}
    assert set(rows) == set(counts)
    for tok, r in rows.items():
        assert r["true_count"] == counts[tok]
        assert r["cm_estimate"] == est(tok)       # bit-exact
        assert r["overestimate"] >= 0             # CM never undercounts


# --- registered_domain (PSL-lite) ------------------------------------------

def test_registered_domain_cases(spark):
    from edspdf_spark.operators.urls import registered_domain
    urls = [
        "https://www.shop.example.co.uk/p/1",   # multi-label suffix
        "http://a.blog.example.com/x",          # deep subdomain
        "https://Host.COM.AU:8080/y",           # case + port
        "http://single/z",                      # no dots -> host
        "https://news.site.org/a",
        "https://example.com/",                 # already registrable
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = {r.url: (r.host, r.reg_domain, r.tld)
           for r in registered_domain(df).collect()}
    assert got[urls[0]] == ("www.shop.example.co.uk",
                            "example.co.uk", "uk")
    assert got[urls[1]] == ("a.blog.example.com", "example.com", "com")
    assert got[urls[2]] == ("host.com.au", "host.com.au", "au")
    assert got[urls[3]] == ("single", "single", "single")
    assert got[urls[4]] == ("news.site.org", "site.org", "org")
    assert got[urls[5]] == ("example.com", "example.com", "com")


def test_registered_domain_plan_zero_shuffle(spark):
    from edspdf_spark.operators.urls import registered_domain
    df = spark.createDataFrame([("https://a.b.com/x",)], "url string")
    plan = registered_domain(df)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan and "EvalPython" not in plan, plan


# --- crawl_schedule --------------------------------------------------------

def test_crawl_schedule_politeness_invariants(spark):
    from edspdf_spark.operators.urls import crawl_schedule
    urls = [f"https://h{i % 3}.com/p/{i}" for i in range(20)]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    rows = crawl_schedule(df, per_host_concurrency=2).collect()
    # every URL scheduled exactly once
    assert sorted(r.url for r in rows) == sorted(urls)
    per = {}
    for r in rows:
        per.setdefault(r.host, []).append((r.host_seq, r.slot))
    for host, seqs in per.items():
        idx = sorted(s for s, _ in seqs)
        assert idx == list(range(len(seqs)))        # dense 0..n-1
        # never more than 2 fetches of one host in a slot
        from collections import Counter
        assert max(Counter(sl for _, sl in seqs).values()) <= 2


def test_crawl_schedule_deterministic_under_repartition(spark):
    from edspdf_spark.operators.urls import crawl_schedule
    urls = [(f"https://h{i % 5}.com/p/{i}",) for i in range(50)]
    a = spark.createDataFrame(urls, "url string")
    b = a.repartition(7)
    ra = sorted(map(tuple, crawl_schedule(a).collect()))
    rb = sorted(map(tuple, crawl_schedule(b).collect()))
    assert ra == rb


def test_lang_id_extended_packs(spark):
    from edspdf_spark.operators.analysis import lang_id
    rows = [(1, "il ristorante di roma che amo e la pasta"),
            (2, "o livro de historia que eu li e do porto"),
            (3, "de hond het huis een fiets van en brood"),
            (4, "kot i pies w domu na stole z kawa do pracy")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.id: r.lang_pred for r in lang_id(df).collect()}
    assert got == {1: "it", 2: "pt", 3: "nl", 4: "pl"}


def test_regdomain_rollup_collapses_subdomains(spark):
    from pyspark.sql import functions as F
    from edspdf_spark.operators.urls import registered_domain
    urls = ["https://a.example.co.uk/1", "https://b.example.co.uk/2",
            "https://www.example.co.uk/3", "https://other.com/4"]
    rd = registered_domain(
        spark.createDataFrame([(u,) for u in urls], "url string"))
    got = {r.reg_domain: (r.n_urls, r.n_hosts) for r in
           rd.groupBy("reg_domain")
           .agg(F.count(F.lit(1)).alias("n_urls"),
                F.countDistinct("host").alias("n_hosts")).collect()}
    assert got["example.co.uk"] == (3, 3)   # three hosts, one site
    assert got["other.com"] == (1, 1)


def test_char_profile_classes(spark):
    from edspdf_spark.operators.analysis import char_profile
    df = spark.createDataFrame(
        [(1, "abc DE 12!?"), (2, ""), (3, "héllo")],
        "doc_id long, text string")
    got = {r.id: r for r in char_profile(df).collect()}
    r = got[1]
    assert (r.n_chars, r.n_letters, r.n_digits, r.n_spaces,
            r.n_other) == (11, 5, 2, 2, 2)
    assert r.letter_milli == 1000 * 5 // 11
    z = got[2]
    assert z.n_chars == 0 and z.letter_milli == 0 and z.other_milli == 0
    # non-ASCII letter counts as 'other' (documented ASCII classes)
    assert got[3].n_letters == 4 and got[3].n_other == 1


def test_char_profile_plan_zero_shuffle(spark):
    from edspdf_spark.operators.analysis import char_profile
    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    plan = char_profile(df)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan and "EvalPython" not in plan


def test_c4_filters_rules(spark):
    """Every C4 rule pinned: terminal punctuation, min words per
    line, javascript lines, brace pages, lorem-ipsum pages, the
    >=3-kept-lines gate, and clean_text rejoin order."""
    from edspdf_spark.operators.analysis import c4_filters

    good = "one two three four five six.\nsecond line also has words!\n" \
           'third line is quoted fine."'
    rows = [
        (1, good),                                      # keeps, 3 lines
        (2, "short line.\nno punct here at all\n"
            "one two three four five six."),  # short + unpunctuated drop
        (3, good + "\nvar x = { a: 1 }"),               # brace page
        (4, good + "\nLorem Ipsum dolor sit amet."),    # lorem page
        (5, "click here javascript required now.\n" + good),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.id: r for r in c4_filters(df).collect()}
    assert got[1].keep and got[1].n_kept_lines == 3
    assert got[1].clean_text == good
    assert not got[2].keep and got[2].n_kept_lines == 1
    assert not got[3].keep and got[3].has_brace
    assert not got[4].keep and got[4].has_lorem
    # the javascript line is dropped but the page still keeps
    assert got[5].keep and got[5].n_kept_lines == 3
    assert "javascript" not in got[5].clean_text


def test_c4_filters_plan_zero_shuffle(spark):
    from edspdf_spark.operators.analysis import c4_filters

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = (c4_filters(docs)._jdf.queryExecution()
            .executedPlan().toString())
    assert "Exchange" not in plan, plan
    assert "EvalPython" not in plan, plan


def test_surt_keys_canonical_prefix_ordering(spark):
    """SURT: reversed host labels + ')' + path + sorted query; www /
    default-port / fragment variants of one resource collapse to one
    key, subdomains share the registered-domain prefix."""
    from edspdf_spark.operators.urls import surt_keys

    rows = [(0, "https://www.Example.COM:443/a/b/?b=2&a=1#frag"),
            (1, "http://example.com/a/b?a=1&b=2"),
            (2, "http://news.example.com/top"),
            (3, "http://example.com:8080/x"),
            (4, "http://host.org/")]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    got = {r.id: r.surt_key for r in surt_keys(df).collect()}
    assert got[0] == "com,example)/a/b?a=1&b=2"
    assert got[1] == "com,example)/a/b?a=1&b=2"     # variant collapses
    assert got[2] == "com,example,news)/top"        # shared prefix
    assert got[2].startswith("com,example")
    assert got[3] == "com,example:8080)/x"          # port after host
    assert got[4] == "org,host)"
    # prefix-ordering property: sorting keys groups a domain's pages
    keys = sorted(got.values())
    dom = [k for k in keys if k.startswith("com,example")]
    assert keys.index(dom[0]) + len(dom) - 1 == keys.index(dom[-1])
