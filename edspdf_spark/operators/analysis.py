"""Text analysis operators: quality scoring, language-ID, token
statistics, document fingerprinting.

All native column expressions (no Python workers), each with an exact
DuckDB-oracle rendering. Portability rules: split on single space
(no regex dialects), integer arithmetic where possible, md5-prefix
hashing (functions.code15).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F  # noqa: N812

from ..functions import (CODE_MOD, code15, code15_py, ngrams_py, tokens,
                         tokens_py)

# tiny per-language stopword lists for the n-gram-free heuristic;
# deterministic argmax order = list order here. 16 languages: the
# lang_id kernel's cost is one Counter pass per doc + a fixed dict
# walk, so growing this pack further (fastText ships 170+) adds no
# per-token work.
LANG_STOPWORDS = {
    "en": ["the", "a", "of", "and", "to"],
    "fr": ["le", "la", "de", "et", "un"],
    "de": ["der", "die", "und", "das", "ein"],
    "es": ["el", "la", "de", "y", "un"],
    "it": ["il", "di", "che", "e", "la"],
    "pt": ["o", "de", "que", "e", "do"],
    "nl": ["de", "het", "een", "van", "en"],
    "pl": ["i", "w", "na", "z", "do"],
    "sv": ["och", "att", "det", "som", "en"],
    "da": ["og", "det", "at", "en", "til"],
    "no": ["og", "det", "er", "som", "en"],
    "fi": ["ja", "on", "ei", "oli", "se"],
    "ro": ["si", "de", "la", "cu", "un"],
    "cs": ["a", "je", "se", "na", "to"],
    "hu": ["a", "az", "es", "hogy", "nem"],
    "tr": ["ve", "bir", "bu", "da", "ne"],
}


def text_quality(df: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """Per-doc quality metrics: lengths, token stats, stopword ratio,
    subword estimate (ceil(len/4) per token — a BPE-rate proxy that
    needs no tokenizer and is engine-portable)."""
    toks = tokens(F.col(text_col))
    n_tok = F.size(toks)
    # ONE filter pass with a set-membership check — the old form
    # summed one F.filter scan PER stopword, and HOF lambdas get no
    # cross-lambda CSE (r3 VERDICT: 5x the interpreted array passes)
    en = list(LANG_STOPWORDS["en"])
    stop_hits = F.size(F.filter(toks, lambda t: t.isin(*en)))
    subwords = F.aggregate(
        toks, F.lit(0).cast("bigint"),
        lambda acc, t: acc + F.ceil(F.length(t) / 4.0).cast("bigint"))
    return df.select(
        F.col(id_col).alias("id"),
        F.length(text_col).cast("bigint").alias("n_chars"),
        n_tok.cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("bigint")
        .alias("n_distinct_tokens"),
        subwords.alias("n_subwords"),
        (stop_hits / F.when(n_tok == 0, 1).otherwise(n_tok))
        .alias("stopword_ratio"),
        (F.size(F.array_distinct(toks)) /
         F.when(n_tok == 0, 1).otherwise(n_tok)).alias("ttr"),
    )


# GPT-2-style BPE pre-tokenization pattern, lookaround-free so it runs
# identically under Java regex (Spark) and RE2 (DuckDB): contraction
# suffixes, space-prefixed letter runs, digit runs, punctuation runs,
# whitespace runs. Whitespace is an EXPLICIT class (Java \s includes
# \x0B, RE2's does not — a bare \s would un-oracle vertical tabs).
_WS_CLASS = r" \t\n\x0B\f\r"
BPE_SPLIT_PATTERN = (r"'(?:s|t|re|ve|m|ll|d)| ?[\p{L}]+| ?[\p{N}]+"
                     rf"| ?[^{_WS_CLASS}\p{{L}}\p{{N}}]+|[{_WS_CLASS}]+")


def token_count(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """(id, n_bpe_tokens, n_ws_tokens, n_chars, chars_per_bpe_token):
    corpus sizing for training-data budgets. BPE-ish count = matches of
    the GPT-2 pre-tokenizer regex (the real merge table only splits
    WITHIN pre-tokens, so this upper-bounds words and tracks token
    budgets within a constant factor); whitespace count for contrast.
    Pure codegen expressions — regexp_count runs JVM-side."""
    n_bpe = F.regexp_count(F.col(text_col),
                           F.lit(BPE_SPLIT_PATTERN)).cast("bigint")
    toks = tokens(F.col(text_col))
    return df.select(
        F.col(id_col).alias("id"),
        n_bpe.alias("n_bpe_tokens"),
        F.size(toks).cast("bigint").alias("n_ws_tokens"),
        F.length(text_col).cast("bigint").alias("n_chars"),
        (F.length(text_col).cast("bigint")
         / F.when(n_bpe == 0, F.lit(1).cast("bigint")).otherwise(n_bpe))
        .alias("chars_per_bpe_token"),
    )


def lang_id(df: DataFrame, id_col: str = "doc_id",
            text_col: str = "text") -> DataFrame:
    """Stopword-voting language ID with deterministic tie-break
    (language list order). Returns (id, lang_pred, vote_<lang>...).

    Doc-local Arrow kernel (plans.salt.batch_map straight on the
    scan partitions — zero shuffle, like gopher_repetition): one token
    Counter per doc, then a fixed walk of the stopword->language
    table. Cost is O(tokens + vocabulary) per doc and FLAT in the
    number of languages. The previous formulation summed one
    interpreted F.filter array scan per (language, stopword) —
    O(langs x stopwords x tokens) with no cross-lambda CSE — and was
    the r3 bench regression (1.0 s -> 2.5 s when the pack doubled);
    a 170-language fastText-style pack would have been ~40x slower
    still.

    Exact semantics shared with the DuckDB oracle: tokens = split on
    single space minus empties; vote_l = occurrences of l's
    stopwords; argmax first-wins in LANG_STOPWORDS order; NULL text
    -> NULL votes and lang_pred = first language (the CASE-chain
    null semantics of the oracle)."""
    from collections import Counter

    from pyspark.sql.types import (LongType, StringType, StructField,
                                   StructType)

    from ..plans.salt import batch_map

    langs = list(LANG_STOPWORDS)
    n_langs = len(langs)
    # stopword -> indexes of every language that lists it ('de', 'la',
    # 'en'... appear in several packs; each gets the same count)
    word_langs: dict[str, list[int]] = {}
    for li, words in enumerate(LANG_STOPWORDS.values()):
        for w in words:
            word_langs.setdefault(w, []).append(li)
    out_schema = StructType(
        [StructField("id", df.schema[id_col].dataType),
         StructField("lang_pred", StringType())]
        + [StructField(f"vote_{lang}", LongType()) for lang in langs])

    def fn(ids, texts):
        votes: list[list] = [[0] * n_langs for _ in texts]
        preds = []
        for r, text in enumerate(texts):
            if text is None:
                votes[r] = [None] * n_langs
                preds.append(langs[0])
                continue
            cnt = Counter(text.split(" "))
            row = votes[r]
            for w, lis in word_langs.items():
                c = cnt.get(w)
                if c:
                    for li in lis:
                        row[li] += c
            bi = 0
            for li in range(1, n_langs):
                if row[li] > row[bi]:
                    bi = li
            preds.append(langs[bi])
        return [ids, preds] + [[v[li] for v in votes]
                               for li in range(n_langs)]

    return batch_map(df, [id_col, text_col], fn, out_schema)


def fingerprint(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """(id, content_md5, content_code, n_chars): cheap identity for
    lineage + exact-dup joins."""
    return df.select(
        F.col(id_col).alias("id"),
        F.md5(F.lower(F.col(text_col))).alias("content_md5"),
        code15(F.lower(F.col(text_col))).alias("content_code"),
        F.length(text_col).cast("bigint").alias("n_chars"),
    )


# Gopher quality-filter rules (Rae et al. 2021, "Scaling Language
# Models: ...", Table A1 — the standard web-corpus document filter):
# thresholds below are the published ones. Stop-word requirement uses
# the paper's 8-word list.
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have",
                    "with"]
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MIN_ALPHA_FRAC = 0.8
GOPHER_MAX_BULLET_FRAC = 0.9
GOPHER_MAX_ELLIPSIS_FRAC = 0.3
GOPHER_MIN_STOPWORDS = 2


def gopher_quality(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text",
                   stopwords=None) -> DataFrame:
    """Gopher-rule document filter: per-rule metrics + the combined
    `keep` verdict, all whole-stage-codegen column math (exact DuckDB
    oracle; no regex — dialect-free constructions only).

    `stopwords` defaults to the paper's 8 English words; the rule is
    language-specific, so multilingual corpora pass their own list
    (the paper's intent: "contains >= 2 of the most common words").

    Portability notes: "word contains an alphabetic char" is computed
    as lower(w) <> upper(w) (true iff some cased letter exists — no
    \\p{L} class, which differs between Java regex and RE2); symbol
    occurrences are counted by length-difference after replace()."""
    stopwords = stopwords if stopwords is not None else GOPHER_STOPWORDS
    text = F.col(text_col)
    toks = tokens(text)
    n_words = F.size(toks).cast("bigint")
    n1 = F.when(n_words == 0, F.lit(1).cast("bigint")).otherwise(n_words)
    sum_len = F.aggregate(
        toks, F.lit(0).cast("bigint"),
        lambda acc, t: acc + F.length(t).cast("bigint"))
    mean_word_len = sum_len.cast("double") / n1
    n_alpha = F.size(F.filter(toks, lambda t: F.lower(t) != F.upper(t))) \
        .cast("bigint")
    frac_alpha = n_alpha.cast("double") / n1
    n_hash = (F.length(text) - F.length(F.replace(text, F.lit("#"),
                                                  F.lit("")))) \
        .cast("bigint")
    n_ellipsis = ((F.length(text)
                   - F.length(F.replace(text, F.lit("..."), F.lit(""))))
                  / 3).cast("bigint")
    symbol_ratio = (n_hash + n_ellipsis).cast("double") / n1
    lines = F.split(text, "\n")
    n_lines = F.size(lines).cast("bigint")
    nl1 = F.when(n_lines == 0, F.lit(1).cast("bigint")).otherwise(n_lines)
    bullet = F.size(F.filter(
        lines, lambda ln: ln.startswith("-") | ln.startswith("*")
        | ln.startswith("•"))).cast("bigint")
    ellipsis_l = F.size(F.filter(
        lines, lambda ln: ln.endswith("..."))).cast("bigint")
    frac_bullet = bullet.cast("double") / nl1
    frac_ellipsis = ellipsis_l.cast("double") / nl1
    stop_types = None
    for word in stopwords:
        c = F.when(F.array_contains(toks, word), 1).otherwise(0)
        stop_types = c if stop_types is None else stop_types + c
    stop_types = stop_types.cast("bigint")
    keep = ((n_words >= GOPHER_MIN_WORDS)
            & (n_words <= GOPHER_MAX_WORDS)
            & (mean_word_len >= GOPHER_MIN_MEAN_WORD_LEN)
            & (mean_word_len <= GOPHER_MAX_MEAN_WORD_LEN)
            & (symbol_ratio <= GOPHER_MAX_SYMBOL_RATIO)
            & (frac_alpha >= GOPHER_MIN_ALPHA_FRAC)
            & (frac_bullet <= GOPHER_MAX_BULLET_FRAC)
            & (frac_ellipsis <= GOPHER_MAX_ELLIPSIS_FRAC)
            & (stop_types >= GOPHER_MIN_STOPWORDS))
    return df.select(
        F.col(id_col).alias("id"),
        n_words.alias("n_words"),
        mean_word_len.alias("mean_word_len"),
        frac_alpha.alias("frac_alpha_words"),
        symbol_ratio.alias("symbol_ratio"),
        frac_bullet.alias("frac_bullet_lines"),
        frac_ellipsis.alias("frac_ellipsis_lines"),
        stop_types.alias("n_stopword_types"),
        keep.alias("keep"),
    )


# winnowing parameters: k-gram length, window width, polynomial base
# and modulus. B^j is precomputed mod M so every intermediate stays
# far below BIGINT range (sum of k terms < k * M * B).
WINNOW_K = 8
WINNOW_W = 4
WINNOW_B = 257
WINNOW_M = 1_000_003


WINNOW_MAX_LEN = 8192  # longest doc the literal power tables cover


def winnow_fingerprints(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", k: int = WINNOW_K,
                        w: int = WINNOW_W) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken's
    local algorithm): polynomial rolling hash over character k-grams,
    then the DISTINCT minima of every w-wide window — the guarantee is
    that any match of length >= w+k-1 between two documents shares at
    least one selected fingerprint, at ~1/w the k-gram count.

    One row per (id, fp); ids are assumed unique (each doc's distinct
    set is computed inside the kernel).

    Physical shape: the algorithm is entirely DOCUMENT-LOCAL, so it
    runs as one Arrow-batched numpy doc_map kernel — the only
    exchange is doc_map's row-preserving compute-spread repartition,
    paid only on an input narrower than the core count (parquet
    byte-splitting can't see per-char arithmetic cost). The previous
    column-math formulation posexploded one row PER CHARACTER
    (~8,000x row amplification) through a per-doc sort-shuffle
    window; at corpus scale that exchange dominates everything. All
    integer math, bit-exact vs the DuckDB oracle:
        H_t = sum_{j<k} code[t+j] * B^j  (mod M),  t 0-based
        fp_t = min(H_t..H_{t+w-1}), windows fully inside the sequence
    Texts longer than WINNOW_MAX_LEN are truncated to it (documented
    cap; the corpus case for longer docs is chunking upstream)."""
    import numpy as np
    from numpy.lib.stride_tricks import sliding_window_view

    from ..plans.salt import doc_map

    pows = np.array([pow(WINNOW_B, j, WINNOW_M) for j in range(k)],
                    dtype=np.int64)
    min_len = k + w - 1

    def fn(ids, texts):
        out_ids: list = []
        out_fps = []
        for rid, text in zip(ids, texts):
            if text is None:
                continue
            t = text.lower()[:WINNOW_MAX_LEN]
            if len(t) < min_len:
                continue
            # utf-32-le bytes ARE the codepoint sequence (matches
            # ascii(substr(t, i, 1)) in Spark/DuckDB)
            codes = np.frombuffer(t.encode("utf-32-le"),
                                  dtype=np.uint32).astype(np.int64)
            h = (sliding_window_view(codes, k) @ pows) % WINNOW_M
            fps = np.unique(sliding_window_view(h, w).min(axis=1))
            out_ids.extend([rid] * len(fps))
            out_fps.append(fps)
        fp_all = (np.concatenate(out_fps) if out_fps
                  else np.empty(0, dtype=np.int64))
        return out_ids, fp_all

    return doc_map(df, id_col, text_col, fn, "fp bigint")


# Gopher repetition-filter rules (Rae et al. 2021, Table A1 — the
# second half of the Gopher web filter, complementing gopher_quality's
# document-level rules): thresholds are the published ones.
GOPHER_MAX_DUP_LINE_FRAC = 0.30
GOPHER_MAX_DUP_PARA_FRAC = 0.30
GOPHER_MAX_DUP_LINE_CHAR_FRAC = 0.20
GOPHER_MAX_DUP_PARA_CHAR_FRAC = 0.20
# fraction of chars in the single most frequent word n-gram
GOPHER_MAX_TOP_NGRAM_CHAR_FRAC = {2: 0.20, 3: 0.18, 4: 0.16}
# fraction of chars covered by word n-grams occurring more than once
GOPHER_MAX_DUP_NGRAM_CHAR_FRAC = {5: 0.15, 6: 0.14, 7: 0.13,
                                  8: 0.12, 9: 0.11, 10: 0.10}


def gopher_repetition(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """Gopher repetition rules: duplicate line/paragraph fractions plus
    top-n-gram and duplicate-n-gram character fractions, with the
    combined `keep` verdict.

    Exact, engine-portable definitions (mirrored by the DuckDB
    oracle):
    - lines      = non-empty segments of text split on "\\n";
      paragraphs = non-empty segments split on "\\n\\n".
    - dup_lines      = sum over distinct lines of (count - 1);
      dup_line_chars = sum of (count - 1) * length(line). Same for
      paragraphs. Fractions are over n_lines / length(text).
    - tokens = split(replace(text, "\\n", " "), " ") minus empties;
      an n-gram is n consecutive tokens joined with one space.
    - top{n}_chars (n=2,3,4) = max over n-grams of count * length(gram)
      (count * length is the tie-break-free formulation of "chars in
      the most frequent n-gram").
    - dup{n}_chars (n=5..10) = sum over n-grams with count >= 2 of
      count * length(gram) (all occurrences of a repeated n-gram,
      overlaps counted — the standard published approximation).

    Physical shape: entirely DOCUMENT-LOCAL, so one Arrow-batched
    kernel behind a row-preserving compute-spread repartition — the
    winnowing pattern (see winnow_fingerprints above); zero shuffles
    beyond the explicit-count spread, no row amplification. The kernel
    emits INTEGER numerators/denominators only; fractions are computed
    as a codegen select of CAST(int AS DOUBLE)/int, bit-identical in
    Spark and DuckDB."""
    from collections import Counter

    import numpy as np
    from numpy.lib.stride_tricks import sliding_window_view

    from ..plans.salt import doc_map

    int_cols = (["n_chars", "n_lines", "dup_lines", "dup_line_chars",
                 "n_paras", "dup_paras", "dup_para_chars"]
                + [f"top{n}_chars" for n in (2, 3, 4)]
                + [f"dup{n}_chars" for n in range(5, 11)])

    def fn(ids, texts):
        rows: dict = {c: [] for c in int_cols}
        for text in texts:
            if text is None:
                text = ""
            rows["n_chars"].append(len(text))
            for unit, sep in (("line", "\n"), ("para", "\n\n")):
                segs = [s for s in text.split(sep) if s]
                cnt = Counter(segs)
                rows[f"n_{unit}s"].append(len(segs))
                rows[f"dup_{unit}s"].append(
                    sum(c - 1 for c in cnt.values()))
                rows[f"dup_{unit}_chars"].append(
                    sum((c - 1) * len(s) for s, c in cnt.items()))
            tk = tokens_py(text.replace("\n", " "))
            # n-gram grouping WITHOUT building gram strings:
            # intern tokens to ids, group sliding windows of the id
            # array with np.unique(axis=0) (exact equality — no
            # hashing), and recover each gram's char length from a
            # token-length prefix sum (identical grams = identical
            # tokens = identical length, so the first occurrence's
            # offsets suffice)
            vocab: dict = {}
            tids = np.fromiter(
                (vocab.setdefault(t, len(vocab)) for t in tk),
                dtype=np.int32, count=len(tk))
            cum = np.zeros(len(tk) + 1, dtype=np.int64)
            if tk:
                np.cumsum(np.fromiter((len(t) for t in tk),
                                      dtype=np.int64, count=len(tk)),
                          out=cum[1:])
            for n in range(2, 11):
                key = (f"top{n}_chars" if n <= 4 else
                       f"dup{n}_chars")
                if len(tk) < n:
                    rows[key].append(0)
                    continue
                # group windows via a void (raw-bytes) view: exact
                # equality grouping like unique(axis=0) but a
                # single memcmp sort instead of a lexsort; group
                # ORDER differs, which is irrelevant — only
                # first-occurrence indices and counts are used,
                # and identical grams have identical lengths
                wins = np.ascontiguousarray(
                    sliding_window_view(tids, n))
                voidv = wins.view(np.dtype(
                    (np.void, wins.dtype.itemsize * n))).ravel()
                _, first, counts = np.unique(
                    voidv, return_index=True, return_counts=True)
                lens = cum[first + n] - cum[first] + (n - 1)
                if n <= 4:
                    rows[key].append(int((counts * lens).max()))
                else:
                    dup = counts >= 2
                    rows[key].append(
                        int((counts[dup] * lens[dup]).sum()))
        return [ids] + [rows[c] for c in int_cols]

    ints = doc_map(df, id_col, text_col, fn,
                   ", ".join(f"{c} bigint" for c in int_cols))

    c1 = F.when(F.col("n_chars") == 0, F.lit(1).cast("bigint")) \
        .otherwise(F.col("n_chars"))
    nl1 = F.when(F.col("n_lines") == 0, F.lit(1).cast("bigint")) \
        .otherwise(F.col("n_lines"))
    np1 = F.when(F.col("n_paras") == 0, F.lit(1).cast("bigint")) \
        .otherwise(F.col("n_paras"))
    fracs = {
        "dup_line_frac": F.col("dup_lines").cast("double") / nl1,
        "dup_para_frac": F.col("dup_paras").cast("double") / np1,
        "dup_line_char_frac": F.col("dup_line_chars").cast("double") / c1,
        "dup_para_char_frac": F.col("dup_para_chars").cast("double") / c1,
    }
    for n, thr in GOPHER_MAX_TOP_NGRAM_CHAR_FRAC.items():
        fracs[f"top{n}gram_char_frac"] = \
            F.col(f"top{n}_chars").cast("double") / c1
    for n, thr in GOPHER_MAX_DUP_NGRAM_CHAR_FRAC.items():
        fracs[f"dup{n}gram_char_frac"] = \
            F.col(f"dup{n}_chars").cast("double") / c1
    keep = ((fracs["dup_line_frac"] <= GOPHER_MAX_DUP_LINE_FRAC)
            & (fracs["dup_para_frac"] <= GOPHER_MAX_DUP_PARA_FRAC)
            & (fracs["dup_line_char_frac"] <= GOPHER_MAX_DUP_LINE_CHAR_FRAC)
            & (fracs["dup_para_char_frac"] <= GOPHER_MAX_DUP_PARA_CHAR_FRAC))
    for n, thr in GOPHER_MAX_TOP_NGRAM_CHAR_FRAC.items():
        keep = keep & (fracs[f"top{n}gram_char_frac"] <= thr)
    for n, thr in GOPHER_MAX_DUP_NGRAM_CHAR_FRAC.items():
        keep = keep & (fracs[f"dup{n}gram_char_frac"] <= thr)
    return ints.select(
        "id",
        *[expr.alias(name) for name, expr in fracs.items()],
        keep.alias("keep"))


def domain_stats(df: DataFrame, domain_col: str = "source",
                 text_col: str = "text",
                 lang_col: str = "lang") -> DataFrame:
    """CCNet-style per-domain rollup: document/char/token counts,
    language diversity, and each domain's share of corpus characters.

    Physical shape: one hash shuffle with map-side partial agg (all
    aggregates are algebraic; count(distinct lang) is low-cardinality);
    the corpus-share denominator is a window over the AGGREGATED
    output — a handful of domain rows, not the corpus."""
    from pyspark.sql import Window

    toks = tokens(F.col(text_col))
    agg = (df.groupBy(F.col(domain_col).alias("domain"))
           .agg(F.count("*").alias("n_docs"),
                F.sum(F.length(text_col).cast("bigint")).alias("n_chars"),
                F.sum(F.size(toks).cast("bigint")).alias("n_tokens"),
                F.countDistinct(lang_col).alias("n_langs")))
    total = F.sum("n_chars").over(Window.partitionBy())
    return agg.select(
        "domain", "n_docs", "n_chars", "n_tokens", "n_langs",
        (F.col("n_chars").cast("double") / F.col("n_docs"))
        .alias("avg_chars"),
        (F.col("n_chars").cast("double") / total).alias("share_chars"))


def quality_funnel(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text",
                   stopwords=None) -> DataFrame:
    """The composed training-data filter funnel — what a real corpus
    build runs end-to-end: Gopher repetition rules, then Gopher
    quality rules, then exact dedup among the survivors. Returns
    one row per stage: (stage, stage_name, n_docs surviving).

    Physical shape: the two rule stages are doc-local (one projection
    + one Arrow kernel); survivors propagate as id sets; the dedup
    stage is count(distinct md5) over the survivor subset — each
    stage's count is a partial-aggregable scalar, so the funnel costs
    one corpus pass per stage and no stage re-reads a prior stage's
    rejects."""
    from ..plans.salt import spread_compute

    base = spread_compute(df.select(F.col(id_col).alias("id"),
                                    F.col(text_col).alias("text")))
    # ONE pass per rule stage, ONE aggregation for all four funnel
    # counts. The earlier per-stage-subquery shape instantiated the
    # repetition kernel THREE times and the quality projection twice
    # (each count re-derived its stage's subtree); the verdicts are
    # per-doc booleans, so every funnel count is a conditional
    # aggregate over one joined row per document.
    q = gopher_quality(base, "id", "text", stopwords=stopwords) \
        .select("id", F.col("keep").alias("qk"))
    r = gopher_repetition(base, "id", "text") \
        .select("id", F.col("keep").alias("rk"))
    joined = (base.select("id", F.md5(F.col("text")).alias("h"))
              .join(q, "id").join(r, "id"))
    both = F.col("rk") & F.col("qk")
    stats = joined.agg(
        F.count("*").alias("n0"),
        F.sum(F.col("rk").cast("bigint")).alias("n1"),
        F.sum(both.cast("bigint")).alias("n2"),
        F.count_distinct(F.when(both, F.col("h"))).alias("n3"))
    stages = F.array(*[
        F.struct(F.lit(i).cast("int").alias("stage"),
                 F.lit(name).alias("stage_name"),
                 F.coalesce(F.col(f"n{i}"), F.lit(0)).cast("bigint")
                 .alias("n_docs"))
        for i, name in enumerate(
            ["all", "gopher_repetition", "gopher_quality",
             "exact_dedup"])])
    return (stats.select(F.explode(stages).alias("s"))
            .select("s.stage", "s.stage_name", "s.n_docs"))


def bigram_coverage(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", min_df: int = 3) -> DataFrame:
    """LM-lite corpus-fit scoring (the CCNet perplexity-bucket idea
    without a KenLM artifact): build the corpus' frequent-bigram table
    (document frequency >= min_df), then score each document by how
    much of its bigram mass that table covers. Garbled, boilerplate
    and off-distribution documents score low — the population CCNet's
    high-perplexity bucket isolates — while the math stays pure
    integer (a float log-prob sum would be partition-order dependent
    and un-oracleable).

    Output: (id, n_bigrams, n_known, coverage).

    Physical shape — the two-pass "train then apply" pattern:
    1. build: explode bigrams -> distinct (id, code) -> groupBy(code)
       doc-frequency, map-side partial agg; bigrams travel as 15-byte
       md5-prefix BIGINT codes, never strings.
    2. apply: occurrence rows left-join the frequent-code table on the
       code. At corpus scale the table after min_df pruning follows a
       Zipf head (small); Spark/AQE broadcasts it when it fits, else
       this is one hash join on the same code both sides.
    Docs with < 2 tokens keep a row (coverage 0 over a guarded
    denominator)."""
    from collections import Counter

    from ..plans.salt import doc_map

    # Doc-local bigram counting kernel: one row per DISTINCT bigram
    # per doc with its occurrence count — the per-doc distinct
    # aggregation happens where the text is parsed, so the build pass
    # needs no occ.distinct() shuffle at all and the apply pass
    # aggregates pre-counted rows.
    def fn(ids, texts):
        out_i: list = []
        out_c: list = []
        out_n: list = []
        for i, t in zip(ids, texts):
            if t is None:
                continue
            counts = Counter(ngrams_py(tokens_py(t), 2))
            out_i += [i] * len(counts)
            out_c += [code15_py(g) for g in counts]
            out_n += counts.values()
        return out_i, out_c, out_n

    # ONE code-keyed exchange feeds both the build and the apply
    # branch (the _cap_doc_freq reuse idiom) — without it each branch
    # re-runs the kernel
    occ = (doc_map(df, id_col, text_col, fn, "code bigint, cnt bigint")
           .repartition(F.col("code")))
    freq = (occ.groupBy("code")
            .agg(F.count("*").alias("_df"))
            .where(F.col("_df") >= min_df)
            .select("code", F.lit(1).alias("known")))
    scored = (occ.join(freq, "code", "left")
              .groupBy("id")
              .agg(F.sum("cnt").cast("bigint").alias("n_bigrams"),
                   F.coalesce(
                       F.sum(F.when(F.col("known") == 1, F.col("cnt"))),
                       F.lit(0)).cast("bigint").alias("n_known")))
    base = df.select(F.col(id_col).alias("id"))
    out = (base.join(scored, "id", "left")
           .select("id",
                   F.coalesce(F.col("n_bigrams"), F.lit(0)).cast("bigint")
                   .alias("n_bigrams"),
                   F.coalesce(F.col("n_known"), F.lit(0)).cast("bigint")
                   .alias("n_known")))
    nb1 = F.when(F.col("n_bigrams") == 0, F.lit(1).cast("bigint")) \
        .otherwise(F.col("n_bigrams"))
    return out.withColumn(
        "coverage", F.col("n_known").cast("double") / nb1)


# PII patterns restricted to the Java-regex/RE2 common dialect: no
# lookaround, no \b (word-boundary semantics are ASCII-identical but
# kept out anyway), explicit character classes only.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+",
    "phone": r"\+?[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}",
    "ipv4": r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}",
}
PII_REPLACEMENTS = {"email": "<EMAIL>", "phone": "<PHONE>",
                    "ipv4": "<IP>"}


def pii_scrub(df: DataFrame, id_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
    """Redact emails, phone numbers and IPv4 literals — the minimum
    PII pass a published web corpus runs (cf. BigScience ROOTS /
    RefinedWeb PII rules). Counts are taken on the ORIGINAL text, then
    replacements apply in declaration order (email before ipv4: an
    address like bob@10.0.0.1 redacts as one email, and the count
    columns reflect the raw-text matches of each pattern
    independently).

    Output: (id, text, n_emails, n_phones, n_ips). Pure codegen
    regexp_count/regexp_replace — zero shuffles, zero Python; patterns
    are dialect-portable so the DuckDB oracle runs them verbatim."""
    text = F.col(text_col)
    counts = {k: F.regexp_count(text, F.lit(p)).cast("bigint")
              for k, p in PII_PATTERNS.items()}
    red = text
    for k, p in PII_PATTERNS.items():
        red = F.regexp_replace(red, p, PII_REPLACEMENTS[k])
    return df.select(
        F.col(id_col).alias("id"), red.alias("text"),
        counts["email"].alias("n_emails"),
        counts["phone"].alias("n_phones"),
        counts["ipv4"].alias("n_ips"))


# hash-kernel linear quality classifier parameters (frozen "trained"
# weights, derived from the bucket index via an LCG so Spark and the
# DuckDB oracle can both compute them inline — no weight table ships)
QC_BUCKETS = 4096
QC_LCG = {0: (48271, 7), 1: (69621, 13)}  # class -> (A, C)
QC_MOD = 1_000_003


def _iter_bucket_counts(ids, texts, buckets: int, memo: dict):
    """Per-doc hashed-feature bucket counts for the fastText-style
    unigram+bigram feature set (every OCCURRENCE counts): yields
    (id, buckets, counts, n_occurrences), the distinct buckets and
    their counts as int64 arrays, for docs with >= 1 token;
    NULL/empty docs yield nothing (the explode semantics). The
    feature->bucket memo is per task (a doc_map kernel keeps it in its
    closure, which every task unpickles afresh): features repeat
    heavily across documents, so the md5 runs once per DISTINCT
    feature per task instead of once per occurrence (size-capped
    against adversarial vocabularies)."""
    from itertools import chain

    import numpy as np

    cap = 1 << 22
    for i, t in zip(ids, texts):
        if t is None:
            continue
        toks = tokens_py(t)
        if not toks:
            continue
        counts: dict = {}
        for f in chain(toks, ngrams_py(toks, 2)):
            b = memo.get(f)
            if b is None:
                b = code15_py(f) % buckets
                if len(memo) < cap:
                    memo[f] = b
            counts[b] = counts.get(b, 0) + 1
        yield (i,
               np.fromiter(counts.keys(), dtype=np.int64,
                           count=len(counts)),
               np.fromiter(counts.values(), dtype=np.int64,
                           count=len(counts)),
               2 * len(toks) - 1)


def quality_classify(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """fastText-architecture document classifier (Joulin et al. 2016:
    bag of hashed unigram+bigram features -> linear scores), run with
    frozen integer weights so scoring is exact and engine-portable.

    Features are the token multiset plus positional bigrams (every
    occurrence counts, matching fastText — not the distinct-shingle
    form the dedup ops use). Each feature hashes into one of
    QC_BUCKETS buckets (the hashing trick); per-class weights derive
    from the bucket index by a fixed LCG. label = argmax(score),
    ties -> class 0.

    Output: (id, n_features, score0, score1, label).

    Scale shape: scoring is DOC-LOCAL (the hashing-trick model is a
    closed form over the bucket index), so the whole classifier is one
    Arrow kernel behind the conditional compute-spread: per doc,
    bucket counts via a per-task feature memo (md5 once per distinct
    feature per task, not per occurrence) and the two scores as one
    vectorized weight gather — ZERO shuffles, no explode. The earlier
    explode + groupBy(id) form shipped one row per feature occurrence
    (25M rows at sf1.0) through codegen md5 + interpreted bigram HOF.
    A real (non-closed-form) weight table would be the same kernel
    with a broadcast weight array."""
    import numpy as np

    from ..plans.salt import doc_map

    buckets = QC_BUCKETS
    idx = np.arange(buckets, dtype=np.int64)
    w_arr = {cls: ((idx + 1) * a + c) % QC_MOD % 201 - 100
             for cls, (a, c) in QC_LCG.items()}
    w0a, w1a = w_arr[0], w_arr[1]
    memo: dict = {}

    def fn(ids, texts):
        o_id, o_n, o_s0, o_s1, o_lb = [], [], [], [], []
        for i, bs, cs, n_occ in _iter_bucket_counts(
                ids, texts, buckets, memo):
            s0 = int((w0a[bs] * cs).sum())
            s1 = int((w1a[bs] * cs).sum())
            o_id.append(i)
            o_n.append(n_occ)
            o_s0.append(s0)
            o_s1.append(s1)
            o_lb.append(1 if s1 > s0 else 0)
        return o_id, o_n, o_s0, o_s1, o_lb

    return doc_map(df, id_col, text_col, fn,
                   "n_features bigint, score0 bigint, score1 bigint, "
                   "label int")


def lm_perplexity_buckets(df: DataFrame, id_col: str = "doc_id",
                          text_col: str = "text",
                          cutoffs: "tuple[float, float] | None" = None
                          ) -> DataFrame:
    """CCNet-style LM-perplexity corpus split (Wenzek et al. 2019:
    score each document with an n-gram language model, divide the
    corpus into head/middle/tail thirds by perplexity).

    The LM here is a bigram model trained on the corpus itself (one
    counting pass; production CCNet trains on a trusted reference
    corpus once and broadcasts it — the scoring plan is identical,
    only the counts' provenance changes). Log-probabilities use
    integer log2 (floor(log2 c) = length(bin(c)) - 1), so every score
    is exact integer arithmetic and engine-portable:

        logq(doc) = sum over bigrams (w1 w2) of
                    ilog2(c2(w1 w2)) - ilog2(c1(w1))   (<= 0)
        avg_logq  = logq / n_bigrams   (higher = more predictable,
                                        i.e. LOWER perplexity)

    Bucketing: with `cutoffs=(hi, lo)` given (the production path —
    frozen thresholds from a profiling run, exactly how CCNet ships
    its cutoffs), bucket by pure comparison: avg_logq >= hi -> head,
    >= lo -> middle, else tail — a map-side operation, no global
    sort. With cutoffs=None, exact terciles via ntile(3) ordered by
    (avg_logq DESC NULLS LAST, id): the window input is only
    (id, counts) — bytes per doc, not the corpus — but it is a global
    sort; at 10^12 docs freeze cutoffs instead.

    Output: (id, n_bigrams, logq, avg_logq, bucket).

    Scale shape: one codegen posexplode_outer to (id, w0, w1) token
    rows; one count table (c2 per bigram, c1 per unigram) combined
    map-side by a rollup before its only exchange, broadcast once and
    probed twice by the per-doc groupBy(id), which also counts each
    id's input rows to replay them: no join back to the input.
    """
    # a row per token (w0, successor w1 or "") or ("", "") for a text
    # with no token; pos 0 / NULL starts an input row. SQL strings where
    # they fit: every Column node is a py4j round trip at build time
    pos = (df.select(F.col(id_col).alias("id"),
                     tokens(F.col(text_col)).alias("tk"))
           .select("id", F.posexplode_outer(F.arrays_zip(
               F.col("tk").alias("w0"),
               F.slice("tk", 2, F.size("tk")).alias("w1"))))
           .selectExpr("id", "coalesce(col.w0, '') AS w0",
                       "coalesce(col.w1, '') AS w1",
                       "coalesce(pos, 0) = 0 AS start")
           .selectExpr("*", "concat_ws(' ', w0, w1) AS bg"))
    # ONE count table keyed "w0 w1" -> c2, "w0" -> c1 (tokens hold no
    # space; the "" after a doc's last token makes c1 the unigram count)
    cnt = pos.rollup("w0", "bg").agg(F.expr("count(1) AS c")).selectExpr(
        "coalesce(bg, w0) AS key", "c")
    c2, c1 = F.broadcast(cnt).alias("c2"), F.broadcast(cnt).alias("c1")
    # each probe finds its own row's count: the inner joins drop none
    hit = "w1 != '' AND id IS NOT NULL"
    j = (pos.join(c2, F.expr("bg = c2.key"))
         .join(c1, F.expr("w0 = c1.key")).groupBy("id")
         .agg(*map(F.expr, [
             f"count_if({hit}) AS nb", "count_if(start) AS n_rows",
             f"sum(IF({hit}, length(bin(c2.c)) - length(bin(c1.c)), "
             "NULL)) AS lq"]))
         .selectExpr("id", "nb AS n_bigrams", "lq AS logq",
                     "IF(nb > 0, lq / nb, NULL) AS avg_logq",
                     "explode(array_repeat(0, CAST(n_rows AS INT)))")
         .drop("col"))
    if cutoffs is not None:
        hi, lo = cutoffs
        bucket = (F.when(F.col("avg_logq") >= hi, "head")
                  .when(F.col("avg_logq") >= lo, "middle")
                  .otherwise("tail"))
    else:
        bucket = F.expr("CASE ntile(3) OVER (ORDER BY avg_logq DESC NULLS "
                        "LAST, id) WHEN 1 THEN 'head' WHEN 2 THEN 'middle' "
                        "ELSE 'tail' END")
    return j.select("id", "n_bigrams", "logq", "avg_logq",
                    bucket.alias("bucket"))


def dsir_weights(df: DataFrame, target: DataFrame,
                 id_col: str = "doc_id", text_col: str = "text",
                 buckets: int = QC_BUCKETS,
                 cutoff: int = 0) -> DataFrame:
    """DSIR data selection (Xie et al. 2023 "Data Selection for
    Language Models via Importance Resampling"): score every raw
    document by how much more likely its hashed-n-gram features are
    under a small TARGET-domain sample than under the raw corpus,
    then select the high-importance documents.

    log importance weight of a doc, integer-quantized (log2 via
    length(bin(c)) - 1, exact in both engines):

        weight = sum over features f of
                 ilog2(c_target(b(f)) + 1) - ilog2(c_raw(b(f)) + 1)

    (+1 = add-one smoothing: features unseen in the target contribute
    their raw-frequency penalty instead of -inf). `selected` =
    weight >= cutoff — DSIR proper resamples proportionally; the
    frozen-threshold form is the deterministic streaming equivalent
    (pair with sampling.hash_split for rate control).

    Output: (id, n_features, weight, selected).

    Scale shape: both bucket-count tables are at most `buckets` rows
    (hashing trick = fixed-size model); they are built by one counting
    kernel per table (per-task bucket sums — at most `buckets` partial
    rows per task) and collected to the driver (bounded by `buckets`,
    the broadcast-scalar re-attach pattern). Scoring is then DOC-LOCAL:
    one Arrow kernel computes each document's weight as a vectorized
    gather against the closed log-ratio array — no per-occurrence rows,
    no corpus-side join, no groupBy(id) shuffle. The target sample is
    small by construction (DSIR targets are quality subsets, not
    corpora)."""
    import numpy as np

    from ..plans.salt import doc_map

    cr = _bucket_totals(df, id_col, text_col, buckets)
    ct = _bucket_totals(target, id_col, text_col, buckets)
    # ilog2(c) = length(bin(c)) - 1 = bit_length - 1 for positive c
    lp_arr = np.array(
        [(int(ct[b]) + 1).bit_length() - (int(cr[b]) + 1).bit_length()
         for b in range(buckets)], dtype=np.int64)
    memo: dict = {}

    def score_fn(ids, texts):
        o_id, o_n, o_w, o_s = [], [], [], []
        for i, bs, cs, n_occ in _iter_bucket_counts(
                ids, texts, buckets, memo):
            w = int((lp_arr[bs] * cs).sum())
            o_id.append(i)
            o_n.append(n_occ)
            o_w.append(w)
            o_s.append(w >= cutoff)
        return o_id, o_n, o_w, o_s

    return doc_map(df, id_col, text_col, score_fn,
                   "n_features bigint, weight bigint, selected boolean")


def _bucket_totals(src: DataFrame, id_col: str, text_col: str,
                   buckets: int):
    """Corpus-wide hashed-feature bucket counts as a dense int64 array
    of length `buckets`: one per-task partial-sum kernel (at most
    `buckets` rows per task), one groupBy, collected to the driver."""
    import numpy as np
    import pyarrow as pa

    from ..plans.salt import spread_compute

    def count_fn(batches):
        memo: dict = {}
        tot = np.zeros(buckets, dtype=np.int64)
        for batch in batches:
            for _i, bs, cs, _n in _iter_bucket_counts(
                    batch.column("id").to_pylist(),
                    batch.column("text").to_pylist(), buckets, memo):
                tot[bs] += cs
        nz = np.flatnonzero(tot)
        if nz.size:
            yield pa.RecordBatch.from_arrays(
                [pa.array(nz, pa.int64()), pa.array(tot[nz], pa.int64())],
                names=["b", "cnt"])

    rows = (spread_compute(src.select(F.col(id_col).alias("id"),
                                      F.col(text_col).alias("text")))
            .mapInArrow(count_fn, schema="b bigint, cnt bigint")
            .groupBy("b").agg(F.sum("cnt").alias("cnt"))
            .toArrow())
    out = np.zeros(buckets, dtype=np.int64)
    bcol = np.asarray(rows.column("b"))
    ccol = np.asarray(rows.column("cnt"))
    if bcol.size:
        out[bcol] = ccol
    return out


def word_blocklist_filter(df: DataFrame, words,
                          id_col: str = "doc_id",
                          text_col: str = "text") -> DataFrame:
    """C4-style bad-word page filter (Raffel et al. 2020 §2.2: drop
    any page containing a word from a blocklist; C4 uses the public
    "dirty naughty" list). Matching is lowercased whole-token
    equality — the C4 rule, not substring search.

    Output: (id, n_hits, keep) — n_hits counts blocklisted token
    occurrences; keep = no hits.

    Scale shape: the list ships as a literal array inside codegen
    (C4's own list is ~400 words — well within expression limits);
    corpus rows never shuffle. For 10^5+-word lists, switch to a
    broadcast left-semi join on exploded tokens instead."""
    lit_words = F.array(*[F.lit(w.lower()) for w in words])
    toks = tokens(F.col(text_col))
    hits = F.size(F.filter(
        toks, lambda t: F.array_contains(lit_words, F.lower(t))))
    return df.select(
        F.col(id_col).alias("id"),
        hits.cast("bigint").alias("n_hits"),
        (hits == 0).alias("keep"))


def token_budget_select(df: DataFrame, budget: int,
                        id_col: str = "doc_id",
                        text_col: str = "text",
                        domain_col: str = "source") -> DataFrame:
    """Budget-constrained corpus assembly: per domain, walk documents
    in a deterministic order and keep each while the tokens taken so
    far are still under `budget` (greedy prefix — the way mixture
    recipes allocate "N tokens of domain X"; a document is atomic, so
    the first one always fits and the last kept one may overshoot).

    Order = (content-hash, id): a deterministic shuffle, so the prefix
    is an unbiased sample. Substitute a quality rank upstream for
    curated mixes (the column math is identical).

    Output: (id, domain, n_tokens, cum_before, keep).

    Scale shape: ONE shuffle into domain-partitioned windows — the
    running sum never crosses domains, so parallelism = domain count;
    within a domain the prefix walk is inherently sequential (that is
    the semantics, not a plan artifact). For single-domain corpora at
    10^12 rows, split the budget across hash buckets first (the same
    two-phase trick as pack_sequences)."""
    from pyspark.sql import Window

    toks = tokens(F.col(text_col))
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(domain_col).alias("domain"),
        F.size(toks).cast("bigint").alias("n_tokens"),
        code15(F.col(text_col)).alias("rk"))
    w = (Window.partitionBy("domain").orderBy("rk", "id")
         .rowsBetween(Window.unboundedPreceding, -1))
    cum = F.coalesce(F.sum("n_tokens").over(w),
                     F.lit(0).cast("bigint"))
    return (base.withColumn("cum_before", cum)
            .select("id", "domain", "n_tokens", "cum_before",
                    (F.col("cum_before") < budget).alias("keep")))


def _hll_sketch(df: DataFrame, col: str, p: int, *keys: str) -> DataFrame:
    """HLL registers and raw estimate of `col` per group of `keys` (ONE
    row when there are none): (*keys, m, used_registers,
    zero_registers, s_scaled, estimate). The one register definition
    hll_distinct and hll_distinct_by share."""
    m = 1 << p
    rmax = 60 - p + 1
    h = code15(F.col(col))
    bucket = h % m
    # top 60-p hash bits: literal shift, NOT `/` (double division
    # would round above 2^53)
    w = F.shiftright(h, p)
    ilog2 = F.length(F.bin(w)) - 1
    rho = F.when(w > 0, F.lit(60 - p) - ilog2).otherwise(F.lit(rmax))
    # keys ride under private names so no key can collide with b/rho/M
    grp = [f"_k{i}" for i in range(len(keys))]
    regs = (df.select(*[F.col(k).alias(g) for k, g in zip(keys, grp)],
                      bucket.alias("b"), rho.alias("rho"))
            .groupBy(*grp, "b").agg(F.max("rho").alias("M")))
    alpha = (F.lit(7213).cast("double") / 10000
             / (F.lit(1.0) + F.lit(1079).cast("double") / 1000 / m))
    agg = regs.groupBy(*grp).agg(
        F.count(F.lit(1)).alias("used_registers"),
        F.sum(F.expr(f"cast(1 as bigint) << ({rmax} - M)"))
        .alias("s_present"))
    out = agg.select(
        *[F.col(g).alias(k) for k, g in zip(keys, grp)],
        F.lit(m).cast("int").alias("m"),
        F.col("used_registers").cast("bigint"),
        (F.lit(m) - F.col("used_registers")).cast("bigint")
        .alias("zero_registers"),
        (F.col("s_present")
         + (F.lit(m) - F.col("used_registers"))
         * F.lit(1 << rmax).cast("bigint")).alias("s_scaled"))
    est = (alpha * F.lit(float(m * m)) * F.lit(float(1 << rmax))
           / F.col("s_scaled").cast("double"))
    return out.withColumn("estimate", est)


def hll_distinct(df: DataFrame, col: str, p: int = 6,
                 exact: bool = True) -> DataFrame:
    """Deterministic HyperLogLog distinct-count sketch (Flajolet et
    al. 2007), built on the engine-portable md5-prefix hash so the
    registers — and therefore the estimate — are bit-identical across
    engines and partitionings (unlike approx_count_distinct, whose
    hash/merge is engine-private).

    m = 2^p registers; for each value, bucket = h mod m and
    rho = position of the leftmost 1-bit in the remaining 60-p hash
    bits (integer log2 via bin()); register = max rho. The estimate
    uses the raw HLL formula with the 1/2^rho sum carried as a SCALED
    INTEGER (sum of 2^(Rmax - M_b)), so the only float ops are two
    multiplications and one division in fixed order — no
    transcendentals, no float accumulation ordering.

    Returns ONE row: (m, used_registers, zero_registers, s_scaled,
    estimate[, exact_count, rel_err]). Raw HLL bias below ~2.5m
    applies (linear-counting correction is a driver-side policy
    choice; zero_registers is reported so callers can apply it).

    Scale shape: this IS the mergeable-sketch pattern — the register
    max is a map-side partial aggregate, so 10^12 rows reduce to m
    rows before the single tiny shuffle; per-partition sketches merge
    by register-wise max, which is exactly what the groupBy computes.
    """
    out = _hll_sketch(df, col, p)
    if exact:
        ex = df.agg(F.countDistinct(F.col(col)).alias("exact_count"))
        out = out.crossJoin(F.broadcast(ex)).withColumn(
            "rel_err", F.col("estimate") / F.col("exact_count"))
    return out


# Count-Min hash-row parameters (pairwise-independent affine family,
# fixed so both engines and every run agree)
CM_ROWS = [(31, 7), (37, 143), (41, 557), (43, 991)]


def cm_token_counts(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", top_k: int = 20,
                    width: int = 1024) -> DataFrame:
    """Count-Min sketch token frequencies (Cormode & Muthukrishnan
    2005) with a built-in accuracy probe: build a d x width sketch
    over all token occurrences, then report the sketch estimate next
    to the TRUE count for the top_k most frequent tokens.

    est(x) = min over rows j of counter[j][h_j(x)] — never an
    underestimate; overestimate bounded by collisions (eps ~ e/width
    of the stream length, whp). All integer arithmetic on the
    md5-prefix code, so the sketch is bit-identical across engines
    and partitionings.

    Output: (token, true_count, cm_estimate, overestimate), top_k
    rows ordered facts (ties: token asc).

    Scale shape: the sketch IS the mergeable aggregate — counters are
    sums, so 10^12 token occurrences partial-aggregate map-side into
    at most d*width rows before one tiny shuffle (same pattern as
    hll_distinct, additive instead of max). The probe side touches
    only top_k * d sketch cells via a broadcast join."""
    import pyarrow as pa

    d = len(CM_ROWS)

    # Per-task token counting kernel: the stream of 6M+ occurrence
    # rows (at sf1.0) reduces to one (token, count) partial per task
    # BEFORE anything else runs — the sketch and the truth table are
    # both additive, so every downstream aggregate consumes vocab-
    # bounded partials instead of occurrence rows, and the md5 runs
    # once per distinct token per task rather than once per occurrence
    # (x d for the sketch explode).
    def count_fn(batches):
        counts: dict = {}
        for batch in batches:
            for t in batch.column("text").to_pylist():
                if t is None:
                    continue
                for w in tokens_py(t):
                    counts[w] = counts.get(w, 0) + 1
        if counts:
            yield pa.RecordBatch.from_arrays(
                [pa.array(list(counts.keys()), pa.string()),
                 pa.array(list(counts.values()), pa.int64())],
                names=["tok", "cnt"])

    from ..plans.salt import spread_compute

    vals = (spread_compute(df.select(F.col(text_col).alias("text")))
            .mapInArrow(count_fn, schema="tok string, cnt bigint"))
    # the d sketch cells of a `tok` row, for the sketch and the probes
    code = code15(F.col("tok")) % CODE_MOD
    tok_cells = F.explode(F.array(*[
        F.struct(F.lit(j).alias("j"),
                 ((F.lit(a) * code + F.lit(b)) % CODE_MOD % width)
                 .alias("bucket"))
        for j, (a, b) in enumerate(CM_ROWS)])).alias("c")
    cells = (vals.select(tok_cells, "cnt")
             .select("c.j", "c.bucket", "cnt")
             .groupBy("j", "bucket")
             .agg(F.sum("cnt").alias("cnt")))

    truth = (vals.groupBy("tok").agg(F.sum("cnt").alias("true_count")))
    from pyspark.sql import Window
    wnd = Window.orderBy(F.desc("true_count"), F.asc("tok"))
    probes = (truth.withColumn("rk", F.row_number().over(wnd))
              .where(F.col("rk") <= top_k).drop("rk"))

    probe_cells = (probes.select("tok", "true_count", tok_cells)
                   .select("tok", "true_count", "c.j", "c.bucket"))
    est = (cells.join(F.broadcast(probe_cells), ["j", "bucket"])
           .groupBy("tok")
           .agg(F.first("true_count").alias("true_count"),
                F.min("cnt").alias("cm_estimate")))
    return est.select(
        F.col("tok").alias("token"),
        F.col("true_count").cast("bigint"),
        F.col("cm_estimate").cast("bigint"),
        (F.col("cm_estimate") - F.col("true_count")).cast("bigint")
        .alias("overestimate"))


# --- Bloom filter membership sketch ----------------------------------------

BLOOM_BITS = 1 << 18   # 262,144 bits -> 8,192 32-bit words
BLOOM_K = 5
BLOOM_SALT = "bloom-v1"


def _bloom_positions(value_col, n_bits: int, k: int, salt: str):
    """array of k bit positions for a value: independent md5-prefix
    hashes (value || '#salt#j'), each mod n_bits."""
    return F.array(*[
        code15(F.concat(value_col, F.lit(f"#{salt}#{j}"))) % n_bits
        for j in range(k)])


def bloom_build(df: DataFrame, col: str = "text",
                n_bits: int = BLOOM_BITS, k: int = BLOOM_K,
                salt: str = BLOOM_SALT) -> DataFrame:
    """Distributed Bloom filter (Bloom 1970) over a column:
    (word_idx, bits) rows, 32 bits per word.

    32-bit words, not 64: DuckDB's checked arithmetic rejects
    `1::BIGINT << 63`, and bit 31 keeps every word value positive in
    both engines, so word contents compare as plain BIGINTs.

    Mergeable-sketch scale shape (the HLL/Count-Min pattern): bit_or
    is a map-side partial aggregate, so 10^12 rows reduce to at most
    n_bits/32 rows per partition before one tiny shuffle; sketches of
    corpus shards union by the same groupBy+bit_or. Sizing: false
    positive rate ~ (1 - e^{-kn/m})^k — for n distinct values pick
    m = n_bits ~ 10-15 bits/value (k=5 -> ~1% at 10, ~0.1% at 15);
    at 10^9 values the sketch is ~1.9 GB, still a broadcast-or-join
    table, and the build cost is one scan + one shuffle of m/32 rows.
    """
    pos = F.explode(
        _bloom_positions(F.col(col), n_bits, k, salt)).alias("pos")
    return (df.select(pos)
            .select(F.expr("pos div 32").alias("word_idx"),
                    F.expr("shiftleft(1L, cast(pos % 32 as int))")
                    .alias("bit"))
            .groupBy("word_idx")
            .agg(F.bit_or("bit").alias("bits")))


def bloom_member(bloom: DataFrame, probes: DataFrame,
                 id_col: str = "probe_id", col: str = "probe",
                 n_bits: int = BLOOM_BITS, k: int = BLOOM_K,
                 salt: str = BLOOM_SALT) -> DataFrame:
    """(probe_id, probe) -> (probe_id, n_hits, claimed): claimed iff
    all k probe bits are set. The sketch side is broadcast (8 KiB per
    2^16 bits); probes explode k-fold, then one groupBy on probe_id
    — at scale that is a map-side-combined count, never a sort."""
    p = (probes.select(F.col(id_col).alias("probe_id"),
                       F.explode(_bloom_positions(F.col(col), n_bits,
                                                  k, salt)).alias("pos"))
         .select("probe_id", F.expr("pos div 32").alias("word_idx"),
                 (F.col("pos") % 32).cast("int").alias("bit")))
    hit = (F.col("bits").isNotNull() &
           (F.col("bits").bitwiseAND(F.expr("shiftleft(1L, bit)")) != 0))
    return (p.join(F.broadcast(bloom), "word_idx", "left")
            .select("probe_id", hit.cast("int").alias("hit"))
            .groupBy("probe_id")
            .agg(F.sum("hit").cast("bigint").alias("n_hits"))
            .select("probe_id", "n_hits",
                    (F.col("n_hits") == k).alias("claimed")))


# --- TF-IDF top terms ------------------------------------------------------

TFIDF_TOP_K = 5
TFIDF_IDF_SCALE = 1 << 20


def tfidf_top_terms(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text",
                    top_k: int = TFIDF_TOP_K) -> DataFrame:
    """Per-document top-k terms by TF-IDF — the classic corpus
    keyword/summarization signal. IDF is integer-quantized
    (floor(log2(N * 2^20 / df)) via bin-length, the lm_ppl pattern),
    so scores and the (score desc, tf desc, term asc) ranking are
    bit-exact across engines and partitionings; no float log.

    Output: (id, term, tf, df, score_scaled, rk), rk <= top_k.

    Scale shape: explode -> groupBy(id, term) with map-side combine
    (shuffle 1, the only corpus-sized exchange); document frequencies
    aggregate the (id, term) table down to vocab size (tiny) and come
    back as a BROADCAST join; corpus size joins as a broadcast
    one-row aggregate (no driver action); the top-k window
    repartitions the tf table by id (shuffle 2 — inherent to any
    per-doc ranking, and it carries aggregated rows, not tokens).
    """
    tf = (df.select(F.col(id_col).alias("id"),
                    F.explode(tokens(F.col(text_col))).alias("term"))
          .groupBy("id", "term")
          .agg(F.count(F.lit(1)).alias("tf")))
    n_docs = df.groupBy().agg(F.count(F.lit(1)).alias("n_units"))
    return _tfidf_top(tf, "id", n_docs, top_k)


def _tfidf_top(tf: DataFrame, key: str, n_units: DataFrame,
               top_k: int) -> DataFrame:
    """Top-k terms per `key` unit from its (key, term, tf) table and
    the one-row `n_units` unit count: df, the integer-quantized idf
    score and the (score desc, tf desc, term asc) rank — the one
    scoring body of tfidf_top_terms and domain_top_terms."""
    from pyspark.sql import Window

    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (tf.join(F.broadcast(dfreq), "term")
              .join(F.broadcast(n_units))
              .select(key, "term", "tf", "df",
                      (F.col("tf") *
                       (F.length(F.bin(F.expr(
                           f"(n_units * {TFIDF_IDF_SCALE}L) div df")))
                        - 1).cast("bigint")).alias("score_scaled")))
    wnd = (Window.partitionBy(key)
           .orderBy(F.desc("score_scaled"), F.desc("tf"), F.asc("term")))
    return (scored.withColumn("rk", F.row_number().over(wnd)
                              .cast("bigint"))
            .where(F.col("rk") <= top_k))


# --- jusText-style paragraph boilerplate classification --------------------

PARA_LEN_SHORT = 25
PARA_STOP_HI_MILLI = 180
PARA_STOP_LO_MILLI = 80


def paragraph_classify(df: DataFrame, stopwords,
                       id_col: str = "doc_id", text_col: str = "text",
                       len_short: int = PARA_LEN_SHORT,
                       stop_hi_milli: int = PARA_STOP_HI_MILLI,
                       stop_lo_milli: int = PARA_STOP_LO_MILLI
                       ) -> DataFrame:
    """Context-sensitive paragraph boilerplate classification in the
    style of jusText (Pomikalek 2011): paragraphs are first classified
    context-free from length and stop-word density, then the ambiguous
    ones inherit from their nearest decisive neighbor —

      init:  'short'     if n_chars < len_short
             'good'      if stop_density >= hi
             'near-good' if stop_density >= lo
             'bad'       otherwise
      final: decisive classes keep their init; 'short'/'near-good'
             become 'good' iff the nearest decisive paragraph BEFORE
             or AFTER in the document is 'good', else 'bad'.

    Differences from the published algorithm, chosen for an exact
    cross-engine oracle: paragraphs are newline-delimited text (link
    density needs HTML — that signal lives in kernels/html.py's block
    scoring), density thresholds are integer per-mille, and the
    context pass is single-step nearest-decisive rather than the
    iterative edge-growing variant. Deterministic either way.

    Output: (id, para_idx, n_chars, n_tokens, stop_milli, init_class,
    final_class); blank paragraphs are dropped.

    Scale shape: split/explode and all signals are codegen; the two
    context windows share one (id, para_idx) sort after a single
    exchange on id — document-local state, shuffled once, carrying
    short paragraph rows rather than raw pages.
    """
    from pyspark.sql import Window

    stopwords = list(stopwords)
    paras = (df.select(F.col(id_col).alias("id"),
                       F.posexplode(F.split(F.col(text_col), "\n"))
                       .alias("para_idx", "para"))
             .where(F.trim(F.col("para")) != ""))
    toks = tokens(F.col("para"))
    n_tok = F.size(toks).cast("bigint")
    n_stop = F.size(F.filter(toks, lambda t: t.isin(stopwords))) \
        .cast("bigint")
    sig = paras.select(
        "id", F.col("para_idx").cast("bigint").alias("para_idx"),
        F.length("para").cast("bigint").alias("n_chars"),
        n_tok.alias("n_tokens"),
        n_stop.alias("_nstop"))
    stop_milli = F.expr("(1000 * _nstop) div greatest(n_tokens, 1L)")
    init = (F.when(F.col("n_chars") < len_short, F.lit("short"))
            .when(F.col("stop_milli") >= stop_hi_milli, F.lit("good"))
            .when(F.col("stop_milli") >= stop_lo_milli,
                  F.lit("near-good"))
            .otherwise(F.lit("bad")))
    sig = (sig.withColumn("stop_milli", stop_milli)
           .withColumn("init_class", init)
           .drop("_nstop"))
    decisive = F.when(F.col("init_class").isin("good", "bad"),
                      F.col("init_class"))
    before = (Window.partitionBy("id").orderBy("para_idx")
              .rowsBetween(Window.unboundedPreceding, -1))
    after = (Window.partitionBy("id").orderBy("para_idx")
             .rowsBetween(1, Window.unboundedFollowing))
    prev_ctx = F.last(decisive, ignorenulls=True).over(before)
    next_ctx = F.first(decisive, ignorenulls=True).over(after)
    final = (F.when(F.col("init_class").isin("good", "bad"),
                    F.col("init_class"))
             .when((prev_ctx == "good") | (next_ctx == "good"),
                   F.lit("good"))
             .otherwise(F.lit("bad")))
    return sig.withColumn("final_class", final)


# --- mojibake (encoding-damage) repair -------------------------------------

# UTF-8 bytes mis-decoded as Latin-1/cp1252 — the classic web-crawl
# encoding damage (the ftfy fix set's high-frequency core). Ordered:
# 3-char punctuation sequences first so their 'â€' prefix is consumed
# before any 2-char rule could see it.
MOJIBAKE_MAP = [
    ("â€™", "’"), ("â€œ", "“"), ("â€“", "–"), ("â€”", "—"),
    ("â€¦", "…"), ("Ã©", "é"), ("Ã¨", "è"), ("Ã¼", "ü"),
    ("Ã¶", "ö"), ("Ã¤", "ä"), ("Ã±", "ñ"), ("Ã§", "ç"), ("Ã¯", "ï"),
]


def fix_mojibake(df: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """(id, text_fixed, n_fixes, had_mojibake): repair the frozen
    table of common UTF-8-read-as-Latin-1 sequences by sequential
    counted replaces — each count is taken on the text as it stands
    when that rule applies, so n_fixes equals the number of
    replacements actually performed.

    A full ftfy re-decodes byte streams; this is the deterministic,
    engine-portable subset that covers the dominant mojibake mass in
    web corpora. Pure codegen (chained replace), zero shuffles —
    at 100 TB this rides the same scan as every other per-doc signal.
    """
    cur, n_fixes = mojibake_columns(F.col(text_col))
    return df.select(
        F.col(id_col).alias("id"), cur.alias("text_fixed"),
        n_fixes.alias("n_fixes"), (n_fixes > 0).alias("had_mojibake"))


def mojibake_columns(text_col):
    """(fixed, n_fixes) column pair over an arbitrary text column —
    the embeddable form for composing the repair into wider selects
    (e.g. as the first stage of a cleaning funnel) without a join."""
    cur = text_col
    n_fixes = F.lit(0).cast("bigint")
    for bad, good in MOJIBAKE_MAP:
        cnt = ((F.length(cur) -
                F.length(F.replace(cur, F.lit(bad), F.lit(""))))
               / F.lit(len(bad))).cast("bigint")
        n_fixes = n_fixes + cnt
        cur = F.replace(cur, F.lit(bad), F.lit(good))
    return cur, n_fixes


# --- compression / entropy complexity signals ------------------------------

def complexity_signals(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """(id, n_bytes, deflate_bytes, compress_milli, entropy_milli):
    the information-density quality signals — near-random text (high
    entropy, incompressible) and degenerate repetition (near-zero
    ratio) both flag non-language content that n-gram rules miss
    (the RefinedWeb/Dolma practice of filtering on gzip ratio).

    compress_milli = 1000 * deflate_bytes / n_bytes (integer);
    entropy_milli  = floor(1000 * Shannon entropy of the UTF-8 byte
    distribution, bits/byte). Both integer-quantized and computed
    with float64 numpy in fixed order, so results are deterministic
    and partition-invariant; zlib level is pinned (6) for
    reproducibility across runs.

    DEFLATE is not SQL-expressible, so this operator carries kernel
    golden tests + the driver's rows-only check instead of a DuckDB
    value oracle (the bloc_transformer precedent). Physical shape =
    the winnowing kernel: document-local numpy/zlib in one doc_map
    kernel.
    """
    import zlib

    import numpy as np

    from ..plans.salt import doc_map

    def fn(ids, texts):
        rows = ([], [], [], [], [])
        for rid, text in zip(ids, texts):
            if text is None:
                continue
            raw = text.encode("utf-8")
            n = len(raw)
            comp = len(zlib.compress(raw, 6))
            if n:
                counts = np.bincount(
                    np.frombuffer(raw, dtype=np.uint8),
                    minlength=256).astype(np.float64)
                p = counts[counts > 0] / n
                ent = float(-(p * np.log2(p)).sum())
            else:
                ent = 0.0
            rows[0].append(rid)
            rows[1].append(n)
            rows[2].append(comp)
            rows[3].append(1000 * comp // n if n else 0)
            rows[4].append(int(ent * 1000))
        return rows

    return doc_map(df, id_col, text_col, fn,
                   "n_bytes bigint, deflate_bytes bigint, "
                   "compress_milli bigint, entropy_milli bigint")


# --- text normalization (dedup canonicalization) ---------------------------

# typographic folds: smart quotes, dashes, ellipsis, nbsp, tab. The
# canonical form for formatting-insensitive dedup — distinct from
# MOJIBAKE_MAP, which repairs *damage*; these are legitimate glyphs
# folded to ASCII so reformatted mirrors collide.
PUNCT_FOLD_MAP = [
    ("’", "'"), ("‘", "'"), ("“", '"'), ("”", '"'),
    ("–", "-"), ("—", "-"), ("…", "..."),
    (" ", " "), ("\t", " "),
]


def c4_filters(df: DataFrame, id_col: str = "doc_id",
               text_col: str = "text",
               min_words_per_line: int = 5,
               min_kept_lines: int = 3) -> DataFrame:
    """C4 cleaning rules (Raffel et al. 2020 §2.2 — the published
    Common-Crawl filter behind the C4 corpus), the exact subset that
    needs no English sentence splitter:

      * keep a LINE iff it ends in terminal punctuation (. ! ? \"),
        has >= min_words_per_line space-words, and does not mention
        'javascript' (case-insensitive);
      * keep the PAGE iff >= min_kept_lines lines survive and the raw
        text contains neither '{' (code marker) nor 'lorem ipsum'
        (boilerplate marker).

    The paper's \">= 3 sentences\" gate is implemented as >= 3 kept
    terminal-punctuated lines (its sentence counter is an English
    nltk pipeline; a kept line is terminal-punctuated by
    construction, so the gate semantics carry).

    Output: (id, n_lines, n_kept_lines, has_brace, has_lorem,
    clean_text, keep). Zero-shuffle whole-row codegen: one split +
    ONE filter lambda per row + instr flags; exact DuckDB oracle."""
    text = F.col(text_col)
    lines = F.split(text, "\n")
    mw = int(min_words_per_line)

    def line_ok(line):
        t = F.trim(line)
        last = F.substring(t, -1, 1)
        return (last.isin(".", "!", "?", '"')
                & (F.size(F.filter(F.split(t, " "),
                                   lambda w: w != "")) >= F.lit(mw))
                & ~F.contains(F.lower(t), F.lit("javascript")))

    kept = F.filter(lines, line_ok)
    n_kept = F.size(kept).cast("bigint")
    has_brace = F.instr(text, "{") > 0
    has_lorem = F.instr(F.lower(text), "lorem ipsum") > 0
    return df.select(
        F.col(id_col).alias("id"),
        F.size(lines).cast("bigint").alias("n_lines"),
        n_kept.alias("n_kept_lines"),
        has_brace.alias("has_brace"),
        has_lorem.alias("has_lorem"),
        F.array_join(kept, "\n").alias("clean_text"),
        ((n_kept >= int(min_kept_lines)) & ~has_brace & ~has_lorem)
        .alias("keep"))


def normalize_text(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """(id, text_norm, norm_code): lowercase, fold typographic
    punctuation, collapse space runs, trim — then the md5-prefix code
    of the canonical form, the join key for formatting-insensitive
    exact dedup. Pure codegen; the ' +' regex is dialect-safe (no
    classes, no anchors)."""
    cur = F.col(text_col)
    for bad, good in PUNCT_FOLD_MAP:
        cur = F.replace(cur, F.lit(bad), F.lit(good))
    cur = F.trim(F.regexp_replace(F.lower(cur), " +", " "))
    return df.select(F.col(id_col).alias("id"),
                     cur.alias("text_norm"),
                     code15(cur).alias("norm_code"))


def domain_top_terms(df: DataFrame, domain_col: str = "source",
                     text_col: str = "text",
                     top_k: int = 5) -> DataFrame:
    """Domain-distinctive terms: TF-IDF at the domain granularity —
    tf = term occurrences within the domain, idf from the number of
    DOMAINS containing the term. The corpus-curation use: one glance
    at what a domain actually contains (and a drift check between
    snapshots). Same integer-quantized idf and shuffle shape as
    tfidf_top_terms, with domains as the documents."""
    tf = (df.select(F.col(domain_col).alias("domain"),
                    F.explode(tokens(F.col(text_col))).alias("term"))
          .groupBy("domain", "term")
          .agg(F.count(F.lit(1)).alias("tf")))
    n_dom = tf.select("domain").distinct().groupBy().agg(
        F.count(F.lit(1)).alias("n_units"))
    return _tfidf_top(tf, "domain", n_dom, top_k)


def dataset_card(df: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text", lang_col: str = "lang",
                 domain_col: str = "source") -> DataFrame:
    """One-row corpus summary — the numbers a dataset card reports:
    sizes, language/domain cardinalities, exact-dup rate (per-mille,
    integer), tokens per doc. One aggregation job; the count
    distincts expand map-side and reduce once."""
    toks = tokens(F.col(text_col))
    return (df.groupBy().agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length(text_col).cast("bigint")).alias("n_chars"),
        F.sum(F.size(toks).cast("bigint")).alias("n_tokens"),
        F.countDistinct(lang_col).alias("n_langs"),
        F.countDistinct(domain_col).alias("n_domains"),
        F.countDistinct(F.md5(F.col(text_col)))
        .alias("n_distinct_texts"))
        .select("*",
                F.expr("(1000 * (n_docs - n_distinct_texts)) "
                       "div n_docs").alias("dup_milli"),
                (F.col("n_tokens").cast("double") / F.col("n_docs"))
                .alias("avg_tokens")))


def length_quantiles(df: DataFrame, text_col: str = "text",
                     ps=(50, 90, 99)) -> DataFrame:
    """Exact length quantiles in one row: (n, p50, p90, p99, ...).

    The scalable EXACT plan for bounded-cardinality values: aggregate
    to per-length counts first (map-side combined — the only
    corpus-sized step), then the cumulative window runs over DISTINCT
    lengths, thousands of rows, never the corpus. approx_percentile
    trades exactness for one pass; this gets both because document
    lengths have bounded cardinality. Quantile definition: smallest v
    with cum_count >= ceil(p/100 * n)."""
    from pyspark.sql import Window

    counts = (df.select(F.length(text_col).cast("bigint").alias("v"))
              .groupBy("v").agg(F.count(F.lit(1)).alias("c")))
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = counts.withColumn("cum", F.sum("c").over(w))
    tot = counts.groupBy().agg(F.sum("c").cast("bigint").alias("n"))
    picks = [F.min(F.when(
        F.col("cum") >= F.expr(
            f"cast(ceil(CAST({p} AS DOUBLE)/100 * n) as bigint)"),
        F.col("v"))).alias(f"p{p}") for p in ps]
    return (cum.join(F.broadcast(tot))
            .groupBy().agg(F.first("n").alias("n"), *picks))


def hll_distinct_by(df: DataFrame, group_col: str, col: str,
                    p: int = 6) -> DataFrame:
    """Per-group HyperLogLog distinct sketch: hll_distinct's register
    math keyed by a group column — one row per group with the same
    deterministic estimate columns. The mergeable-sketch shape now
    doubles as a GROUPED aggregate: registers reduce map-side to at
    most m rows per group before one small shuffle; per-group
    sketches from different corpus shards merge by register max, so
    snapshots can be sketched incrementally and combined."""
    return _hll_sketch(df, col, p, group_col)


def char_profile(df: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """(id, n_chars, n_letters, n_digits, n_spaces, n_other,
    letter_milli, other_milli): character-class composition — the
    symbol-soup detector (binary-ish payloads, markup residue, and
    ASCII-art pages all show low letter share / high other share
    before any tokenizer runs). ASCII classes only, deliberately:
    [a-zA-Z]/[0-9]/[ ] mean the same thing to Java regex and RE2, so
    the oracle is exact; non-ASCII lands in n_other (for Latin-heavy
    corpora that doubles as a rough foreign-script share). Pure
    codegen, rides the scan."""
    t = F.col(text_col)
    n = F.length(t).cast("bigint")
    letters = F.regexp_count(t, F.lit("[a-zA-Z]")).cast("bigint")
    digits = F.regexp_count(t, F.lit("[0-9]")).cast("bigint")
    spaces = F.regexp_count(t, F.lit("[ ]")).cast("bigint")
    base = df.select(
        F.col(id_col).alias("id"), n.alias("n_chars"),
        letters.alias("n_letters"), digits.alias("n_digits"),
        spaces.alias("n_spaces"),
        (n - letters - digits - spaces).alias("n_other"))
    return base.select(
        "*",
        F.expr("(1000 * n_letters) div greatest(n_chars, 1L)")
        .alias("letter_milli"),
        F.expr("(1000 * n_other) div greatest(n_chars, 1L)")
        .alias("other_milli"))
