"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` — flagship: the fused extract->classify->aggregate
pipeline over a deterministic synthetic Common-Crawl-style pages
table sized from sf0.001.

`queries()` / `oracle_sql()` — one entry per implemented operator
(SURVEY.md §2 + the training-data operator suite). EVERY query
carries an exact DuckDB oracle — including the multimodal metadata
columns and the full PDF/HTML parse pipelines, whose expected output
is derived in closed form from the synth generator formulas (the
corpus is constructed inversion-free under the reading-order
relation, so generation order is reading order). The two queries
whose value math is not SQL-expressible (bloc_transformer's softmax
attention, complexity_signals' DEFLATE length) derive their ROW SET
and SQL-expressible columns independently in DuckDB and pin the
remaining values as frozen-literal VALUES tables computed once from
the deterministic corpus (the trainable_classify frozen-weights
precedent; see edspdf_spark/frozen.py + jobs/freeze_goldens.py).
All shared math uses
engine-portable constructions (md5-prefix BIGINT hashes, integer
arithmetic, quantized dot products, verbatim float op order,
printf('%g') write->read round-trips) so value hashes match
bit-for-bit.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402,N812

from edspdf_spark import synth  # noqa: E402
from edspdf_spark.operators import (PipelineConfig, aggregate, blocs,  # noqa: E402
                                    extract, mask_classify, masks_df,
                                    run_fused)
from edspdf_spark.operators.analysis import (fingerprint, lang_id,  # noqa: E402
                                             text_quality)
from edspdf_spark.operators.dedup import (exact_dedup, jaccard_pairs,  # noqa: E402
                                          minhash_lsh_pairs, shingle_table,
                                          simhash, simhash_near_pairs)
from edspdf_spark.operators.multimodal import (binary_metadata,  # noqa: E402
                                               extract_features)
from edspdf_spark.operators.simsearch import (brute_force_topk,  # noqa: E402
                                              cosine_bucket_pairs)
from edspdf_spark.plans import defuse_skew  # noqa: E402
from edspdf_spark.plans.salt import group_map  # noqa: E402

BODY_MASKS = [(None, 0.1, 0.9, 0.1, 0.9, "body")]
PIPE_CFG = PipelineConfig(masks=BODY_MASKS, threshold=0.1)

N_SYNTH_DOCS = 200  # fixed-size synthetic corpus for extraction queries


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Sized from sf0.001's documents table; generates the pages table
    on executors and runs the zero-shuffle fused pipeline."""
    n = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").count()
    pages = synth.pages_spark(spark, int(n), num_partitions=8)
    out = run_fused(defuse_skew(pages, 8), PIPE_CFG)
    return out.select("url", "label", "text", "error", "num_pages", "n_blocs")


# ---------------------------------------------------------------------------
# shared derivations (Spark side). Every arithmetic literal is written
# CAST(x AS DOUBLE)/d so both engines do identical float64 ops — Spark
# and DuckDB both parse bare `0.43` as DECIMAL, which would diverge.
# ---------------------------------------------------------------------------

# the documents table's columns: reading with them skips the Spark job
# that infers a parquet schema on every read (~0.1 s per query)
DOCS_SCHEMA = ("doc_id BIGINT, text STRING, lang STRING, source STRING, "
               "n_chars BIGINT")


def _docs(spark, sf_dir, spread=True):
    """Documents table, compute-spread: the testdata parquets hold ONE
    row group, so the raw scan can never exceed one effective task no
    matter the core count — every doc-local operator behind it was
    serialized. spread_compute is a plan-time no-op once the source
    has >= core-count partitions (any production-scale scan), so this
    costs an exchange exactly when it buys parallelism; results are
    unchanged (row order is the only difference, and the driver
    compare is order-insensitive).

    spread=False for consumers where the exchange buys nothing:
    queries that immediately aggregate (the map side is one cheap
    pass: bm25_topk's per-doc row aggregate, lm_ppl_buckets' count
    exchange) and operators that compute-spread their own pruned
    (id, text) projection internally (A/B measured: the blanket
    spread cost those ~0.3-0.5 s each at sf1.0 for zero benefit)."""
    scan = spark.read.schema(DOCS_SCHEMA).parquet(
        f"{sf_dir}/documents.parquet")
    if not spread:
        return scan
    from edspdf_spark.plans.salt import spread_compute

    return spread_compute(scan)


def _embeddings(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _events(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _lineitem(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/lineitem.parquet")


def _corpus_exact(spark, sf_dir):
    """documents + exact copies of every 10th doc (id+1000000)."""
    d = _docs(spark, sf_dir, spread=False).select("doc_id", "text")
    dup = (d.where(F.col("doc_id") % 10 == 0)
           .select((F.col("doc_id") + 1000000).alias("doc_id"), "text"))
    return d.unionByName(dup)


CORPUS_EXACT_SQL = """
  (SELECT doc_id, text FROM documents
   UNION ALL
   SELECT doc_id + 1000000 AS doc_id, text FROM documents
   WHERE doc_id % 10 = 0)
"""


def _corpus_near(spark, sf_dir):
    """documents + NEAR copies (every 5th doc, last 15 chars dropped)."""
    d = _docs(spark, sf_dir, spread=False).select("doc_id", "text")
    dup = (d.where(F.col("doc_id") % 5 == 0)
           .select((F.col("doc_id") + 1000000).alias("doc_id"),
                   F.expr("substring(text, 1, length(text) - 15)")
                   .alias("text")))
    return d.unionByName(dup)


CORPUS_NEAR_SQL = """
  (SELECT doc_id, text FROM documents
   UNION ALL
   SELECT doc_id + 1000000 AS doc_id,
          substring(text, 1, length(text) - 15) AS text
   FROM documents WHERE doc_id % 5 = 0)
"""

# DuckDB fragment: distinct word-3-shingle codes per doc over a corpus
SHINGLES_SQL = """
  WITH toks AS (
    SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS t
    FROM {corpus}
  ),
  sh AS (
    SELECT DISTINCT doc_id,
           unnest(list_transform(
             generate_series(1, greatest(len(t) - 2, 0)),
             i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
    FROM toks
  ),
  codes AS (
    SELECT doc_id AS id,
           ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS code
    FROM sh
  )
"""


def _derived_blocs(spark, sf_dir):
    """5 synthetic blocs per document, coordinates from exact integer
    arithmetic (identical formulas in the oracle)."""
    return _docs(spark, sf_dir).select("doc_id").selectExpr(
        "doc_id",
        "explode(sequence(0, 4)) AS k",
    ).selectExpr(
        "cast(doc_id as string) AS url",
        "cast(pmod(k, 2) as int) AS page_num",
        "cast(k as int) AS order_idx",
        "doc_id", "k",
        "CAST((doc_id * 7 + k * 13) % 80 AS DOUBLE) / 100 AS x0",
        "CAST((doc_id * 7 + k * 13) % 80 + 10 + (doc_id + k) % 10 AS DOUBLE)"
        " / 100 AS x1",
        "CAST((doc_id * 11 + k * 17) % 80 AS DOUBLE) / 100 AS y0",
        "CAST((doc_id * 11 + k * 17) % 80 + 5 + (doc_id * 3 + k) % 12"
        " AS DOUBLE) / 100 AS y1",
        "concat('w', doc_id, '_', k) AS text",
    )


DERIVED_BLOCS_SQL = """
  (SELECT CAST(doc_id AS VARCHAR) AS url,
          CAST(k % 2 AS INTEGER) AS page_num,
          CAST(k AS INTEGER) AS order_idx,
          doc_id, k,
          CAST((doc_id * 7 + k * 13) % 80 AS DOUBLE) / 100 AS x0,
          CAST((doc_id * 7 + k * 13) % 80 + 10 + (doc_id + k) % 10 AS DOUBLE)
            / 100 AS x1,
          CAST((doc_id * 11 + k * 17) % 80 AS DOUBLE) / 100 AS y0,
          CAST((doc_id * 11 + k * 17) % 80 + 5 + (doc_id * 3 + k) % 12
            AS DOUBLE) / 100 AS y1,
          'w' || doc_id || '_' || k AS text
   FROM documents CROSS JOIN generate_series(0, 4) AS g(k))
"""

# masks used by the classify query: header band on top, body below,
# plus the engine's implicit catch-all pollution mask
CLS_MASKS = [("header", "header", 0.0, 0.0, 1.0, 0.25, None),
             ("body", "body", 0.0, 0.25, 1.0, 1.0, None)]

# oracle rendering of the same mask table (priority = order; page NULL)
CLS_MASKS_SQL = """
  (SELECT * FROM (VALUES
     ('header', CAST(0 AS DOUBLE), CAST(0 AS DOUBLE),
      CAST(1 AS DOUBLE), CAST(25 AS DOUBLE)/100, 0),
     ('body',   CAST(0 AS DOUBLE), CAST(25 AS DOUBLE)/100,
      CAST(1 AS DOUBLE), CAST(1 AS DOUBLE), 1),
     ('pollution', CAST(-10000 AS DOUBLE), CAST(-10000 AS DOUBLE),
      CAST(10000 AS DOUBLE), CAST(10000 AS DOUBLE), 2))
   AS m(label, mx0, my0, mx1, my1, priority))
"""


def _derived_lines(spark, sf_dir):
    """8 one-page lines per doc for the aggregation oracle; constant
    height 0.1, bottom positions from a closed-form dy pattern that
    cycles the three separator regimes."""
    return _docs(spark, sf_dir).select("doc_id").selectExpr(
        "doc_id", "explode(sequence(0, 7)) AS k",
    ).selectExpr(
        "cast(doc_id as string) AS url",
        "cast(0 as int) AS page_num",
        "cast(k as int) AS order_idx",
        "doc_id", "k",
        "CAST(1 AS DOUBLE)/10 AS x0",
        "CAST(9 AS DOUBLE)/10 AS x1",
        # y1(k) = 0.1 + 0.43*floor(k/3) + prefix[k%3], prefix = 0/.05/.18
        "(CAST(1 AS DOUBLE)/10 + CAST(43 AS DOUBLE)/100 * CAST(floor(k/3) AS"
        " BIGINT) + CASE WHEN k % 3 = 1 THEN CAST(5 AS DOUBLE)/100"
        " WHEN k % 3 = 2 THEN CAST(18 AS DOUBLE)/100"
        " ELSE CAST(0 AS DOUBLE) END) - CAST(1 AS DOUBLE)/10 AS y0",
        "CAST(1 AS DOUBLE)/10 + CAST(43 AS DOUBLE)/100 * CAST(floor(k/3) AS"
        " BIGINT) + CASE WHEN k % 3 = 1 THEN CAST(5 AS DOUBLE)/100"
        " WHEN k % 3 = 2 THEN CAST(18 AS DOUBLE)/100"
        " ELSE CAST(0 AS DOUBLE) END AS y1",
        "concat('w', doc_id, '_', k) AS text",
        "'body' AS label",
    )


DERIVED_LINES_SQL = """
  (SELECT CAST(doc_id AS VARCHAR) AS url,
          0 AS page_num, CAST(k AS INTEGER) AS order_idx, doc_id, k,
          CAST(1 AS DOUBLE)/10 AS x0, CAST(9 AS DOUBLE)/10 AS x1,
          (CAST(1 AS DOUBLE)/10 + CAST(43 AS DOUBLE)/100
             * CAST(floor(k/3) AS BIGINT)
           + CASE WHEN k % 3 = 1 THEN CAST(5 AS DOUBLE)/100
                  WHEN k % 3 = 2 THEN CAST(18 AS DOUBLE)/100
                  ELSE CAST(0 AS DOUBLE) END) - CAST(1 AS DOUBLE)/10 AS y0,
          CAST(1 AS DOUBLE)/10 + CAST(43 AS DOUBLE)/100
             * CAST(floor(k/3) AS BIGINT)
          + CASE WHEN k % 3 = 1 THEN CAST(5 AS DOUBLE)/100
                 WHEN k % 3 = 2 THEN CAST(18 AS DOUBLE)/100
                 ELSE CAST(0 AS DOUBLE) END AS y1,
          'w' || doc_id || '_' || k AS text,
          'body' AS label
   FROM documents CROSS JOIN generate_series(0, 7) AS g(k))
"""


# ---------------------------------------------------------------------------
# closed-form oracle for the synthetic PDF corpus: the synth recipe
# (edspdf_spark/synth.py) is deterministic and, by construction,
# INVERSION-FREE under the reference reading-order relation
# (structures.py:197-234) — generation order IS reading order — so the
# whole parse -> extract -> classify -> aggregate chain is derivable in
# pure SQL. Every float op transcribes the Python op order verbatim
# (CAST(n AS DOUBLE)/d fractions, %g write->read round-trip via
# printf('%g')::DOUBLE — DuckDB's printf is C-%g-compatible, verified
# against Python's format(x,'g') on every serialized value).
# ---------------------------------------------------------------------------

def _fr(n: int, d: int) -> str:
    return f"(CAST({n} AS DOUBLE)/{d})"


_VOCAB_SQL = ("['data','table','query','spark','scan','batch','merge','row',"
              "'column','filter','window','group','sort','join','hash',"
              "'value','stream','vector','page','line','text','body',"
              "'header','extract']")


def _synth_pdf_cte(n_docs: int) -> str:
    """WITH RECURSIVE chain reproducing extract_doc over make_pdf_bytes
    for doc indices 0..n_docs-1: CTE `labeled` has one row per kept bloc
    (i, p, seq, order_idx, x0, x1, y0, y1, text, label)."""
    return f"""
WITH RECURSIVE
gooddocs AS (
  SELECT i FROM generate_series(0, {n_docs - 1}) g(i)
  WHERE NOT (i % 13 = 0 AND i > 0)
),
-- y_top recurrence (synth.py walk; identical on every page of a doc)
ytop(i, k, y) AS (
  SELECT i, 0, {_fr(15, 100)} FROM gooddocs
  UNION ALL
  SELECT i, k + 1,
         y + ([{_fr(13,10)}, {_fr(25,10)}, {_fr(5,10)}, {_fr(13,10)},
               {_fr(1,10)}, {_fr(25,10)}, {_fr(13,10)}][((i + k) % 7) + 1]
              * ({_fr(10,1)} / CAST(792 AS DOUBLE)))
  FROM ytop WHERE k < 33
),
pagespec AS (
  SELECT i, p,
         CASE WHEN i % 17 = 0 AND i > 0 THEN 34 ELSE 3 + ((i * 7 + p) % 6) END
           AS n_body
  FROM gooddocs CROSS JOIN generate_series(0, 2) gp(p)
  WHERE p < (CASE WHEN i % 17 = 0 AND i > 0 THEN 3 ELSE 1 + (i % 3) END)
),
-- src = predecessor for overlap lines (the inversion-free copy rule)
bodyline AS (
  SELECT i, p, k,
         CASE WHEN k > 0 AND ((i + k - 1) % 7) IN (2, 4) THEN k - 1 ELSE k END
           AS src,
         (i % 7 = 0 AND k = 1) AS styled
  FROM pagespec CROSS JOIN generate_series(0, 33) gk(k)
  WHERE k < n_body
),
wordneed AS (
  SELECT i, p, k AS kk, 3 + ((i + p + src) % 4) AS n
  FROM bodyline WHERE NOT styled
  UNION ALL SELECT i, p, 1, 2 FROM bodyline WHERE styled
  UNION ALL SELECT i, p, 51, 1 FROM bodyline WHERE styled
  UNION ALL SELECT i, p, 91, 1 FROM bodyline WHERE styled
),
-- the synth word LCG: state walks (s*1103515245+12345) & 0x7FFFFFFF
wst(i, p, kk, n, j, st) AS (
  SELECT i, p, kk, n, 0,
         (i * 1000003 + p * 10007 + kk * 101 + 17) & 2147483647
  FROM wordneed
  UNION ALL
  SELECT i, p, kk, n, j + 1, (st * 1103515245 + 12345) & 2147483647
  FROM wst WHERE j < n
),
wordrun AS (
  SELECT i, p, kk,
         string_agg({_VOCAB_SQL}[(st % 24) + 1], ' ' ORDER BY j) AS w
  FROM wst WHERE j >= 1 GROUP BY i, p, kk
),
-- physical lines: header (seq 0), body (seq 1+k), footer (seq 1000)
lines AS (
  SELECT i, p, 0 AS seq,
         ({_fr(12,100)}) * 612 AS x,
         792 * (1 - {_fr(5,100)}) - 10 AS y,
         {_fr(10,1)} AS sz,
         'Page ' || CAST(p + 1 AS VARCHAR) || ' of doc ' ||
           lpad(CAST(i AS VARCHAR), 8, '0') AS text,
         NULL AS seg_lens
  FROM pagespec
  UNION ALL
  SELECT b.i, b.p, 1 + b.k,
         ({_fr(12,100)} + {_fr(2,100)} * ((b.i + b.src) % 5)) * 612,
         792 * (1 - y.y) - 10 * {_fr(8,10)},
         {_fr(10,1)},
         CASE WHEN b.styled THEN w1.w || ' ' || w51.w || ' ' || w91.w
              ELSE wn.w END,
         CASE WHEN b.styled
              THEN [length(w1.w) + 1, length(w51.w), length(w91.w) + 1]
              ELSE NULL END
  FROM bodyline b
  JOIN ytop y ON y.i = b.i AND y.k = b.k
  LEFT JOIN wordrun wn ON NOT b.styled AND wn.i = b.i AND wn.p = b.p
       AND wn.kk = b.k
  LEFT JOIN wordrun w1 ON b.styled AND w1.i = b.i AND w1.p = b.p AND w1.kk = 1
  LEFT JOIN wordrun w51 ON b.styled AND w51.i = b.i AND w51.p = b.p
       AND w51.kk = 51
  LEFT JOIN wordrun w91 ON b.styled AND w91.i = b.i AND w91.p = b.p
       AND w91.kk = 91
  UNION ALL
  SELECT i, p, 1000,
         ({_fr(40,100)}) * 612,
         792 * (1 - {_fr(95,100)}) - 10 * {_fr(2,10)},
         {_fr(8,1)},
         'footer ' || CAST(i % 100 AS VARCHAR),
         NULL
  FROM pagespec
),
-- writer %g serialization -> parser read-back + monospaced advance
parsed AS (
  SELECT i, p, seq, text, sz,
         CAST(printf('%g', x) AS DOUBLE) AS x0p,
         CAST(printf('%g', y) AS DOUBLE) AS yb,
         CASE WHEN seg_lens IS NULL
              THEN CAST(printf('%g', x) AS DOUBLE)
                   + (CAST(length(text) * 600 AS DOUBLE) * sz) / 1000
              ELSE ((CAST(printf('%g', x) AS DOUBLE)
                   + (CAST(seg_lens[1] * 600 AS DOUBLE) * sz) / 1000)
                   + (CAST(seg_lens[2] * 600 AS DOUBLE) * sz) / 1000)
                   + (CAST(seg_lens[3] * 600 AS DOUBLE) * sz) / 1000
         END AS x1p
  FROM lines
),
-- pdfminer-style normalization (extract.py:75-83) + in-bounds filter
kept AS (
  SELECT i, p, seq, text,
         x0p / CAST(612 AS DOUBLE) AS x0,
         x1p / CAST(612 AS DOUBLE) AS x1,
         1 - (yb + (800 * sz) / 1000) / CAST(792 AS DOUBLE) AS y0,
         1 - (yb + (-200 * sz) / 1000) / CAST(792 AS DOUBLE) AS y1
  FROM parsed
  WHERE x0p / CAST(612 AS DOUBLE) >= 0
    AND 1 - (yb + (800 * sz) / 1000) / CAST(792 AS DOUBLE) >= 0
    AND x1p / CAST(612 AS DOUBLE) <= 1
    AND 1 - (yb + (-200 * sz) / 1000) / CAST(792 AS DOUBLE) <= 1
),
-- mask classification (alignment.py math, body mask + catch-all)
labeled AS (
  SELECT i, p, seq, text, x0, x1, y0, y1,
         row_number() OVER (PARTITION BY i ORDER BY p, seq) - 1 AS order_idx,
         CASE WHEN sb >= sp THEN 'body' ELSE 'pollution' END AS label
  FROM (
    SELECT *,
      CASE WHEN ovl / dst0 < {_fr(1,10)} THEN CAST(0 AS DOUBLE)
           ELSE ovl / (({_fr(9,10)} - {_fr(1,10)})
                       * ({_fr(9,10)} - {_fr(1,10)})) END AS sb,
      CASE WHEN dst / dst0 < {_fr(1,10)} THEN CAST(0 AS DOUBLE)
           ELSE dst / (CAST(20000 AS DOUBLE) * CAST(20000 AS DOUBLE)) END AS sp
    FROM (
      SELECT *,
        greatest(least({_fr(9,10)}, x1) - greatest({_fr(1,10)}, x0),
                 CAST(0 AS DOUBLE))
        * greatest(least({_fr(9,10)}, y1) - greatest({_fr(1,10)}, y0),
                   CAST(0 AS DOUBLE)) AS ovl,
        (x1 - x0) * (y1 - y0) AS dst,
        CASE WHEN (x1 - x0) * (y1 - y0) = 0 THEN CAST(1 AS DOUBLE)
             ELSE (x1 - x0) * (y1 - y0) END AS dst0
      FROM kept
    )
  )
)
"""


def _synth_pipeline_oracle(n_docs: int) -> str:
    """Full fused/staged pipeline oracle: (url, label, text, error)."""
    return _synth_pdf_cte(n_docs) + f""",
-- SimpleAggregator (simple.py:139-166): numpy-median height + strict->
medi AS (
  SELECT i, label, y1 - y0 AS h,
         row_number() OVER (PARTITION BY i, label ORDER BY y1 - y0) AS rn,
         count(*) OVER (PARTITION BY i, label) AS cnt
  FROM labeled
),
med AS (
  SELECT i, label,
         CASE WHEN cnt % 2 = 1
              THEN max(CASE WHEN rn = (cnt + 1) // 2 THEN h END)
              ELSE (max(CASE WHEN rn = cnt // 2 THEN h END)
                    + max(CASE WHEN rn = cnt // 2 + 1 THEN h END)) / 2
         END AS med_h
  FROM medi GROUP BY i, label, cnt
),
seps AS (
  SELECT l.i, l.label, l.order_idx, l.text,
         lead(l.y0) OVER w AS ny0,
         lead(l.y1) OVER w AS ny1,
         lead(l.p) OVER w AS np,
         l.p, l.y0, l.y1, m.med_h
  FROM labeled l JOIN med m ON m.i = l.i AND m.label = l.label
  WINDOW w AS (PARTITION BY l.i, l.label ORDER BY l.order_idx)
),
agged AS (
  SELECT i, label,
         string_agg(
           text || CASE
             WHEN np IS NULL THEN ''
             WHEN np <> p THEN chr(10) || chr(10)
             WHEN (ny1 - y1) / med_h > {_fr(15,10)} AND ny0 > y1
               THEN chr(10) || chr(10)
             WHEN (ny1 - y1) / med_h > {_fr(2,10)} AND ny0 > y1
               THEN chr(10)
             ELSE ' ' END,
           '' ORDER BY order_idx) AS text
  FROM seps GROUP BY i, label
)
SELECT 'https://example.org/doc/' || lpad(CAST(i AS VARCHAR), 8, '0')
         || '.pdf' AS url,
       label, text, FALSE AS error
FROM agged
UNION ALL
SELECT 'https://example.org/doc/' || lpad(CAST(i AS VARCHAR), 8, '0')
         || '.pdf' AS url,
       '' AS label, '' AS text, TRUE AS error
FROM generate_series(0, {n_docs - 1}) g(i) WHERE i % 13 = 0 AND i > 0
"""


def _synth_blocs_oracle(n_docs: int) -> str:
    """Extractor-output oracle: one row per kept bloc in reading order."""
    return _synth_pdf_cte(n_docs) + """
SELECT 'https://example.org/doc/' || lpad(CAST(i AS VARCHAR), 8, '0')
         || '.pdf' AS url,
       CAST(p AS INTEGER) AS page_num,
       CAST(order_idx AS INTEGER) AS order_idx,
       x0, x1, y0, y1, text
FROM labeled
"""


# ---------------------------------------------------------------------------
# torch-free embedding stack: frozen deterministic weights at import
# (same pattern as the trainable classifier), exact oracle via literal
# weight tables + the closed-form bloc derivation.
# ---------------------------------------------------------------------------

EMBED_BOX_SIZE = 24       # 6 features x 4 sinusoidal channels
EMBED_BOX_POSITIONS = 64
EMBED_TEXT_DIM = 8


def _corpus_bloc_texts() -> list:
    """Bloc texts of the 60-doc synth corpus, extracted ONCE per
    process (shared by the vocab freeze and the oracle word table)."""
    if not _CORPUS_TEXTS:
        from edspdf_spark.kernels.extract import extract_doc

        for i in range(60):
            res = extract_doc(synth.make_pdf_bytes(i))
            _CORPUS_TEXTS.extend(b["text"] for b in res["blocs"])
    return _CORPUS_TEXTS


_CORPUS_TEXTS: list = []


def _freeze_embeddings():
    """Vocabularies in encounter order over the 60-doc synth corpus +
    frozen integer text weights + box fp/lp vectors."""
    import numpy as np

    from edspdf_spark.operators.embeddings import (build_text_vocabs,
                                                   text_embed_weights)

    vocabs = build_text_vocabs(_corpus_bloc_texts())
    weights = text_embed_weights(vocabs, dim=EMBED_TEXT_DIM, seed=42)
    rng = np.random.RandomState(7)
    fp = rng.randn(EMBED_BOX_SIZE)
    lp = rng.randn(EMBED_BOX_SIZE)
    return vocabs, weights, fp, lp


_EMB_VOCABS, _EMB_WEIGHTS, _EMB_FP, _EMB_LP = _freeze_embeddings()


_WORD_COMPOSITE_CACHE: dict = {}


def _word_composite() -> dict:
    """word -> summed integer feature vector (shape+prefix+suffix of
    the frozen vocabs) for every distinct word of the 60-doc corpus.
    Tokenization on this corpus is split-on-space (test-verified
    against the reference regex tokenizer)."""
    if _WORD_COMPOSITE_CACHE:
        return _WORD_COMPOSITE_CACHE
    import numpy as np

    from edspdf_spark.kernels.textfeatures import token_features

    word_set = set()
    for text in _corpus_bloc_texts():
        word_set.update(text.split(" "))
    for w in sorted(word_set):
        feats = token_features(w)
        vec = np.zeros(EMBED_TEXT_DIM, dtype=np.int64)
        for fam in ("shape", "prefix", "suffix"):
            vec += _EMB_WEIGHTS[fam][
                _EMB_VOCABS[fam].indices.get(feats[fam], 0)]
        _WORD_COMPOSITE_CACHE[w] = vec
    return _WORD_COMPOSITE_CACHE


def _word_composite_rows() -> str:
    return ", ".join(
        "('" + w.replace("'", "''") + "', "
        + ", ".join(str(int(v)) for v in vec) + ")"
        for w, vec in _word_composite().items())


def q_bloc_embed(spark, sf_dir):
    """Box-layout + simple-text embeddings per bloc ('cat' combine):
    b0..b23 sinusoidal-layout doubles, t0..t7 integer text-embedding
    sums. Hash-checked against literal-weight-table SQL."""
    from edspdf_spark.operators.embeddings import (box_layout_embed,
                                                   text_token_embed)

    pages = synth.pages_spark(spark, 60, num_partitions=4)
    bl = blocs(extract(pages))
    bl = text_token_embed(bl, _EMB_VOCABS, _EMB_WEIGHTS)
    bl = box_layout_embed(bl, size=EMBED_BOX_SIZE,
                          n_positions=EMBED_BOX_POSITIONS,
                          first_page_vec=_EMB_FP, last_page_vec=_EMB_LP)
    return bl.select(
        "url", "order_idx",
        *[f"b{c}" for c in range(EMBED_BOX_SIZE)],
        *[f"t{c}" for c in range(EMBED_TEXT_DIM)])


def _bloc_embed_oracle() -> str:
    """Closed-form oracle: synth bloc derivation + literal sinusoidal
    table + per-word composite integer weights (shape+prefix+suffix of
    each corpus word — tokenization on this corpus is split-on-space,
    verified by tests against the reference regex tokenizer)."""
    import numpy as np

    from edspdf_spark.kernels.textfeatures import token_features
    from edspdf_spark.operators.embeddings import sinusoidal_table

    dim = EMBED_BOX_SIZE // 6
    table = sinusoidal_table(EMBED_BOX_POSITIONS, dim)
    sin_rows = ", ".join(
        "(" + ", ".join([str(p)] + [f"CAST('{v!r}' AS DOUBLE)"
                                    for v in table[p]]) + ")"
        for p in range(EMBED_BOX_POSITIONS))
    sin_cols = ", ".join(f"c{c}" for c in range(dim))

    word_rows = _word_composite_rows()
    word_cols = ", ".join(f"w{c}" for c in range(EMBED_TEXT_DIM))

    fp_lit = [f"CAST('{v!r}' AS DOUBLE)" for v in _EMB_FP]
    lp_lit = [f"CAST('{v!r}' AS DOUBLE)" for v in _EMB_LP]

    n = EMBED_BOX_POSITIONS
    idx_exprs = [
        f"CAST(least(floor(x0 * CAST({n} AS DOUBLE)), {n - 1}) AS INTEGER)",
        f"CAST(least(floor(y0 * CAST({n} AS DOUBLE)), {n - 1}) AS INTEGER)",
        f"CAST(least(floor(x1 * CAST({n} AS DOUBLE)), {n - 1}) AS INTEGER)",
        f"CAST(least(floor(y1 * CAST({n} AS DOUBLE)), {n - 1}) AS INTEGER)",
        f"CAST(least(floor((x1 - x0) * CAST({n} AS DOUBLE)), {n - 1})"
        " AS INTEGER)",
        f"CAST(least(floor((y1 - y0) * CAST({5 * n} AS DOUBLE)), {n - 1})"
        " AS INTEGER)",
    ]
    b_sel = []
    for c in range(EMBED_BOX_SIZE):
        feat, ch = divmod(c, dim)
        b_sel.append(
            f"(s{feat}.c{ch}"
            f" + CASE WHEN l.p = 0 THEN {fp_lit[c]}"
            " ELSE CAST(0 AS DOUBLE) END"
            f" + CASE WHEN l.p = l.n_pages - 1 THEN {lp_lit[c]}"
            " ELSE CAST(0 AS DOUBLE) END) AS b{c}".replace("{c}", str(c)))
    sin_joins = "\n".join(
        f"JOIN sintab s{f} ON s{f}.pos = l.i{f}" for f in range(6))
    t_sel = ", ".join(
        f"CAST(sum(w.w{c}) AS BIGINT) AS t{c}"
        for c in range(EMBED_TEXT_DIM))

    return _synth_pdf_cte(60) + f""",
sintab(pos, {sin_cols}) AS (SELECT * FROM (VALUES {sin_rows})),
wordtab(word, {word_cols}) AS (SELECT * FROM (VALUES {word_rows})),
withnp AS (
  SELECT labeled.*,
         CASE WHEN i % 17 = 0 AND i > 0 THEN 3 ELSE 1 + (i % 3) END
           AS n_pages,
         {", ".join(f"{e} AS i{f}" for f, e in enumerate(idx_exprs))}
  FROM labeled
),
textsum AS (
  SELECT t.i, t.order_idx, {t_sel}
  FROM (SELECT i, order_idx,
               unnest(string_split(text, ' ')) AS word FROM labeled) t
  JOIN wordtab w ON w.word = t.word
  GROUP BY t.i, t.order_idx
)
SELECT 'https://example.org/doc/' || lpad(CAST(l.i AS VARCHAR), 8, '0')
         || '.pdf' AS url,
       CAST(l.order_idx AS INTEGER) AS order_idx,
       {", ".join(b_sel)},
       {", ".join(f"ts.t{c}" for c in range(EMBED_TEXT_DIM))}
FROM withnp l
{sin_joins}
JOIN textsum ts ON ts.i = l.i AND ts.order_idx = l.order_idx
"""


def _freeze_cnn():
    from edspdf_spark.operators.embeddings import cnn_pool_weights

    return cnn_pool_weights(in_size=EMBED_TEXT_DIM, out_channels=2,
                            kernel_sizes=(2, 3), output_size=4, seed=11,
                            span=5)


_CNN_WEIGHTS = _freeze_cnn()


def _freeze_transformer():
    from edspdf_spark.kernels.transformer import box_transformer_weights

    return box_transformer_weights(size=EMBED_BOX_SIZE, n_heads=2,
                                   n_layers=1, n_relative_positions=64,
                                   init_resweight=0.5, seed=23)


_TRANSFORMER_WEIGHTS = _freeze_transformer()


def q_bloc_transformer(spark, sf_dir):
    """Box-transformer contextualization over box-layout embeddings.
    Attention/softmax is not SQL-expressible, so the oracle derives
    the row set (url, page_num, order_idx) independently from the
    synth-corpus CTE and joins the contextualized values from the
    frozen-literal golden table (edspdf_spark/frozen.py, regenerated
    by jobs/freeze_goldens.py); the kernel math additionally carries
    structural pytest properties."""
    from edspdf_spark.operators.embeddings import box_layout_embed
    from edspdf_spark.operators.transformer import box_transformer_embed

    pages = synth.pages_spark(spark, 40, num_partitions=4)
    bl = blocs(extract(pages))
    bl = box_layout_embed(bl, size=EMBED_BOX_SIZE,
                          n_positions=EMBED_BOX_POSITIONS,
                          first_page_vec=_EMB_FP, last_page_vec=_EMB_LP)
    out = box_transformer_embed(bl, _TRANSFORMER_WEIGHTS)
    return out.select("url", "page_num", "order_idx", "z0", "z1", "z23")


def _bloc_transformer_oracle() -> str:
    """Row set from the independent synth CTE; z values pinned from
    the frozen golden table. An inner join means any disagreement in
    the derived row set (missing/extra blocs, wrong order indices)
    shrinks the oracle row count and fails the driver compare."""
    from edspdf_spark.frozen import BLOC_TRANSFORMER_GOLDEN

    rows = ", ".join(
        f"({i}, {p}, {o}, CAST('{z0}' AS DOUBLE), CAST('{z1}' AS DOUBLE),"
        f" CAST('{z23}' AS DOUBLE))"
        for i, p, o, z0, z1, z23 in BLOC_TRANSFORMER_GOLDEN)
    return _synth_pdf_cte(40) + f""",
frozen(i, p, order_idx, z0, z1, z23) AS (SELECT * FROM (VALUES {rows}))
SELECT 'https://example.org/doc/' || lpad(CAST(l.i AS VARCHAR), 8, '0')
         || '.pdf' AS url,
       CAST(l.p AS INTEGER) AS page_num,
       CAST(l.order_idx AS INTEGER) AS order_idx,
       f.z0, f.z1, f.z23
FROM labeled l
JOIN frozen f ON f.i = l.i AND f.p = l.p AND f.order_idx = l.order_idx
"""


# huggingface-embedding analog: window/stride small enough that the
# synth pages need SEVERAL windows (the de-overlap machinery is
# exercised, not just the trivial single-window case)
HF_DIM = 8
HF_WINDOW = 24
HF_STRIDE = 12


def q_bloc_hf_embed(spark, sf_dir):
    """huggingface-embedding analog (kernels/hf.py): strided 24/12
    windowing over each page's subword stream, most-contextualized-
    occurrence de-overlap, mean line pooling, frozen affine integer
    contextualizer — the full window machinery hash-checked against a
    closed-form DuckDB rendering."""
    from edspdf_spark.operators.hf_embedding import hf_line_embed

    pages = synth.pages_spark(spark, 40, num_partitions=4)
    bl = blocs(extract(pages)).select("url", "page_num", "order_idx",
                                      "text")
    out = hf_line_embed(bl, dim=HF_DIM, window=HF_WINDOW,
                        stride=HF_STRIDE, line_pooling="mean")
    return out.drop("text")


def _hf_embed_oracle() -> str:
    """Closed-form windowing/de-overlap/pooling in SQL: subword pieces
    by fixed-width substr, md5-prefix token ids, the reference window
    formula, score = min(j, m-1-j) with larger-flat tie-break, SEP
    pooled into the last line, integer affine contextualization,
    mean = BIGINT sum / count. All constants from kernels/hf.py."""
    from edspdf_spark.kernels.hf import (EMB_MOD, EMB_MUL, PIECE_LEN,
                                         POS_STEP, SEP_ID, WIN_STEP)

    w, s = HF_WINDOW, HF_STRIDE
    half = EMB_MOD // 2
    h_sel = ", ".join(
        f"CAST(sum((tid + {d} * {EMB_MUL}) % {EMB_MOD} - {half}"
        f" + j * {POS_STEP} + wi * {WIN_STEP}) AS DOUBLE)"
        f" / count(*) AS h{d}"
        for d in range(HF_DIM))
    return _synth_pdf_cte(40) + f""",
pagelines AS (
  SELECT i, p, order_idx, text,
         row_number() OVER (PARTITION BY i, p ORDER BY order_idx)
           AS line_rn
  FROM labeled
),
words AS (
  SELECT i, p, order_idx, line_rn, gw.wpos,
         string_split(text, ' ')[gw.wpos + 1] AS word
  FROM pagelines CROSS JOIN generate_series(0, 15) gw(wpos)
  WHERE gw.wpos < len(string_split(text, ' '))
    AND string_split(text, ' ')[gw.wpos + 1] <> ''
),
pieces AS (
  SELECT i, p, order_idx, line_rn, wpos, gp.pp,
         substr(word, 1 + {PIECE_LEN} * gp.pp, {PIECE_LEN}) AS piece
  FROM words CROSS JOIN generate_series(0, 3) gp(pp)
  WHERE gp.pp * {PIECE_LEN} < length(word)
),
toks AS (
  SELECT i, p, order_idx, line_rn,
         row_number() OVER (PARTITION BY i, p
                            ORDER BY line_rn, wpos, pp) AS g,
         ('0x' || substr(md5(piece), 1, 15))::BIGINT AS tid
  FROM pieces
),
pagestat AS (
  SELECT t.i, t.p, 2 + count(*) AS L,
         (SELECT max(line_rn) FROM pagelines pl
          WHERE pl.i = t.i AND pl.p = t.p) AS last_rn
  FROM toks t GROUP BY t.i, t.p
),
pooltoks AS (
  SELECT t.i, t.p, t.order_idx, t.line_rn, t.g, t.tid, ps.L
  FROM toks t JOIN pagestat ps ON ps.i = t.i AND ps.p = t.p
  UNION ALL
  SELECT l.i, l.p, l.order_idx, l.line_rn, ps.L - 1,
         CAST({SEP_ID} AS BIGINT), ps.L
  FROM pagelines l JOIN pagestat ps ON ps.i = l.i AND ps.p = l.p
  WHERE l.line_rn = ps.last_rn
),
occ AS (
  SELECT k.*, gw2.wi,
         2 + least({w}, k.L - 2 - gw2.wi * {s}) AS m,
         2 + least({w}, k.L - 2) AS W,
         CASE WHEN k.g = k.L - 1
              THEN 1 + least({w}, k.L - 2 - gw2.wi * {s})
              ELSE k.g - gw2.wi * {s} END AS j
  FROM pooltoks k CROSS JOIN generate_series(0, 63) gw2(wi)
  WHERE gw2.wi < 1 + greatest(0, (k.L - 2 - {w} + {s} - 1) // {s})
    AND (k.g = k.L - 1
         OR (k.g >= 1 + gw2.wi * {s}
             AND k.g <= least(gw2.wi * {s} + {w}, k.L - 2)))
),
chosen AS (
  SELECT *,
         row_number() OVER (
           PARTITION BY i, p, g
           ORDER BY least(j, m - 1 - j) DESC, wi * W + j DESC) AS rn
  FROM occ
)
SELECT 'https://example.org/doc/' || lpad(CAST(i AS VARCHAR), 8, '0')
         || '.pdf' AS url,
       CAST(p AS INTEGER) AS page_num,
       CAST(order_idx AS INTEGER) AS order_idx,
       {h_sel}
FROM chosen WHERE rn = 1
GROUP BY i, p, order_idx
"""


def q_bloc_cnn_pool(spark, sf_dir):
    """sub-box-cnn-pooler over simple-text word embeddings (the
    reference's text-encoder wiring, tests/core/config.cfg): integer
    conv -> relu -> max-pool -> linear per bloc. Hash-checked."""
    from edspdf_spark.operators.embeddings import text_cnn_pool

    pages = synth.pages_spark(spark, 60, num_partitions=4)
    bl = blocs(extract(pages))
    out = text_cnn_pool(bl, _EMB_VOCABS, _EMB_WEIGHTS, _CNN_WEIGHTS)
    return out.select(
        "url", "order_idx",
        *[f"c{c}" for c in range(_CNN_WEIGHTS["output_size"])])


def _bloc_cnn_oracle() -> str:
    """Closed-form CNN-pool oracle: per-word integer vectors via the
    composite word table, conv windows as a positional self-join
    (padding positions contribute nothing, exactly the zero-pad),
    relu/max/linear as integer SQL."""
    cnn = _CNN_WEIGHTS
    dim = EMBED_TEXT_DIM
    word_cols = ", ".join(f"w{c}" for c in range(dim))

    conv_ctes = []
    pool_ctes = []
    feat_names = []   # pooled feature column refs in concat order
    for ki, ((w, b), k) in enumerate(zip(cnn["convs"], cnn["kernel_sizes"])):
        pad = k // 2
        ch_exprs = []
        for ch in range(w.shape[0]):
            whens = []
            for r in range(k):
                terms = [f"({int(w[ch, c, r])}) * e.w{c}"
                         for c in range(dim) if int(w[ch, c, r]) != 0]
                whens.append(f"WHEN {r} THEN "
                             + (" + ".join(terms) if terms else "0"))
            ch_exprs.append(
                f"greatest(0, COALESCE(SUM(CASE e.pos - p.pos + {pad} "
                + " ".join(whens)
                + f" END), 0) + ({int(b[ch])})) AS k{ki}c{ch}")
            feat_names.append(f"k{ki}c{ch}")
        conv_ctes.append(f"""
conv{ki} AS (
  SELECT p.i, p.order_idx, p.pos, {", ".join(ch_exprs)}
  FROM wordvec p JOIN wordvec e
    ON e.i = p.i AND e.order_idx = p.order_idx
   AND e.pos - p.pos + {pad} BETWEEN 0 AND {k - 1}
  GROUP BY p.i, p.order_idx, p.pos
)""")
        pool_ctes.append(f"""
pool{ki} AS (
  SELECT i, order_idx,
         {", ".join(f"max(k{ki}c{ch}) AS k{ki}c{ch}"
                    for ch in range(w.shape[0]))}
  FROM conv{ki} GROUP BY i, order_idx
)""")

    lin_w, lin_b = cnn["linear"]
    out_exprs = []
    for c in range(cnn["output_size"]):
        terms = [f"({int(lin_w[c, f])}) * {feat_names[f]}"
                 for f in range(len(feat_names)) if int(lin_w[c, f]) != 0]
        out_exprs.append("CAST(" + (" + ".join(terms) if terms else "0")
                         + f" + ({int(lin_b[c])}) AS BIGINT) AS c{c}")
    pool_join = " JOIN ".join(
        [f"pool0"] + [f"pool{ki} USING (i, order_idx)"
                      for ki in range(1, len(cnn["kernel_sizes"]))])

    return _synth_pdf_cte(60) + f""",
wordtab(word, {word_cols}) AS (SELECT * FROM (VALUES {_word_composite_rows()})),
parts AS (
  SELECT i, order_idx, string_split(text, ' ') AS ps,
         len(string_split(text, ' ')) AS n
  FROM labeled
),
wordvec AS (
  SELECT pa.i, pa.order_idx, g.pos, {", ".join(
      f"w.w{c}" for c in range(dim))}
  FROM parts pa
  CROSS JOIN generate_series(0, 40) g(pos)
  JOIN wordtab w ON g.pos < pa.n AND w.word = pa.ps[g.pos + 1]
),{",".join(conv_ctes)},{",".join(pool_ctes)}
SELECT 'https://example.org/doc/' || lpad(CAST(i AS VARCHAR), 8, '0')
         || '.pdf' AS url,
       CAST(order_idx AS INTEGER) AS order_idx,
       {", ".join(out_exprs)}
FROM {pool_join}
"""


def _synth_html_oracle(n_docs: int) -> str:
    """HTML boilerplate-strip oracle: kept <p> blocks joined by blank
    lines (kernels/html.py over synth.synth_html_bytes)."""
    return f"""
WITH RECURSIVE
docs AS (SELECT i, 3 + (i % 4) AS n_paras
         FROM generate_series(0, {n_docs - 1}) g(i)),
paras AS (
  SELECT i, k FROM docs CROSS JOIN generate_series(0, 6) gk(k)
  WHERE k < n_paras
),
wst(i, kk, j, st) AS (
  SELECT i, 10 + k, 0,
         (i * 1000003 + 0 * 10007 + (10 + k) * 101 + 17) & 2147483647
  FROM paras
  UNION ALL
  SELECT i, kk, j + 1, (st * 1103515245 + 12345) & 2147483647
  FROM wst WHERE j < 12
),
wordrun AS (
  SELECT i, kk,
         string_agg({_VOCAB_SQL}[(st % 24) + 1], ' ' ORDER BY j) AS w
  FROM wst WHERE j >= 1 GROUP BY i, kk
)
SELECT 'https://example.org/doc/' || lpad(CAST(d.i AS VARCHAR), 8, '0')
         || '.pdf' AS url,
       'body' AS label,
       string_agg(w.w || '.', chr(10) || chr(10) ORDER BY w.kk) AS text,
       CAST(d.n_paras AS INTEGER) AS n_blocs
FROM docs d JOIN wordrun w ON w.i = d.i
GROUP BY d.i, d.n_paras
"""


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def q_pipeline_body_text(spark, sf_dir):
    """Flagship: fused pipeline over synthetic pages; hash-checked
    against the closed-form pipeline oracle."""
    pages = synth.pages_spark(spark, N_SYNTH_DOCS, num_partitions=8)
    out = run_fused(defuse_skew(pages, 8), PIPE_CFG)
    # NULL label/text (error docs) -> '' so the value-hash compare is
    # engine-portable (NULL vs NaN canonicalization differs)
    return out.select("url",
                      F.coalesce("label", F.lit("")).alias("label"),
                      F.coalesce("text", F.lit("")).alias("text"),
                      "error")


def q_extract_blocs(spark, sf_dir):
    """Staged extractor output (positions + reading order); hash-checked
    against the closed-form bloc oracle."""
    pages = synth.pages_spark(spark, 60, num_partitions=4)
    return (blocs(extract(pages))
            .select("url", "page_num", "order_idx", "x0", "x1", "y0", "y1",
                    "text"))


def q_staged_pipeline(spark, sf_dir):
    """Staged extract -> native mask classify -> aggregate
    (same result as fused; exercises the composable operator path)."""
    pages = synth.pages_spark(spark, 60, num_partitions=4)
    ex = extract(pages)
    lb = mask_classify(blocs(ex),
                       masks_df(spark, [("body", "body", 0.1, 0.1, 0.9,
                                         0.9, None)]), threshold=0.1)
    markers = ex.where("page_num = -1").withColumn(
        "label", F.lit(None).cast("string"))
    return (aggregate(lb.unionByName(markers.select(*lb.columns)))
            .select("url",
                    F.coalesce("label", F.lit("")).alias("label"),
                    F.coalesce("text", F.lit("")).alias("text"),
                    "error"))


def q_mask_classify(spark, sf_dir):
    lb = mask_classify(_derived_blocs(spark, sf_dir),
                       masks_df(spark, CLS_MASKS), threshold=0.4)
    return lb.select("doc_id", "k", "label")


def q_aggregate_lines(spark, sf_dir):
    agg = aggregate(_derived_lines(spark, sf_dir)
                    .withColumn("props", F.expr("array()"))
                    .withColumn("error", F.lit(False)))
    return agg.select("url", "label", "text")


def q_reading_order(spark, sf_dir):
    """Reading-order kernel over scrambled non-overlapping lines;
    oracle: row_number by vertical position."""
    import pandas as pd

    from edspdf_spark.kernels.reading_order import reading_order

    rows = _docs(spark, sf_dir).select("doc_id").selectExpr(
        "doc_id", "explode(sequence(0, 5)) AS k",
    ).selectExpr(
        "doc_id", "k",
        "CAST((k * 5 + doc_id) % 6 AS DOUBLE) * 15 / 100 AS y0",
        "CAST((k * 5 + doc_id) % 6 AS DOUBLE) * 15 / 100"
        " + CAST(1 AS DOUBLE)/10 AS y1",
    )

    def _handle(pdf: pd.DataFrame) -> pd.DataFrame:
        # plain-list group walk over whole docs sorted by (doc_id, k):
        # pandas groupby/sort_values/at[] cost ~10x the 6-element
        # reading-order kernel
        ids = pdf["doc_id"].tolist()
        ks = pdf["k"].tolist()
        y0s = pdf["y0"].tolist()
        y1s = pdf["y1"].tolist()
        out_rows = []
        i, n = 0, len(ids)
        while i < n:
            d = ids[i]
            j = i
            while j < n and ids[j] == d:
                j += 1
            keys = [(0, 0.1, 0.9, y0s[m], y1s[m]) for m in range(i, j)]
            perm = reading_order(keys)
            for pos, idx in enumerate(perm):
                out_rows.append((int(d), int(ks[i + idx]), pos))
            i = j
        return pd.DataFrame(out_rows,
                            columns=["doc_id", "k", "ord_pos"])

    return group_map(rows, "doc_id", ["k"], _handle,
                     "doc_id long, k long, ord_pos long")


def q_dedup_exact(spark, sf_dir):
    return exact_dedup(_corpus_exact(spark, sf_dir))


def q_dedup_jaccard(spark, sf_dir):
    sh = shingle_table(_corpus_near(spark, sf_dir), k=3)
    return jaccard_pairs(sh, threshold=0.5, min_intersect=3,
                         max_doc_freq=256)


def q_dedup_minhash_lsh(spark, sf_dir):
    return minhash_lsh_pairs(_corpus_near(spark, sf_dir), k=3, n_hashes=8,
                             band_size=2, threshold=0.5)


def q_dedup_simhash(spark, sf_dir):
    return simhash(_docs(spark, sf_dir, spread=False), bits=16)


def q_simhash_pairs(spark, sf_dir):
    fp = simhash(_corpus_near(spark, sf_dir), bits=16)
    return simhash_near_pairs(fp, bits=16, band_bits=8, max_hamming=3)


def q_dedup_components(spark, sf_dir):
    """Transitive near-dup clustering: LSH pairs -> connected
    components -> keep-list over the whole corpus."""
    from edspdf_spark.operators.components import dedup_keep_list

    corpus = _corpus_near(spark, sf_dir)
    pairs = minhash_lsh_pairs(corpus, k=3, n_hashes=8, band_size=2,
                              threshold=0.5)
    return dedup_keep_list(corpus, pairs)


def q_dedup_keep_best(spark, sf_dir):
    """Near-dup clusters keep their longest member (quality proxy)
    rather than the min id."""
    from edspdf_spark.operators.components import keep_best_per_cluster

    corpus = _corpus_near(spark, sf_dir)
    pairs = minhash_lsh_pairs(corpus, k=3, n_hashes=8, band_size=2,
                              threshold=0.5)
    scores = corpus.select(
        "doc_id", F.length("text").cast("bigint").alias("score"))
    return keep_best_per_cluster(corpus, pairs, scores)


def q_vocab_stats(spark, sf_dir):
    """Corpus vocabulary table: doc frequency + total count per token."""
    from edspdf_spark.functions import tokens

    d = _docs(spark, sf_dir)
    tok = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("token"))
    return (tok.groupBy("token")
            .agg(F.count("*").alias("total_count"),
                 F.countDistinct("doc_id").alias("doc_freq")))


def q_simsearch_topk(spark, sf_dir):
    emb = _embeddings(spark, sf_dir)
    queries = emb.where(F.col("vec_id") % 50 == 0)
    return brute_force_topk(emb, queries, k=5)


# IVF coarse centroids trained deterministically on a CORPUS sample
# (first 512 vectors by vec_id of the sf's own embeddings table —
# cells must match the data distribution or recall collapses), k=64
# cells so the search join's shuffle-key cardinality scales with the
# corpus (~sqrt(N) rule; 8 cells = 8 hot reducers at 100 TB). The
# quantized-integer centroids make cell assignment exact in both
# engines.
IVF_CELLS = 64
IVF_PROBE = 2
_IVF_CACHE: dict = {}


def _train_centroids(sf_dir: str, n_cells: int = IVF_CELLS):
    key = (sf_dir, n_cells)
    if key not in _IVF_CACHE:
        import duckdb

        from edspdf_spark.operators.simsearch import kmeans_fit

        sample = [r[0] for r in duckdb.sql(
            f"SELECT embedding FROM '{sf_dir}/embeddings.parquet' "
            "ORDER BY vec_id LIMIT 512").fetchall()]
        _IVF_CACHE[key] = kmeans_fit(sample, k=n_cells, iters=10)
    return _IVF_CACHE[key]


# the coarse quantizer is FROZEN on one corpus sample (production IVF
# practice: centroids are trained offline and reused across scans) —
# query and oracle must share it at EVERY sf, or the cell assignments
# diverge the moment sf_dir != the oracle's training dir
_IVF_FROZEN_DIR = "/root/testdata/sf0.01"


def q_simsearch_ivf(spark, sf_dir):
    from edspdf_spark.operators.simsearch import ivf_topk

    emb = _embeddings(spark, sf_dir)
    queries = emb.where(F.col("vec_id") % 50 == 0)
    return ivf_topk(emb, queries, _train_centroids(_IVF_FROZEN_DIR), k=5,
                    n_probe=IVF_PROBE)


def _ivf_oracle() -> str:
    cents = _train_centroids(_IVF_FROZEN_DIR)
    rows = ", ".join(
        f"({j}, {int(sum(v * v for v in c))}::BIGINT, "
        "[" + ", ".join(str(int(v)) for v in c) + "]::BIGINT[])"
        for j, c in enumerate(cents))
    return f"""
WITH cent(cell_idx, cn2, cv) AS (VALUES {rows}),
q AS (
  SELECT vec_id AS id,
         list_transform(embedding, x -> CAST(round(x * 1000) AS BIGINT)) AS qv
  FROM embeddings
),
n AS (
  SELECT id, qv,
         (SELECT sum(a * a) FROM unnest(qv) AS u(a))::BIGINT AS norm2
  FROM q
),
dist AS (
  SELECT n.id, n.qv, n.norm2, c.cell_idx,
         c.cn2 - 2::BIGINT * list_sum(
           list_transform(generate_series(1, 64),
                          i -> n.qv[i] * c.cv[i]))::BIGINT AS d
  FROM n CROSS JOIN cent c
),
ranked_cells AS (
  SELECT id, qv, norm2, cell_idx,
         row_number() OVER (PARTITION BY id ORDER BY d, cell_idx) AS rn
  FROM dist
),
assigned AS (SELECT id, qv, norm2, cell_idx AS cell
             FROM ranked_cells WHERE rn = 1),
qry AS (SELECT id AS query_id, qv AS q_qv, norm2 AS q_norm2,
               cell_idx AS cell
        FROM ranked_cells WHERE id % 50 = 0 AND rn <= {IVF_PROBE}),
scored AS (
  SELECT qry.query_id, a.id,
         (SELECT sum(x * y)
          FROM (SELECT unnest(a.qv) AS x, unnest(qry.q_qv) AS y) z)::BIGINT
         AS dot,
         a.norm2, qry.q_norm2
  FROM assigned a JOIN qry ON a.cell = qry.cell
  WHERE a.id <> qry.query_id
),
ranked AS (
  SELECT query_id, id AS neighbor_id,
         CAST(dot AS DOUBLE) / (sqrt(norm2) * sqrt(q_norm2)) AS cos,
         row_number() OVER (
           PARTITION BY query_id
           ORDER BY CAST(dot AS DOUBLE) / (sqrt(norm2) * sqrt(q_norm2)) DESC,
                    id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cos, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= 5
"""


def q_embed_cosine_pairs(spark, sf_dir):
    emb = _embeddings(spark, sf_dir).select("vec_id", "embedding")
    scaled = emb.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.expr("transform(embedding, x -> x * CAST(101 AS DOUBLE)/100)")
        .alias("embedding"))
    corpus = emb.unionByName(scaled)
    return cosine_bucket_pairs(corpus, threshold=0.98, band_dims=8)


def q_text_quality(spark, sf_dir):
    return text_quality(_docs(spark, sf_dir))


def q_lang_id(spark, sf_dir):
    return lang_id(_docs(spark, sf_dir))


def q_fingerprint(spark, sf_dir):
    return fingerprint(_docs(spark, sf_dir))


def q_token_count(spark, sf_dir):
    from edspdf_spark.operators.analysis import token_count

    return token_count(_docs(spark, sf_dir))


def q_gopher_quality(spark, sf_dir):
    from edspdf_spark.operators.analysis import gopher_quality

    return gopher_quality(_docs(spark, sf_dir))


# messy-URL synthesis, one expression string rendered identically in
# Spark SQL and DuckDB (ANSI subset; VARCHAR(4) — Spark rejects bare
# VARCHAR, DuckDB ignores the length): deterministic per doc_id,
# covering mixed-case scheme/host, www., default ports, trailing
# slash, query-param order, fragments
_MESSY_URL_SQL = (
    "(CASE WHEN doc_id % 2 = 0 THEN 'http' ELSE 'HTTPS' END) || '://' || "
    "(CASE WHEN doc_id % 3 = 0 THEN 'Example.COM' "
    " WHEN doc_id % 3 = 1 THEN 'www.example.com' ELSE 'example.com' END) ||"
    " (CASE WHEN doc_id % 5 = 0 THEN "
    "   (CASE WHEN doc_id % 2 = 0 THEN ':80' ELSE ':443' END) ELSE '' END)"
    " || '/p/' || CAST(doc_id % 7 AS VARCHAR(4)) || "
    "(CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END) || "
    "(CASE WHEN doc_id % 3 = 0 THEN "
    "   '?b=2&a=' || CAST(doc_id % 11 AS VARCHAR(4)) "
    " WHEN doc_id % 3 = 1 THEN "
    "   '?a=' || CAST(doc_id % 11 AS VARCHAR(4)) || '&b=2' "
    " ELSE '' END) || "
    "(CASE WHEN doc_id % 6 = 0 THEN '#sec' ELSE '' END)")


def q_url_normalize(spark, sf_dir):
    from edspdf_spark.operators.urls import url_normalize

    raw = _docs(spark, sf_dir).selectExpr(
        "doc_id", f"{_MESSY_URL_SQL} AS url")
    return url_normalize(raw)


def q_surt_keys(spark, sf_dir):
    """SURT (web-archive CDX) keys over the messy-URL corpus — same
    inputs as url_normalize, so ports/www/query-sorting all fire."""
    from edspdf_spark.operators.urls import surt_keys

    raw = _docs(spark, sf_dir).selectExpr(
        "doc_id", f"{_MESSY_URL_SQL} AS url")
    return surt_keys(raw)


def _surt_oracle() -> str:
    """The url_normalize oracle's parse + label reversal: port split
    off the canonical host, remaining labels reversed/comma-joined,
    ')' separator, then path and the sorted query."""
    return f"""
WITH raw AS (
  SELECT doc_id AS id, {_MESSY_URL_SQL} AS url FROM documents
),
p AS (
  SELECT id, url,
         lower(string_split(string_split(url, '#')[1], '://')[1])
           AS proto,
         string_split(string_split(url, '#')[1], '://')[2] AS rest
  FROM raw
),
s AS (
  SELECT id, url, proto,
         CASE WHEN strpos(rest, '/') = 0 THEN lower(rest)
              ELSE lower(substr(rest, 1, strpos(rest, '/') - 1)) END
           AS hostport,
         CASE WHEN strpos(rest, '/') = 0 THEN ''
              ELSE substr(rest, strpos(rest, '/')) END AS pathq
  FROM p
),
h AS (
  SELECT id, url, proto, pathq,
         CASE WHEN proto = 'http' AND hostport LIKE '%:80'
                THEN substr(hostport, 1, length(hostport) - 3)
              WHEN proto = 'https' AND hostport LIKE '%:443'
                THEN substr(hostport, 1, length(hostport) - 4)
              ELSE hostport END AS noport
  FROM s
),
hh AS (
  SELECT id, url, pathq,
         CASE WHEN noport LIKE 'www.%' THEN substr(noport, 5)
              ELSE noport END AS host
  FROM h
),
f AS (
  SELECT id, url, host,
         CASE WHEN strpos(host, ':') = 0 THEN host
              ELSE substr(host, 1, strpos(host, ':') - 1) END
           AS hostonly,
         CASE WHEN strpos(host, ':') = 0 THEN ''
              ELSE substr(host, strpos(host, ':')) END AS port,
         CASE WHEN strpos(pathq, '?') = 0 THEN pathq
              ELSE substr(pathq, 1, strpos(pathq, '?') - 1) END
           AS rawpath,
         CASE WHEN strpos(pathq, '?') = 0 THEN ''
              ELSE substr(pathq, strpos(pathq, '?') + 1) END AS query
  FROM hh
),
n AS (
  SELECT id, url, hostonly, port,
         CASE WHEN rawpath LIKE '%/'
              THEN substr(rawpath, 1, length(rawpath) - 1)
              ELSE rawpath END AS path,
         CASE WHEN query = '' THEN ''
              ELSE '?' || list_aggregate(
                     list_sort(string_split(query, '&')),
                     'string_agg', '&') END AS qpart
  FROM f
)
SELECT id, url,
       list_aggregate(list_reverse(string_split(hostonly, '.')),
                      'string_agg', ',')
         || port || ')' || path || qpart AS surt_key
FROM n
"""


def _url_normalize_oracle() -> str:
    """Independent DuckDB canonicalization: string/list math instead
    of parse_url. Same five rules as operators/urls.py."""
    return f"""
WITH raw AS (
  SELECT doc_id AS id, {_MESSY_URL_SQL} AS url FROM documents
),
p AS (
  SELECT id, url,
         string_split(url, '#')[1] AS base,
         lower(string_split(string_split(url, '#')[1], '://')[1])
           AS proto,
         string_split(string_split(url, '#')[1], '://')[2] AS rest
  FROM raw
),
s AS (
  SELECT id, url, proto,
         CASE WHEN strpos(rest, '/') = 0 THEN lower(rest)
              ELSE lower(substr(rest, 1, strpos(rest, '/') - 1)) END
           AS hostport,
         CASE WHEN strpos(rest, '/') = 0 THEN ''
              ELSE substr(rest, strpos(rest, '/')) END AS pathq
  FROM p
),
h AS (
  SELECT id, url, proto, pathq,
         CASE WHEN proto = 'http' AND hostport LIKE '%:80'
                THEN substr(hostport, 1, length(hostport) - 3)
              WHEN proto = 'https' AND hostport LIKE '%:443'
                THEN substr(hostport, 1, length(hostport) - 4)
              ELSE hostport END AS noport
  FROM s
),
f AS (
  SELECT id, url, proto,
         CASE WHEN noport LIKE 'www.%' THEN substr(noport, 5)
              ELSE noport END AS host,
         CASE WHEN strpos(pathq, '?') = 0 THEN pathq
              ELSE substr(pathq, 1, strpos(pathq, '?') - 1) END AS rawpath,
         CASE WHEN strpos(pathq, '?') = 0 THEN ''
              ELSE substr(pathq, strpos(pathq, '?') + 1) END AS query
  FROM h
),
n AS (
  SELECT id, url, proto, host, query,
         CASE WHEN rawpath LIKE '%/'
              THEN substr(rawpath, 1, length(rawpath) - 1)
              ELSE rawpath END AS path,
         CASE WHEN query = '' THEN ''
              ELSE '?' || list_aggregate(
                     list_sort(string_split(query, '&')),
                     'string_agg', '&') END AS qpart,
         CASE WHEN query = '' THEN CAST(0 AS BIGINT)
              ELSE CAST(len(string_split(query, '&')) AS BIGINT) END
           AS n_params
  FROM f
)
SELECT id, url, proto || '://' || host || path || qpart AS url_norm,
       host, path, n_params
FROM n
"""


# corpus domains blocked in the blocklist demo query (synthetic hosts)
BLOCKED_DOMAINS = ["src3", "src7", "src13"]


def q_blocklist_filter(spark, sf_dir):
    from edspdf_spark.operators.urls import blocklist_filter

    bl = spark.createDataFrame([(d,) for d in BLOCKED_DOMAINS],
                               "domain string")
    return blocklist_filter(_docs(spark, sf_dir), bl) \
        .select("doc_id", "source")


def _blocklist_oracle() -> str:
    quoted = ", ".join(f"'{d}'" for d in BLOCKED_DOMAINS)
    return f"""
SELECT doc_id, source FROM documents WHERE source NOT IN ({quoted})
"""


def q_int8_quantize(spark, sf_dir):
    from pyspark.sql import functions as F  # noqa: N812

    from edspdf_spark.operators.simsearch import int8_quantize

    q = int8_quantize(_embeddings(spark, sf_dir))
    # codes rendered as one comma-joined string column: the driver
    # compare stringifies values, and list-vs-ndarray renderings
    # differ between engines even when every element matches
    return q.select(
        "id", "dim", "scale",
        F.concat_ws(",", F.transform(F.col("qvec"),
                                     lambda x: x.cast("string")))
        .alias("qcodes"), "l1")


_INT8_QUANTIZE_ORACLE = """
WITH v AS (
  SELECT vec_id AS id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
s AS (
  SELECT id, e, CAST(len(e) AS INT) AS dim,
         list_max(list_transform(e, x -> abs(x))) AS scale
  FROM v
),
q AS (
  SELECT id, dim, scale,
         CASE WHEN scale = 0.0
              THEN list_transform(e, x -> CAST(0 AS BIGINT))
              ELSE list_transform(e, x -> CAST(round(x * 127.0 / scale)
                                               AS BIGINT)) END AS qvec
  FROM s
)
SELECT id, dim, scale,
       array_to_string(qvec, ',') AS qcodes,
       CAST(list_sum(list_transform(qvec, x -> abs(x))) AS BIGINT) AS l1
FROM q
"""


def q_hash_split(spark, sf_dir):
    from edspdf_spark.operators.sampling import hash_split

    return hash_split(_docs(spark, sf_dir, spread=False))


def _hash_split_oracle() -> str:
    from edspdf_spark.functions import code15_sql
    from edspdf_spark.operators.sampling import (HASH_SPLIT_SALT,
                                                 HASH_SPLIT_WEIGHTS)

    h = code15_sql(f"CAST(doc_id AS VARCHAR) || ':{HASH_SPLIT_SALT}'")
    cases, lo = [], 0
    for name, w in HASH_SPLIT_WEIGHTS.items():
        cases.append(f"WHEN b < {lo + w} THEN '{name}'")
        lo += w
    return f"""
WITH t AS (SELECT doc_id AS id, {h} % 1000 AS b FROM documents)
SELECT id, b AS bucket, CASE {" ".join(cases)} END AS split FROM t
"""


# data-mixing demo rates: downweight two domains, drop one entirely
MIX_RATES = {"src0": 500, "src1": 250, "src2": 0}


def q_stratified_sample(spark, sf_dir):
    from edspdf_spark.operators.sampling import stratified_sample

    return stratified_sample(_docs(spark, sf_dir, spread=False), MIX_RATES) \
        .select("doc_id", "source")


def _stratified_oracle() -> str:
    from edspdf_spark.functions import code15_sql

    h = code15_sql("CAST(doc_id AS VARCHAR) || ':mix-v1'")
    cases = " ".join(f"WHEN source = '{d}' THEN {r}"
                     for d, r in MIX_RATES.items())
    return f"""
SELECT doc_id, source FROM documents
WHERE {h} % 1000 < (CASE {cases} ELSE 1000 END)
"""


def q_latest_capture(spark, sf_dir):
    from edspdf_spark.operators.dedup import latest_by_key

    ev = _events(spark, sf_dir).select("user_id", "ts", "event_id",
                                       "event_type", "value")
    return latest_by_key(ev, "user_id", "ts", "event_id")


_LATEST_CAPTURE_ORACLE = """
WITH r AS (
  SELECT user_id, ts, event_id, event_type, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn,
         count(*) OVER (PARTITION BY user_id) AS n_captures
  FROM events
)
SELECT user_id, ts AS last_ts, event_id AS last_event_id,
       event_type AS last_event_type, value AS last_value,
       CAST(n_captures AS BIGINT) AS n_captures
FROM r WHERE rn = 1
"""


# multi-line corpus synthesized from documents: first 3 words repeat
# as a boilerplate header line on every doc (the line dedup target),
# the original text follows as the body line — one expression string,
# rendered identically in Spark SQL and DuckDB
_MULTILINE_TEXT_SQL = (
    "'shared boilerplate header line' || chr(10) || text || chr(10) || "
    "'footer ' || CAST(doc_id % 5 AS VARCHAR(4))")


def q_line_dedup(spark, sf_dir):
    from edspdf_spark.operators.dedup import line_dedup_rebuild

    docs = _docs(spark, sf_dir).selectExpr(
        "doc_id", f"{_MULTILINE_TEXT_SQL} AS text")
    return line_dedup_rebuild(docs)


def _line_dedup_oracle() -> str:
    from edspdf_spark.functions import code15_sql

    code = code15_sql("line")
    return f"""
WITH docs AS (
  SELECT doc_id AS id, {_MULTILINE_TEXT_SQL} AS text FROM documents
),
lx AS (
  SELECT id, u.idx AS idx, u.line AS line
  FROM (
    SELECT id,
           unnest(list_transform(
             generate_series(1, len(string_split(text, chr(10)))),
             i -> {{'idx': i - 1,
                    'line': string_split(text, chr(10))[i]}})) AS u
    FROM docs
  )
),
r AS (
  SELECT id, idx, line,
         (length(line) < 10 OR
          row_number() OVER (PARTITION BY {code}
                             ORDER BY id, idx) = 1) AS keep
  FROM lx
)
SELECT id,
       coalesce(string_agg(CASE WHEN keep THEN line END, chr(10)
                           ORDER BY idx), '') AS text,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM r GROUP BY id
"""


# deterministic PII injection per doc_id (shared Spark/DuckDB string)
_PII_TEXT_SQL = (
    "text || (CASE WHEN doc_id % 4 = 0 THEN "
    "  ' contact bob' || CAST(doc_id AS VARCHAR(8)) || '@example.com'"
    " WHEN doc_id % 4 = 1 THEN ' call +155 555 0' || "
    "  CAST(doc_id % 100 AS VARCHAR(4)) || '2'"
    " WHEN doc_id % 4 = 2 THEN ' from 10.0.' || "
    "  CAST(doc_id % 256 AS VARCHAR(4)) || '.7'"
    " ELSE '' END)")


def q_pii_scrub(spark, sf_dir):
    from edspdf_spark.operators.analysis import pii_scrub

    docs = _docs(spark, sf_dir).selectExpr(
        "doc_id", f"{_PII_TEXT_SQL} AS text")
    return pii_scrub(docs)


def _pii_scrub_oracle() -> str:
    from edspdf_spark.operators.analysis import (PII_PATTERNS,
                                                 PII_REPLACEMENTS)

    red = "text"
    for k, p in PII_PATTERNS.items():
        red = (f"regexp_replace({red}, '{p}', "
               f"'{PII_REPLACEMENTS[k]}', 'g')")
    counts = ", ".join(
        f"CAST(len(regexp_extract_all(text, '{p}')) AS BIGINT) "
        f"AS n_{alias}"
        for (k, p), alias in zip(PII_PATTERNS.items(),
                                 ("emails", "phones", "ips")))
    return f"""
WITH docs AS (
  SELECT doc_id AS id, {_PII_TEXT_SQL} AS text FROM documents
)
SELECT id, {red} AS text, {counts} FROM docs
"""


def q_bigram_coverage(spark, sf_dir):
    from edspdf_spark.operators.analysis import bigram_coverage

    return bigram_coverage(_docs(spark, sf_dir, spread=False))


def _bigram_coverage_oracle() -> str:
    from edspdf_spark.functions import code15_sql
    from edspdf_spark.operators.analysis import bigram_coverage  # noqa: F401

    code = code15_sql("g")
    return f"""
WITH toks AS (
  SELECT doc_id AS id,
         list_filter(string_split(text, ' '), w -> w <> '') AS tk
  FROM documents
),
bg AS (
  SELECT id, unnest(list_transform(generate_series(1, len(tk) - 1),
                                   i -> tk[i] || ' ' || tk[i + 1])) AS g
  FROM toks WHERE len(tk) >= 2
),
bgc AS (SELECT id, {code} AS code FROM bg),
freq AS (
  SELECT code FROM (
    SELECT code, count(DISTINCT id) AS c FROM bgc GROUP BY code
  ) WHERE c >= 3
),
sc AS (
  SELECT b.id, CAST(count(*) AS BIGINT) AS nb,
         CAST(sum(CASE WHEN f.code IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS nk
  FROM bgc b LEFT JOIN freq f ON b.code = f.code
  GROUP BY b.id
)
SELECT t.id,
       CAST(coalesce(nb, 0) AS BIGINT) AS n_bigrams,
       CAST(coalesce(nk, 0) AS BIGINT) AS n_known,
       CAST(coalesce(nk, 0) AS DOUBLE)
         / (CASE WHEN coalesce(nb, 0) = 0 THEN 1 ELSE nb END) AS coverage
FROM toks t LEFT JOIN sc ON sc.id = t.id
"""


def q_sessionize(spark, sf_dir):
    from edspdf_spark.streaming.windowed import sessionize

    return sessionize(_events(spark, sf_dir))


# gaps-and-islands rendering of session_window semantics: a new
# session starts when the gap to the previous event EXCEEDS 30
# minutes — Spark merges an event landing exactly at the previous
# session's end (inclusive boundary; verified by the exact-gap unit
# test in tests/test_webtext_ops.py); session end = last ts + gap
_SESSIONIZE_ORACLE = """
WITH o AS (
  SELECT user_id AS key, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT key, ts, value,
         sum(brk) OVER (PARTITION BY key ORDER BY ts
                        ROWS UNBOUNDED PRECEDING) AS sess
  FROM o
)
SELECT key, min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
         AS sum_value_centi
FROM s GROUP BY key, sess
"""


def q_domain_stats(spark, sf_dir):
    from edspdf_spark.operators.analysis import domain_stats

    return domain_stats(_docs(spark, sf_dir, spread=False))


_DOMAIN_STATS_ORACLE = """
WITH a AS (
  SELECT source AS domain,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(length(text)) AS BIGINT) AS n_chars,
         CAST(sum(len(list_filter(string_split(text, ' '),
                                  w -> w <> ''))) AS BIGINT) AS n_tokens,
         CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
  FROM documents GROUP BY source
)
SELECT domain, n_docs, n_chars, n_tokens, n_langs,
       CAST(n_chars AS DOUBLE) / n_docs AS avg_chars,
       CAST(n_chars AS DOUBLE) / (CAST(sum(n_chars) OVER () AS BIGINT))
         AS share_chars
FROM a
"""


# the stopword rule is language-specific; for the synthetic corpus the
# "most common words" are its own function words (the English list
# would reject every document and the funnel would be degenerate)
FUNNEL_STOPWORDS = ["join", "hash", "row", "batch", "scan", "column",
                    "filter", "merge"]


# deterministic multiline corpus for the C4 line rules: 7-token lines
# with a 4-cycle of terminal punctuation (., none, ?, !-or-javascript)
# plus page-level brace/lorem injections — every rule fires somewhere.
# Spark and DuckDB renderings are separate (list-function names
# differ) but value-identical; slice(arr, pos, LEN) == list_slice(arr,
# pos, pos+LEN-1) and both engines' chr(10) agree.
_C4_SPARK_TEXT = """
concat(
  array_join(transform(
    sequence(0, greatest(CAST(ceil(CAST(size(c4toks) AS DOUBLE) / 7)
                              AS INT) - 1, 0)),
    i -> concat(array_join(slice(c4toks, i * 7 + 1, 7), ' '),
                CASE WHEN i % 4 = 0 THEN '.'
                     WHEN i % 4 = 1 THEN ''
                     WHEN i % 4 = 2 THEN '?'
                     WHEN doc_id % 7 = 0 THEN ' javascript.'
                     ELSE '!' END)), chr(10)),
  CASE WHEN doc_id % 11 = 0 THEN chr(10) || '{ config }' ELSE '' END,
  CASE WHEN doc_id % 13 = 0 THEN chr(10) || 'lorem ipsum dolor'
       ELSE '' END)
"""

_C4_DUCK_TEXT = """
array_to_string(list_transform(
    generate_series(0, greatest(CAST(ceil(CAST(len(c4toks) AS DOUBLE) / 7)
                                     AS INT) - 1, 0)),
    i -> array_to_string(list_slice(c4toks, i * 7 + 1, i * 7 + 7), ' ')
         || CASE WHEN i % 4 = 0 THEN '.'
                 WHEN i % 4 = 1 THEN ''
                 WHEN i % 4 = 2 THEN '?'
                 WHEN doc_id % 7 = 0 THEN ' javascript.'
                 ELSE '!' END), chr(10))
|| CASE WHEN doc_id % 11 = 0 THEN chr(10) || '{ config }' ELSE '' END
|| CASE WHEN doc_id % 13 = 0 THEN chr(10) || 'lorem ipsum dolor'
        ELSE '' END
"""


def q_c4_filters(spark, sf_dir):
    """C4 line/page cleaning rules (Raffel et al. 2020 §2.2) over a
    deterministic multiline rendering of the documents corpus."""
    from edspdf_spark.operators.analysis import c4_filters

    corpus = (_docs(spark, sf_dir)
              .selectExpr("doc_id",
                          "filter(split(text, ' '), t -> t <> '') "
                          "AS c4toks")
              .selectExpr("doc_id", f"{_C4_SPARK_TEXT} AS text"))
    return c4_filters(corpus)


_C4_ORACLE = f"""
WITH t0 AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), t -> t <> '') AS c4toks
  FROM documents),
c AS (SELECT doc_id, {_C4_DUCK_TEXT} AS text FROM t0),
l AS (SELECT doc_id, text, string_split(text, chr(10)) AS lines FROM c),
k AS (
  SELECT doc_id, text, lines,
         list_filter(lines, x ->
            right(trim(x), 1) IN ('.', '!', '?', chr(34))
            AND len(list_filter(string_split(trim(x), ' '),
                                w -> w <> '')) >= 5
            AND NOT contains(lower(trim(x)), 'javascript')) AS kept
  FROM l)
SELECT doc_id AS id, CAST(len(lines) AS BIGINT) AS n_lines,
       CAST(len(kept) AS BIGINT) AS n_kept_lines,
       strpos(text, '{{') > 0 AS has_brace,
       strpos(lower(text), 'lorem ipsum') > 0 AS has_lorem,
       array_to_string(kept, chr(10)) AS clean_text,
       len(kept) >= 3 AND strpos(text, '{{') = 0
         AND strpos(lower(text), 'lorem ipsum') = 0 AS keep
FROM k
"""


def q_quality_funnel(spark, sf_dir):
    from edspdf_spark.operators.analysis import quality_funnel

    return quality_funnel(_docs(spark, sf_dir, spread=False),
                          stopwords=FUNNEL_STOPWORDS)


def _quality_funnel_oracle() -> str:
    """Funnel = the stage oracles composed as subqueries (independent
    end-to-end rendering of the same pipeline)."""
    return f"""
WITH q AS (SELECT id FROM ({_gopher_oracle(FUNNEL_STOPWORDS)}) g
           WHERE g.keep),
r AS (SELECT id FROM ({_gopher_repetition_oracle()}) g WHERE g.keep),
s2 AS (SELECT q.id FROM q JOIN r ON q.id = r.id)
SELECT CAST(0 AS INT) AS stage, 'all' AS stage_name,
       CAST(count(*) AS BIGINT) AS n_docs FROM documents
UNION ALL
SELECT CAST(1 AS INT), 'gopher_repetition', CAST(count(*) AS BIGINT)
FROM r
UNION ALL
SELECT CAST(2 AS INT), 'gopher_quality', CAST(count(*) AS BIGINT) FROM s2
UNION ALL
SELECT CAST(3 AS INT), 'exact_dedup',
       CAST(count(DISTINCT md5(d.text)) AS BIGINT)
FROM documents d JOIN s2 ON d.doc_id = s2.id
"""


def q_pack_sequences(spark, sf_dir):
    from edspdf_spark.operators.pack import pack_sequences

    return pack_sequences(_docs(spark, sf_dir, spread=False))


def _pack_oracle() -> str:
    """Concat-and-chunk packing in DuckDB: the window cumsum the Spark
    side deliberately avoids (fine at oracle scale). ::BIGINT around
    the window sum (DuckDB sums BIGINT into HUGEINT); `//` matches
    Spark's `div` on nonnegative values."""
    from edspdf_spark.operators.pack import PACK_SEQ_LEN as L

    return f"""
WITH t AS (
  SELECT doc_id AS id,
         CAST(len(list_filter(string_split(text, ' '), w -> w <> ''))
              AS BIGINT) AS n_tokens
  FROM documents
),
c AS (
  SELECT id, n_tokens,
         CAST(sum(n_tokens) OVER (ORDER BY id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) - n_tokens AS start_offset
  FROM t
)
SELECT id, n_tokens, start_offset,
       start_offset // {L} AS first_seq,
       (start_offset + (CASE WHEN n_tokens = 0 THEN 1 ELSE n_tokens END)
        - 1) // {L} AS last_seq,
       ((start_offset + (CASE WHEN n_tokens = 0 THEN 1 ELSE n_tokens END)
         - 1) // {L}) - (start_offset // {L}) + 1 AS n_seqs
FROM c
"""


def q_gopher_repetition(spark, sf_dir):
    from edspdf_spark.operators.analysis import gopher_repetition

    return gopher_repetition(_docs(spark, sf_dir, spread=False))


def _gopher_repetition_oracle() -> str:
    """Independent DuckDB rendering of the Gopher repetition rules:
    line/paragraph dup counts via unnest+GROUP BY, n-gram stats via
    list_transform(generate_series)+unnest (the winnowing-oracle idiom
    — generate_series with a column bound works in LIST context, only
    the lateral table-function form is unavailable in DuckDB 1.0).
    All numerators are integers; fractions are CAST(i AS DOUBLE)/j on
    both sides, hence bit-exact."""
    from edspdf_spark.operators.analysis import (
        GOPHER_MAX_DUP_LINE_CHAR_FRAC, GOPHER_MAX_DUP_LINE_FRAC,
        GOPHER_MAX_DUP_NGRAM_CHAR_FRAC, GOPHER_MAX_DUP_PARA_CHAR_FRAC,
        GOPHER_MAX_DUP_PARA_FRAC, GOPHER_MAX_TOP_NGRAM_CHAR_FRAC)

    gram_ctes, gram_joins, gram_vals = [], [], []
    for n in range(2, 11):
        join_expr = " || ' ' || ".join(f"tk[i + {j}]" if j else "tk[i]"
                                       for j in range(n))
        agg = ("CAST(max(c * length(g)) AS BIGINT)" if n <= 4 else
               "CAST(sum(CASE WHEN c >= 2 THEN c * length(g) "
               "ELSE 0 END) AS BIGINT)")
        gram_ctes.append(f"""
g{n}x AS (
  SELECT id, unnest(list_transform(
           generate_series(1, len(tk) - {n - 1}), i -> {join_expr})) AS g
  FROM docs WHERE len(tk) >= {n}
),
g{n}c AS (SELECT id, g, count(*) AS c FROM g{n}x GROUP BY id, g),
g{n}a AS (SELECT id, {agg} AS v FROM g{n}c GROUP BY id)""")
        gram_joins.append(f"LEFT JOIN g{n}a ON g{n}a.id = d.id")
        gram_vals.append(f"CAST(coalesce(g{n}a.v, 0) AS DOUBLE) / c1")

    frac_exprs = {
        "dup_line_frac": "CAST(coalesce(la.dup_lines, 0) AS DOUBLE) / "
                         "(CASE WHEN coalesce(la.n_lines, 0) = 0 THEN 1 "
                         "ELSE la.n_lines END)",
        "dup_para_frac": "CAST(coalesce(pa.dup_paras, 0) AS DOUBLE) / "
                         "(CASE WHEN coalesce(pa.n_paras, 0) = 0 THEN 1 "
                         "ELSE pa.n_paras END)",
        "dup_line_char_frac":
            "CAST(coalesce(la.dup_line_chars, 0) AS DOUBLE) / c1",
        "dup_para_char_frac":
            "CAST(coalesce(pa.dup_para_chars, 0) AS DOUBLE) / c1",
    }
    for i, n in enumerate((2, 3, 4)):
        frac_exprs[f"top{n}gram_char_frac"] = gram_vals[i]
    for i, n in enumerate(range(5, 11)):
        frac_exprs[f"dup{n}gram_char_frac"] = gram_vals[3 + i]
    keep_parts = [
        f"{frac_exprs['dup_line_frac']} <= {GOPHER_MAX_DUP_LINE_FRAC}",
        f"{frac_exprs['dup_para_frac']} <= {GOPHER_MAX_DUP_PARA_FRAC}",
        f"{frac_exprs['dup_line_char_frac']} <= "
        f"{GOPHER_MAX_DUP_LINE_CHAR_FRAC}",
        f"{frac_exprs['dup_para_char_frac']} <= "
        f"{GOPHER_MAX_DUP_PARA_CHAR_FRAC}",
    ]
    for n, thr in GOPHER_MAX_TOP_NGRAM_CHAR_FRAC.items():
        keep_parts.append(f"{frac_exprs[f'top{n}gram_char_frac']} <= {thr}")
    for n, thr in GOPHER_MAX_DUP_NGRAM_CHAR_FRAC.items():
        keep_parts.append(f"{frac_exprs[f'dup{n}gram_char_frac']} <= {thr}")
    select_fracs = ",\n       ".join(
        f"{expr} AS {name}" for name, expr in frac_exprs.items())
    return f"""
WITH docs AS (
  SELECT doc_id AS id, text,
         CASE WHEN length(text) = 0 THEN CAST(1 AS BIGINT)
              ELSE CAST(length(text) AS BIGINT) END AS c1,
         list_filter(string_split(replace(text, chr(10), ' '), ' '),
                     w -> w <> '') AS tk
  FROM documents
),
lx AS (
  SELECT id, unnest(list_filter(string_split(text, chr(10)),
                                s -> s <> '')) AS s
  FROM docs
),
lc AS (SELECT id, s, count(*) AS c FROM lx GROUP BY id, s),
la AS (
  SELECT id, CAST(sum(c) AS BIGINT) AS n_lines,
         CAST(sum(c - 1) AS BIGINT) AS dup_lines,
         CAST(sum((c - 1) * length(s)) AS BIGINT) AS dup_line_chars
  FROM lc GROUP BY id
),
px AS (
  SELECT id, unnest(list_filter(string_split(text, chr(10) || chr(10)),
                                s -> s <> '')) AS s
  FROM docs
),
pc AS (SELECT id, s, count(*) AS c FROM px GROUP BY id, s),
pa AS (
  SELECT id, CAST(sum(c) AS BIGINT) AS n_paras,
         CAST(sum(c - 1) AS BIGINT) AS dup_paras,
         CAST(sum((c - 1) * length(s)) AS BIGINT) AS dup_para_chars
  FROM pc GROUP BY id
),{",".join(gram_ctes)}
SELECT d.id,
       {select_fracs},
       ({" AND ".join(keep_parts)}) AS keep
FROM docs d
LEFT JOIN la ON la.id = d.id
LEFT JOIN pa ON pa.id = d.id
{chr(10).join(gram_joins)}
"""


def _gopher_oracle(stopwords=None) -> str:
    from edspdf_spark.operators.analysis import (
        GOPHER_MAX_BULLET_FRAC, GOPHER_MAX_ELLIPSIS_FRAC,
        GOPHER_MAX_MEAN_WORD_LEN, GOPHER_MAX_SYMBOL_RATIO,
        GOPHER_MAX_WORDS, GOPHER_MIN_ALPHA_FRAC, GOPHER_MIN_MEAN_WORD_LEN,
        GOPHER_MIN_STOPWORDS, GOPHER_MIN_WORDS, GOPHER_STOPWORDS)

    stop_sum = " + ".join(
        f"CASE WHEN list_contains(ts, '{w}') THEN 1 ELSE 0 END"
        for w in (stopwords if stopwords is not None
                  else GOPHER_STOPWORDS))
    return f"""
WITH t AS (
  SELECT doc_id AS id, text,
         list_filter(string_split(text, ' '), w -> w <> '') AS ts,
         string_split(text, chr(10)) AS ls
  FROM documents
),
m AS (
  SELECT id,
         CAST(len(ts) AS BIGINT) AS n_words,
         CASE WHEN len(ts) = 0 THEN CAST(1 AS BIGINT)
              ELSE CAST(len(ts) AS BIGINT) END AS n1,
         CAST((SELECT sum(length(w)) FROM unnest(ts) u(w)) AS BIGINT)
           AS sum_len,
         CAST(len(list_filter(ts, w -> lower(w) <> upper(w))) AS BIGINT)
           AS n_alpha,
         CAST(length(text) - length(replace(text, '#', '')) AS BIGINT)
           + CAST((length(text) - length(replace(text, '...', ''))) // 3
                  AS BIGINT) AS n_symbols,
         CAST(len(ls) AS BIGINT) AS n_lines,
         CASE WHEN len(ls) = 0 THEN CAST(1 AS BIGINT)
              ELSE CAST(len(ls) AS BIGINT) END AS nl1,
         CAST(len(list_filter(ls, l -> starts_with(l, '-')
                  OR starts_with(l, '*') OR starts_with(l, '•')))
              AS BIGINT) AS n_bullet,
         CAST(len(list_filter(ls, l -> l LIKE '%...')) AS BIGINT)
           AS n_ellipsis_l,
         CAST({stop_sum} AS BIGINT) AS n_stopword_types
  FROM t
)
SELECT id, n_words,
       CAST(sum_len AS DOUBLE) / n1 AS mean_word_len,
       CAST(n_alpha AS DOUBLE) / n1 AS frac_alpha_words,
       CAST(n_symbols AS DOUBLE) / n1 AS symbol_ratio,
       CAST(n_bullet AS DOUBLE) / nl1 AS frac_bullet_lines,
       CAST(n_ellipsis_l AS DOUBLE) / nl1 AS frac_ellipsis_lines,
       n_stopword_types,
       (n_words >= {GOPHER_MIN_WORDS} AND n_words <= {GOPHER_MAX_WORDS}
        AND CAST(sum_len AS DOUBLE) / n1 >= {GOPHER_MIN_MEAN_WORD_LEN}
        AND CAST(sum_len AS DOUBLE) / n1 <= {GOPHER_MAX_MEAN_WORD_LEN}
        AND CAST(n_symbols AS DOUBLE) / n1 <= {GOPHER_MAX_SYMBOL_RATIO}
        AND CAST(n_alpha AS DOUBLE) / n1 >= {GOPHER_MIN_ALPHA_FRAC}
        AND CAST(n_bullet AS DOUBLE) / nl1 <= {GOPHER_MAX_BULLET_FRAC}
        AND CAST(n_ellipsis_l AS DOUBLE) / nl1
              <= {GOPHER_MAX_ELLIPSIS_FRAC}
        AND n_stopword_types >= {GOPHER_MIN_STOPWORDS}) AS keep
FROM m
"""


# passage granularity for the oracled query: 3 tokens, small enough
# that the 24-word synth vocabulary actually produces cross-doc
# repeats at sf0.01 (production default k=50 in the operator)
PASSAGE_K = 3


def q_passage_dedup(spark, sf_dir):
    from edspdf_spark.operators.dedup import passage_dedup

    return passage_dedup(_docs(spark, sf_dir, spread=False), k=PASSAGE_K)


def _passage_oracle() -> str:
    k = PASSAGE_K
    return f"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), w -> w <> '') AS ts
  FROM documents
),
pass AS (
  SELECT doc_id, g.j AS passage_idx,
         ('0x' || substr(md5(
            array_to_string(ts[g.j * {k} + 1 : g.j * {k} + {k}], ' ')),
            1, 15))::BIGINT AS passage_code
  FROM t CROSS JOIN generate_series(0, 511) g(j)
  WHERE g.j < len(ts) // {k}
)
SELECT doc_id, CAST(passage_idx AS INTEGER) AS passage_idx, passage_code,
       row_number() OVER (PARTITION BY passage_code
                          ORDER BY doc_id, passage_idx) = 1 AS keep
FROM pass
"""


# duplicated-span window width: 10 tokens finds ~969 genuinely
# repeated windows in the sf0.01 synth corpus (production: 50, per
# Lee et al. 2021)
SUBSTR_W = 10


def q_substring_dedup(spark, sf_dir):
    from edspdf_spark.operators.dedup import substring_dedup

    return substring_dedup(_docs(spark, sf_dir, spread=False), w=SUBSTR_W)


def _substring_dedup_oracle() -> str:
    w = SUBSTR_W
    return f"""
WITH toks AS (
  SELECT doc_id AS id,
         list_filter(string_split(text, ' '), x -> x <> '') AS tk
  FROM documents),
wins AS (
  SELECT id, u.pos AS pos,
         ('0x' || substr(md5(u.s), 1, 15))::BIGINT AS h FROM (
    SELECT id, unnest(list_transform(
      generate_series(1, greatest(len(tk) - {w - 1}, 0)),
      i -> {{'pos': i,
             's': array_to_string(tk[i:i+{w - 1}], ' ')}})) AS u
    FROM toks)),
rk AS (SELECT id, pos, row_number() OVER (PARTITION BY h
                                          ORDER BY id, pos) AS rn
       FROM wins),
rem AS (SELECT id, pos FROM rk WHERE rn > 1),
tr AS (
  SELECT id, u.p AS p, u.tok AS tok FROM (
    SELECT id, unnest(list_transform(generate_series(1, len(tk)),
      p -> {{'p': p, 'tok': tk[p]}})) AS u FROM toks)),
keep AS (
  SELECT t.id, t.p, t.tok,
    NOT EXISTS (SELECT 1 FROM rem r WHERE r.id = t.id
                AND r.pos <= t.p AND t.p < r.pos + {w}) AS k
  FROM tr t)
SELECT id,
  coalesce(string_agg(CASE WHEN k THEN tok END, ' ' ORDER BY p), '')
    AS text,
  CAST(count(*) AS BIGINT) AS n_tokens,
  CAST(sum(CASE WHEN k THEN 0 ELSE 1 END) AS BIGINT) AS n_removed
FROM keep GROUP BY id
"""


# decontamination shingle width / benchmark selector: every 29th doc
# plays the "eval set"; k=4 yields a non-trivial contaminated set in
# the 24-word synth vocabulary (production: 13-grams, per GPT-3 App C)
DECON_K = 4
DECON_MOD = 29


def q_decontaminate(spark, sf_dir):
    from edspdf_spark.operators.dedup import decontaminate

    docs = _docs(spark, sf_dir, spread=False)
    bench = docs.where(f"doc_id % {DECON_MOD} = 0")
    train = docs.where(f"doc_id % {DECON_MOD} <> 0")
    return decontaminate(train, bench, k=DECON_K)


def _decontaminate_oracle() -> str:
    k = DECON_K
    return f"""
WITH toks AS (
  SELECT doc_id AS id,
         list_filter(string_split(text, ' '), x -> x <> '') AS tk
  FROM documents),
sh AS (
  SELECT id, unnest(list_distinct(list_transform(
      generate_series(1, greatest(len(tk) - {k - 1}, 0)),
      i -> array_to_string(tk[i:i+{k - 1}], ' ')))) AS s
  FROM toks),
bench AS (SELECT DISTINCT s FROM sh WHERE id % {DECON_MOD} = 0),
hits AS (
  SELECT id, CAST(count(*) AS BIGINT) AS n FROM sh
  JOIN bench USING (s) WHERE id % {DECON_MOD} <> 0 GROUP BY id)
SELECT t.id, coalesce(h.n, 0)::BIGINT AS n_overlap,
       coalesce(h.n, 0) >= 1 AS contaminated
FROM (SELECT id FROM toks WHERE id % {DECON_MOD} <> 0) t
LEFT JOIN hits h ON t.id = h.id
"""


def q_quality_classify(spark, sf_dir):
    from edspdf_spark.operators.analysis import quality_classify

    return quality_classify(_docs(spark, sf_dir, spread=False))


def _quality_classify_oracle() -> str:
    from edspdf_spark.operators.analysis import QC_BUCKETS, QC_LCG, QC_MOD

    (a0, c0), (a1, c1) = QC_LCG[0], QC_LCG[1]
    return f"""
WITH toks AS (
  SELECT doc_id AS id,
         list_filter(string_split(text, ' '), x -> x <> '') AS tk
  FROM documents),
feats AS (
  SELECT id, unnest(list_concat(tk,
    list_transform(generate_series(1, greatest(len(tk) - 1, 0)),
                   i -> tk[i] || ' ' || tk[i+1]))) AS f FROM toks),
b AS (SELECT id,
             ('0x' || substr(md5(f), 1, 15))::BIGINT % {QC_BUCKETS} AS b
      FROM feats),
w AS (SELECT id,
             ((b+1)*{a0} + {c0}) % {QC_MOD} % 201 - 100 AS w0,
             ((b+1)*{a1} + {c1}) % {QC_MOD} % 201 - 100 AS w1
      FROM b)
SELECT id, CAST(count(*) AS BIGINT) AS n_features,
       sum(w0)::BIGINT AS score0, sum(w1)::BIGINT AS score1,
       CAST(CASE WHEN sum(w1) > sum(w0) THEN 1 ELSE 0 END AS INTEGER)
         AS label
FROM w GROUP BY id
"""


def q_lm_ppl_buckets(spark, sf_dir):
    from edspdf_spark.operators.analysis import lm_perplexity_buckets

    return lm_perplexity_buckets(_docs(spark, sf_dir, spread=False))


_LM_PPL_ORACLE = """
WITH toks AS (
  SELECT doc_id AS id,
         list_filter(string_split(text, ' '), x -> x <> '') AS tk
  FROM documents),
bg AS (
  SELECT id, u.w1 AS w1, u.bg AS bg FROM (
    SELECT id, unnest(list_transform(
      generate_series(1, greatest(len(tk) - 1, 0)),
      i -> {'w1': tk[i], 'bg': tk[i] || ' ' || tk[i+1]})) AS u
    FROM toks)),
c1 AS (SELECT w, count(*)::BIGINT AS c
       FROM (SELECT unnest(tk) AS w FROM toks) GROUP BY w),
c2 AS (SELECT bg, count(*)::BIGINT AS c FROM bg GROUP BY bg),
sc AS (
  SELECT b.id,
         (length(bin(c2.c)) - 1) - (length(bin(c1.c)) - 1) AS lp
  FROM bg b JOIN c1 ON b.w1 = c1.w JOIN c2 ON b.bg = c2.bg),
agg AS (SELECT id, count(*)::BIGINT AS nb, sum(lp)::BIGINT AS lq
        FROM sc GROUP BY id),
j AS (
  SELECT t.id, coalesce(g.nb, 0)::BIGINT AS n_bigrams,
         g.lq::BIGINT AS logq,
         CASE WHEN g.nb > 0 THEN CAST(g.lq AS DOUBLE) / g.nb END
           AS avg_logq
  FROM (SELECT id FROM toks) t LEFT JOIN agg g USING (id))
SELECT id, n_bigrams, logq, avg_logq,
       CASE t WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
         AS bucket
FROM (SELECT *, ntile(3) OVER (ORDER BY avg_logq DESC NULLS LAST, id)
        AS t FROM j)
"""


def q_semantic_dedup(spark, sf_dir):
    from edspdf_spark.operators.simsearch import semantic_dedup

    emb = _embeddings(spark, sf_dir).select("vec_id", "embedding")
    scaled = emb.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.expr("transform(embedding, x -> x * CAST(101 AS DOUBLE)/100)")
        .alias("embedding"))
    corpus = emb.unionByName(scaled)
    return semantic_dedup(corpus, _train_centroids(_IVF_FROZEN_DIR),
                          threshold=0.98)


def q_cluster_balance(spark, sf_dir):
    """Cluster-proportional rebalancing over the frozen IVF cells."""
    from edspdf_spark.operators.simsearch import cluster_balanced_sample

    emb = _embeddings(spark, sf_dir).select("vec_id", "embedding")
    return cluster_balanced_sample(emb,
                                   _train_centroids(_IVF_FROZEN_DIR),
                                   target_per_cell=8)


def _cluster_balance_oracle() -> str:
    cents = _train_centroids(_IVF_FROZEN_DIR)
    rows = ", ".join(
        f"({j}, {int(sum(v * v for v in c))}::BIGINT, "
        "[" + ", ".join(str(int(v)) for v in c) + "]::BIGINT[])"
        for j, c in enumerate(cents))
    return f"""
WITH corpus AS (SELECT vec_id, embedding FROM embeddings),
cent(cell_idx, cn2, cv) AS (VALUES {rows}),
""" + _QUANT_SQL.format(src="corpus") + """,
dist AS (
  SELECT n.id, c.cell_idx,
         c.cn2 - 2::BIGINT * list_sum(
           list_transform(generate_series(1, 64),
                          i -> n.qv[i] * c.cv[i]))::BIGINT AS d
  FROM n CROSS JOIN cent c
),
assigned AS (
  SELECT id, cell_idx AS cell FROM (
    SELECT *, row_number() OVER (PARTITION BY id
                                 ORDER BY d, cell_idx) AS rn
    FROM dist) WHERE rn = 1),
sizes AS (SELECT cell, CAST(count(*) AS BIGINT) AS cell_count
          FROM assigned GROUP BY cell),
verdict AS (
  SELECT a.id, a.cell, s.cell_count,
         least(1000, (1000 * 8) // s.cell_count) AS rate_milli,
         ('0x' || substr(md5(CAST(a.id AS VARCHAR) || ':balance-v1'),
                         1, 15))::BIGINT % 1000 AS bucket
  FROM assigned a JOIN sizes s USING (cell))
SELECT id, cell, cell_count, rate_milli, bucket,
       bucket < rate_milli AS keep
FROM verdict
"""


def _semantic_dedup_oracle() -> str:
    cents = _train_centroids(_IVF_FROZEN_DIR)
    rows = ", ".join(
        f"({j}, {int(sum(v * v for v in c))}::BIGINT, "
        "[" + ", ".join(str(int(v)) for v in c) + "]::BIGINT[])"
        for j, c in enumerate(cents))
    return f"""
WITH corpus AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 100000 AS vec_id,
         list_transform(embedding, x -> x * CAST(101 AS DOUBLE)/100)
         AS embedding
  FROM embeddings
),
cent(cell_idx, cn2, cv) AS (VALUES {rows}),
""" + _QUANT_SQL.format(src="corpus") + f""",
dist AS (
  SELECT n.id, n.qv, n.norm2, c.cell_idx,
         c.cn2 - 2::BIGINT * list_sum(
           list_transform(generate_series(1, 64),
                          i -> n.qv[i] * c.cv[i]))::BIGINT AS d
  FROM n CROSS JOIN cent c
),
assigned AS (
  SELECT id, qv, norm2, cell_idx AS cell FROM (
    SELECT *, row_number() OVER (PARTITION BY id
                                 ORDER BY d, cell_idx) AS rn
    FROM dist) WHERE rn = 1),
pairs AS (
  SELECT x.id AS id_a,
         (SELECT sum(a * bb)
          FROM (SELECT unnest(x.qv) AS a, unnest(y.qv) AS bb) z)::BIGINT
         AS dot,
         x.norm2 AS n2_a, y.norm2 AS n2_b
  FROM assigned x JOIN assigned y
    ON x.cell = y.cell AND y.id < x.id
),
dup AS (
  SELECT DISTINCT id_a AS id FROM pairs
  WHERE CAST(dot AS DOUBLE) / (sqrt(n2_a) * sqrt(n2_b))
        >= CAST(98 AS DOUBLE)/100
)
SELECT a.id, CAST(a.cell AS INTEGER) AS cell, d.id IS NULL AS keep
FROM assigned a LEFT JOIN dup d ON a.id = d.id
"""


def q_dsir_select(spark, sf_dir):
    from edspdf_spark.operators.analysis import dsir_weights

    docs = _docs(spark, sf_dir, spread=False)
    # target domain sample = the English slice (production: a small
    # trusted-quality corpus); raw = everything. cutoff -115 ~ the
    # corpus median weight (|target| ~ 0.44|raw| puts every weight
    # near n_features * log2(0.44)), so `selected` genuinely splits
    return dsir_weights(docs, docs.where("lang = 'en'"), cutoff=-115)


_DSIR_ORACLE = """
WITH toks AS (
  SELECT doc_id AS id, lang,
         list_filter(string_split(text, ' '), x -> x <> '') AS tk
  FROM documents),
feats AS (
  SELECT id, lang, unnest(list_concat(tk,
    list_transform(generate_series(1, greatest(len(tk) - 1, 0)),
                   i -> tk[i] || ' ' || tk[i+1]))) AS f FROM toks),
fb AS (SELECT id, lang,
              ('0x' || substr(md5(f), 1, 15))::BIGINT % 4096 AS b
       FROM feats),
cr AS (SELECT b, count(*)::BIGINT AS c FROM fb GROUP BY b),
ct AS (SELECT b, count(*)::BIGINT AS c FROM fb WHERE lang = 'en'
       GROUP BY b),
sc AS (
  SELECT fb.id,
         (length(bin(coalesce(ct.c, 0) + 1)) - 1)
         - (length(bin(cr.c + 1)) - 1) AS lp
  FROM fb JOIN cr USING (b) LEFT JOIN ct USING (b))
SELECT id, count(*)::BIGINT AS n_features, sum(lp)::BIGINT AS weight,
       sum(lp) >= -115 AS selected
FROM sc GROUP BY id
"""


def q_knn_classify(spark, sf_dir):
    from edspdf_spark.operators.simsearch import knn_classify

    emb = _embeddings(spark, sf_dir)
    queries = emb.where(F.col("vec_id") % 50 == 0)
    return knn_classify(emb, queries, k=5)


def _knn_oracle() -> str:
    # deferred: _QUANT_SQL is defined further down, next to the other
    # embedding oracles; this runs at registration time
    return ("""
WITH
""" + _QUANT_SQL.format(src="embeddings") + """,
qry AS (SELECT id AS query_id, qv AS q_qv, norm2 AS q_norm2
        FROM n WHERE id % 50 = 0),
scored AS (
  SELECT qry.query_id, n.id,
         (SELECT sum(a * b)
          FROM (SELECT unnest(n.qv) AS a, unnest(qry.q_qv) AS b) z)::BIGINT
         AS dot,
         n.norm2, qry.q_norm2
  FROM n CROSS JOIN qry WHERE n.id <> qry.query_id
),
ranked AS (
  SELECT query_id, id AS neighbor_id,
         row_number() OVER (
           PARTITION BY query_id
           ORDER BY CAST(dot AS DOUBLE) / (sqrt(norm2) * sqrt(q_norm2)) DESC,
                    id ASC) AS rank
  FROM scored
),
votes AS (
  SELECT t.query_id, e.label AS nl, count(*)::BIGINT AS n_votes
  FROM (SELECT query_id, neighbor_id FROM ranked WHERE rank <= 5) t
  JOIN embeddings e ON t.neighbor_id = e.vec_id
  GROUP BY 1, 2
)
SELECT query_id, nl AS pred_label, n_votes FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY n_votes DESC, nl ASC) AS rn FROM votes)
WHERE rn = 1
""")  # noqa: E501


# C4-rule bad-word list for the contract query: "dup" occurs in ~5%
# of synth docs (a real split); "unseen" never matches (no-hit path)
BADWORDS = ["dup", "unseen"]


def q_badwords_filter(spark, sf_dir):
    from edspdf_spark.operators.analysis import word_blocklist_filter

    return word_blocklist_filter(_docs(spark, sf_dir), BADWORDS)


def _badwords_oracle() -> str:
    lst = ", ".join(f"'{w}'" for w in BADWORDS)
    return f"""
SELECT doc_id AS id,
       len(list_filter(list_filter(string_split(text, ' '),
                                   x -> x <> ''),
                       t -> list_contains([{lst}], lower(t))))::BIGINT
         AS n_hits,
       len(list_filter(list_filter(string_split(text, ' '),
                                   x -> x <> ''),
                       t -> list_contains([{lst}], lower(t)))) = 0
         AS keep
FROM documents
"""


# per-domain token budget sized so `keep` genuinely splits each
# domain (~60/40 at sf0.01) rather than degenerating to all-true
TOKEN_BUDGET = 600


def q_token_budget(spark, sf_dir):
    from edspdf_spark.operators.analysis import token_budget_select

    return token_budget_select(_docs(spark, sf_dir), TOKEN_BUDGET)


def _token_budget_oracle() -> str:
    return f"""
WITH base AS (
  SELECT doc_id AS id, source AS domain,
         len(list_filter(string_split(text, ' '), x -> x <> ''))::BIGINT
           AS n_tokens,
         ('0x' || substr(md5(text), 1, 15))::BIGINT AS rk
  FROM documents)
SELECT id, domain, n_tokens,
       coalesce(sum(n_tokens) OVER (
         PARTITION BY domain ORDER BY rk, id
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
         AS cum_before,
       coalesce(sum(n_tokens) OVER (
         PARTITION BY domain ORDER BY rk, id
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         < {TOKEN_BUDGET} AS keep
FROM base
"""


def q_asof_join(spark, sf_dir):
    """Each purchase matched to the user's latest click at or before
    the purchase timestamp (point-in-time correctness: no future
    leakage — the feature-store join)."""
    from edspdf_spark.operators.asof import asof_join

    ev = _events(spark, sf_dir)
    purchases = ev.where("event_type = 'purchase'").select(
        "user_id", "ts", "event_id", "value")
    clicks = ev.where("event_type = 'click'").select(
        "user_id", "ts", "event_id", "value")
    return asof_join(purchases, clicks, "user_id", "ts", "event_id",
                     ["value"])


# independent derivation on purpose: the oracle uses the naive
# range-join + rank formulation; the Spark side uses the scalable
# union-window plan — agreement checks the SEMANTICS, not the plan
_ASOF_ORACLE = """
WITH l AS (SELECT user_id, ts, event_id, value FROM events
           WHERE event_type = 'purchase'),
r AS (SELECT user_id, ts, event_id, value FROM events
      WHERE event_type = 'click')
SELECT user_id, ts, event_id, value, ts_r, event_id_r, value_r FROM (
  SELECT l.user_id, l.ts, l.event_id, l.value,
         r.ts AS ts_r, r.event_id AS event_id_r, r.value AS value_r,
         row_number() OVER (PARTITION BY l.event_id
                            ORDER BY r.ts DESC NULLS LAST,
                                     r.event_id DESC NULLS LAST) AS rn
  FROM l LEFT JOIN r ON l.user_id = r.user_id AND r.ts <= l.ts) t
WHERE rn = 1
"""


def q_hll_distinct(spark, sf_dir):
    from edspdf_spark.operators.analysis import hll_distinct

    return hll_distinct(_docs(spark, sf_dir, spread=False), "text", p=6)


# p=6: m=64 registers, w = top 54 hash bits, rmax = 55, 2^55 =
# 36028797018963968 (exactly representable as a double)
_HLL_ORACLE = """
WITH h AS (SELECT ('0x' || substr(md5(text), 1, 15))::BIGINT AS h
           FROM documents),
rho AS (SELECT h % 64 AS b,
               CASE WHEN h // 64 > 0
                    THEN 54 - (length(bin(h // 64)) - 1)
                    ELSE 55 END AS rho
        FROM h),
regs AS (SELECT b, max(rho) AS M FROM rho GROUP BY b),
agg AS (SELECT count(*)::BIGINT AS used_registers,
               sum(1::BIGINT << (55 - M))::BIGINT AS s_present
        FROM regs),
base AS (
  SELECT CAST(64 AS INTEGER) AS m, used_registers,
         (64 - used_registers)::BIGINT AS zero_registers,
         (s_present + (64 - used_registers)
            * (1::BIGINT << 55))::BIGINT AS s_scaled
  FROM agg),
est AS (
  SELECT *,
         CAST(7213 AS DOUBLE)/10000
           / (1 + CAST(1079 AS DOUBLE)/1000/64)
           * CAST(4096 AS DOUBLE)
           * CAST(36028797018963968 AS DOUBLE)
           / CAST(s_scaled AS DOUBLE) AS estimate
  FROM base),
ex AS (SELECT count(DISTINCT text)::BIGINT AS exact_count
       FROM documents)
SELECT m, used_registers, zero_registers, s_scaled, estimate,
       exact_count, estimate / exact_count AS rel_err
FROM est CROSS JOIN ex
"""


def q_cm_sketch(spark, sf_dir):
    from edspdf_spark.operators.analysis import cm_token_counts

    return cm_token_counts(_docs(spark, sf_dir, spread=False), top_k=20, width=1024)


def _cm_oracle() -> str:
    from edspdf_spark.operators.analysis import CM_ROWS

    structs = ", ".join(
        f"{{'j': {j}, 'bucket': ({a}*code + {b}) % 1000003 % 1024}}"
        for j, (a, b) in enumerate(CM_ROWS))
    return f"""
WITH vals AS (
  SELECT unnest(list_filter(string_split(text, ' '), x -> x <> ''))
    AS tok
  FROM documents),
coded AS (SELECT ('0x' || substr(md5(tok), 1, 15))::BIGINT % 1000003
            AS code FROM vals),
cells AS (
  SELECT u.j AS j, u.bucket AS bucket, count(*)::BIGINT AS cnt FROM (
    SELECT unnest([{structs}]) AS u FROM coded)
  GROUP BY 1, 2),
truth AS (SELECT tok, count(*)::BIGINT AS true_count FROM vals
          GROUP BY tok),
probes AS (SELECT tok, true_count FROM (
    SELECT *, row_number() OVER (ORDER BY true_count DESC, tok ASC)
      AS rk FROM truth) WHERE rk <= 20),
pc AS (
  SELECT tok, true_count, u.j AS j, u.bucket AS bucket FROM (
    SELECT tok, true_count,
           ('0x' || substr(md5(tok), 1, 15))::BIGINT % 1000003 AS code
    FROM probes) p, LATERAL (SELECT unnest([{structs}]) AS u) z)
SELECT pc.tok AS token, pc.true_count,
       min(cells.cnt)::BIGINT AS cm_estimate,
       (min(cells.cnt) - pc.true_count)::BIGINT AS overestimate
FROM pc JOIN cells ON pc.j = cells.j AND pc.bucket = cells.bucket
GROUP BY 1, 2
"""


WARC_TS = "2024-01-01T00:00:00Z"


def q_warc_roundtrip(spark, sf_dir):
    """Render every document as a WARC/1.0 response record (native
    codegen concat), then parse the bytes back through the WARC
    kernel — the oracle checks the parse inverts the render exactly."""
    from edspdf_spark.sources.warc import (parse_warc_column,
                                           render_warc_record)

    docs = _docs(spark, sf_dir)
    blobs = docs.select(render_warc_record(
        F.concat(F.lit("https://example.org/doc/"),
                 F.col("doc_id").cast("string")),
        F.lit(WARC_TS), F.col("text")).alias("blob"))
    rec = parse_warc_column(blobs, "blob")
    return rec.select("url", "warc_ts", "warc_type",
                      F.col("content").cast("string").alias("text"),
                      "n_bytes")


_WARC_ORACLE = f"""
SELECT 'https://example.org/doc/' || doc_id AS url,
       '{WARC_TS}' AS warc_ts,
       'response' AS warc_type,
       text,
       octet_length(encode(text))::BIGINT AS n_bytes
FROM documents
"""


def q_wet_export(spark, sf_dir):
    """WET export: every document rendered as a WARC/1.0 `conversion`
    record (the Common-Crawl extracted-text artifact; native codegen
    concat, byte-exact Content-Length), parsed back through the WARC
    kernel — read WARC -> extract -> write WET is THE CC pipeline
    shape, and the oracle checks the parse inverts the render."""
    from edspdf_spark.sources.warc import (parse_warc_column,
                                           render_wet_record)

    docs = _docs(spark, sf_dir)
    blobs = docs.select(render_wet_record(
        F.concat(F.lit("https://example.org/doc/"),
                 F.col("doc_id").cast("string")),
        F.lit(WARC_TS), F.col("text")).alias("blob"))
    rec = parse_warc_column(blobs, "blob")
    return rec.select("url", "warc_ts", "warc_type",
                      F.col("content").cast("string").alias("text"),
                      "n_bytes")


_WET_ORACLE = f"""
SELECT 'https://example.org/doc/' || doc_id AS url,
       '{WARC_TS}' AS warc_ts,
       'conversion' AS warc_type,
       text,
       octet_length(encode(text))::BIGINT AS n_bytes
FROM documents
"""


def q_winnow_fingerprints(spark, sf_dir):
    from edspdf_spark.operators.analysis import winnow_fingerprints

    return winnow_fingerprints(_docs(spark, sf_dir, spread=False))


def _winnow_oracle() -> str:
    """Closed-form winnowing oracle: same rolling-hash + window-minima
    construction in DuckDB (list ops are eager there, so the direct
    k-gram formulation is fine); all-integer math => bit-exact."""
    from edspdf_spark.operators.analysis import (WINNOW_B, WINNOW_K,
                                                 WINNOW_M, WINNOW_MAX_LEN,
                                                 WINNOW_W)

    k, w = WINNOW_K, WINNOW_W
    pows = ", ".join(
        str(pow(WINNOW_B, j, WINNOW_M)) for j in range(k))
    kgram_sum = " + ".join(
        f"cs[s + {j}] * {pow(WINNOW_B, j, WINNOW_M)}" for j in range(k))
    return f"""
WITH docs AS (
  SELECT doc_id AS id, substring(lower(text), 1, {WINNOW_MAX_LEN}) AS t
  FROM documents
  WHERE length(substring(lower(text), 1, {WINNOW_MAX_LEN})) >= {k + w - 1}
),
codes AS (
  SELECT id,
         list_transform(generate_series(1, length(t)),
                        i -> CAST(ascii(substr(t, i, 1)) AS BIGINT)) AS cs
  FROM docs
),
hs AS (
  SELECT c.id, g.s AS pos,
         ({kgram_sum}) % {WINNOW_M} AS h
  FROM codes c
  CROSS JOIN generate_series(1, {WINNOW_MAX_LEN}) g(s)
  WHERE g.s <= len(c.cs) - {k - 1}
),
mins AS (
  SELECT id, pos,
         min(h) OVER (PARTITION BY id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING) AS fp,
         count(*) OVER (PARTITION BY id) AS n_h
  FROM hs
)
SELECT DISTINCT id, fp FROM mins WHERE pos <= n_h - {w - 1}
"""


def q_html_extract(spark, sf_dir):
    """HTML boilerplate-strip path of the fused pipeline; hash-checked
    against the closed-form paragraph oracle."""
    pages = synth.pages_spark(spark, 60, num_partitions=4, kind="html")
    out = run_fused(pages, PIPE_CFG)
    return out.select("url", "label", "text", "n_blocs")


# --- trainable classifier: weights frozen at import on a fixed
# synthetic training set (independent of sf), embedded as exact double
# literals in BOTH the Spark expression tree and the DuckDB oracle ---

def _train_frozen_model():
    import pandas as pd

    rows = []
    for doc_id in range(500):
        for k in range(5):
            x0 = ((doc_id * 7 + k * 13) % 80) / 100.0
            x1 = x0 + (10 + (doc_id + k) % 10) / 100.0
            y0 = ((doc_id * 11 + k * 17) % 80) / 100.0
            y1 = y0 + (5 + (doc_id * 3 + k) % 12) / 100.0
            rows.append((x0, y0, x1, y1, x1 - x0, y1 - y0,
                         1.0 if k % 2 == 0 else 0.0,
                         1.0 if k % 2 == 1 else 0.0,
                         "header" if y1 < 0.45 else "body"))
    pdf = pd.DataFrame(rows, columns=["x0", "y0", "x1", "y1", "width",
                                      "height", "first_page", "last_page",
                                      "label"])
    from edspdf_spark.operators.trainable import train
    return train(pdf, epochs=120)


_FROZEN_MODEL = _train_frozen_model()


def q_trainable_classify(spark, sf_dir):
    from edspdf_spark.operators.trainable import classify_native

    feat = (_derived_blocs(spark, sf_dir)
            .withColumn("width", F.col("x1") - F.col("x0"))
            .withColumn("height", F.col("y1") - F.col("y0"))
            .withColumn("first_page",
                        (F.col("page_num") == 0).cast("double"))
            .withColumn("last_page",
                        (F.col("page_num") == 1).cast("double")))
    return classify_native(feat, _FROZEN_MODEL).select("doc_id", "k", "label")


def _trainable_oracle() -> str:
    from edspdf_spark.operators.trainable import FEATURES

    m = _FROZEN_MODEL

    def score(j: int) -> str:
        parts = [f"CAST('{m['b'][j]!r}' AS DOUBLE)"]
        for i, feat in enumerate(FEATURES):
            parts.append(
                f"CAST('{m['W'][j][i]!r}' AS DOUBLE) * ((f.{feat} - "
                f"CAST('{m['mu'][i]!r}' AS DOUBLE)) / "
                f"CAST('{m['sigma'][i]!r}' AS DOUBLE))")
        return " + ".join(parts)

    labels = m["labels"]
    best = f"'{labels[0]}'"
    best_v = f"s0"
    sel = ", ".join(f"({score(j)}) AS s{j}" for j in range(len(labels)))
    for j in range(1, len(labels)):
        best = f"CASE WHEN s{j} > {best_v} THEN '{labels[j]}' ELSE {best} END"
        best_v = f"CASE WHEN s{j} > {best_v} THEN s{j} ELSE {best_v} END"
    return f"""
WITH f AS (
  SELECT b.*, b.x1 - b.x0 AS width, b.y1 - b.y0 AS height,
         CASE WHEN b.page_num = 0 THEN CAST(1 AS DOUBLE)
              ELSE CAST(0 AS DOUBLE) END AS first_page,
         CASE WHEN b.page_num = 1 THEN CAST(1 AS DOUBLE)
              ELSE CAST(0 AS DOUBLE) END AS last_page
  FROM {DERIVED_BLOCS_SQL} b
),
scored AS (SELECT doc_id, k, {sel} FROM f)
SELECT doc_id, k, {best} AS label FROM scored
"""


# extra payloads exercising every magic-byte branch of the sniffer
# (the synth corpus is all-PDF); deterministic literals, shared by the
# Spark query and the oracle derivation
_MULTIMODAL_EXTRA: list[tuple[str, bytes]] = [
    ("x-png", b"\x89PNG\r\n\x1a\n" + b"\x00" * 16),
    ("x-jpeg", b"\xff\xd8\xff\xe0\x00\x10JFIF"),
    ("x-gif", b"GIF89a\x01\x00"),
    ("x-riff", b"RIFF\x24\x00\x00\x00WAVE"),
    ("x-html", b"<html><body>hi</body></html>"),
    ("x-doctype", b"<!DOCTYPE html><p>x</p>"),
    ("x-unknown", b"\x00\x01\x02"),
    ("x-empty", b""),
]


def q_multimodal_meta(spark, sf_dir):
    """Binary metadata + stubbed feature extraction over synthetic
    payloads (media DECODE is stubbed — libs absent by design — but the
    metadata/shape columns are exact and oracled as a closed-form
    literal derived from the same deterministic recipe)."""
    pages = synth.pages_spark(spark, 40, num_partitions=4) \
        .select("url", "html")
    extra = spark.createDataFrame(_MULTIMODAL_EXTRA,
                                  "url string, html binary")
    pages = pages.unionByName(extra)
    meta = binary_metadata(pages)
    feats = extract_features(pages, dim=8).select(
        "id", F.col("n_bytes").alias("n_bytes_feat"),
        F.size("feature").alias("feature_dim"))
    return meta.join(feats, "id")


# deterministic PNG corpus: (url, width, height, seed, color_type) —
# gray/rgb/rgba, sizes chosen so every scanline filter (row % 5)
# appears, plus a non-PNG and a corrupt payload (width -1 contract)
_PNG_PARAMS: list[tuple[str, int, int, int, int]] = [
    ("png-gray", 9, 7, 1, 0),
    ("png-rgb", 12, 6, 2, 2),
    ("png-rgba", 5, 11, 3, 6),
    ("png-wide", 33, 5, 4, 2),
    ("png-tall", 3, 17, 5, 0),
]


def q_png_decode(spark, sf_dir):
    """REAL PNG decode (stdlib-zlib codec: chunk walk, CRC, IDAT
    inflate, all five filters inverted) over deterministic synth
    images; integer-exact stats with a position-sensitive checksum.
    The oracle recomputes every stat from the pixel FORMULA — it
    never touches the codec, so a misdecoded byte anywhere fails the
    hash."""
    from edspdf_spark.operators.multimodal import (PNG_MAGIC,
                                                   make_png_bytes,
                                                   png_pixel_stats)

    rows = [(url, make_png_bytes(w, h, seed=s, color_type=ct))
            for url, w, h, s, ct in _PNG_PARAMS]
    rows += [("not-png", b"GIF89a\x01\x00"),
             ("corrupt-png", PNG_MAGIC + b"\x00" * 12)]
    df = spark.createDataFrame(rows, "url string, html binary")
    return png_pixel_stats(df)


def _png_decode_oracle() -> str:
    """Closed-form VALUES literal from png_pixel_value — decode-free."""
    from edspdf_spark.operators.multimodal import (_PNG_CHANNELS,
                                                   png_pixel_value)

    recs = []
    for url, w, h, seed, ct in _PNG_PARAMS:
        ch = _PNG_CHANNELS[ct]
        vals = [png_pixel_value(x, y, c, seed)
                for y in range(h) for x in range(w) for c in range(ch)]
        cs = sum(v * ((i % 97) + 1) for i, v in enumerate(vals))
        recs.append((url, w, h, ch, len(vals), sum(vals),
                     min(vals), max(vals), cs))
    recs += [("not-png", -1, 0, 0, 0, 0, 0, 0, 0),
             ("corrupt-png", -1, 0, 0, 0, 0, 0, 0, 0)]
    vals_sql = ",\n  ".join(
        "(" + ", ".join([f"'{r[0]}'"] + [str(v) for v in r[1:]]) + ")"
        for r in recs)
    cols = ["width", "height", "channels", "n_vals", "sum_val",
            "min_val", "max_val", "checksum"]
    sel = ", ".join(f"CAST(col{i + 1} AS BIGINT) AS {c}"
                    for i, c in enumerate(cols))
    return (f"SELECT col0 AS id, {sel}\nFROM (VALUES {vals_sql}) "
            f"t(col0, {', '.join(f'col{i + 1}' for i in range(8))})")


def _multimodal_oracle() -> str:
    """Closed-form expected output: the synth payloads are
    deterministic, so (n_bytes, magic, media type, feature dim) are
    derived here INDEPENDENTLY (plain bytes inspection, not the
    operator's expressions) and emitted as a VALUES literal."""
    magics = [("25504446", "pdf"), ("89504e47", "png"), ("ffd8ff", "jpeg"),
              ("47494638", "gif"), ("52494646", "riff"),
              ("3c68746d6c", "html"), ("3c21444f43", "html")]

    def sniff(payload: bytes) -> str:
        h = payload[:8].hex()
        for magic, name in magics:
            if h.startswith(magic):
                return name
        return "unknown"

    rows = []
    payloads = [(url, html) for url, _ts, html, _t, _l
                in synth.iter_pages(40)] + _MULTIMODAL_EXTRA
    for url, payload in payloads:
        rows.append(f"('{url}', {len(payload)}, '{payload[:8].hex()[:8]}', "
                    f"'{sniff(payload)}', {len(payload)}, 8)")
    vals = ",\n  ".join(rows)
    return f"""
SELECT col0 AS id, CAST(col1 AS INTEGER) AS n_bytes, col2 AS magic_hex,
       col3 AS media_type, CAST(col4 AS INTEGER) AS n_bytes_feat,
       CAST(col5 AS INTEGER) AS feature_dim
FROM (VALUES {vals}) t(col0, col1, col2, col3, col4, col5)
"""


def q_events_hourly(spark, sf_dir):
    """Batch twin of the STREAMING windowed aggregation
    (streaming/windowed.windowed_event_counts — same operator, batch
    input) over the events table PLUS a deterministic late-arrival
    fixture: every 17th event re-arrives (processing time later,
    event time unchanged — within the 2 h watermark). Event-time
    window semantics demand the re-emit lands in its own ts window
    and bumps that window's count/sum; the oracle aggregates the
    identical union, so the driver hash pins exactly that."""
    from edspdf_spark.streaming.windowed import windowed_event_counts

    ev = _events(spark, sf_dir).select("event_id", "ts",
                                       "event_type", "value")
    late = ev.where(F.col("event_id") % 17 == 0)
    return windowed_event_counts(ev.unionByName(late).drop("event_id"))


def q_tpch_q1(spark, sf_dir):
    li = _lineitem(spark, sf_dir)
    d = F.round(F.col("l_discount") * 100).cast("bigint")
    t = F.round(F.col("l_tax") * 100).cast("bigint")
    cents = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    return (li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
                 F.sum(cents).alias("sum_base_price_cents"),
                 F.sum(cents * (100 - d)).alias("sum_disc_price_c2"),
                 F.sum(cents * (100 - d) * (100 + t)).alias("sum_charge_c3"),
                 F.count("*").alias("count_order")))


# --- link graph + PageRank ---------------------------------------------
# A deterministic linked corpus built closed-form from doc_id: page of
# host h(doc_id % 23) links to hosts h((3i+1)%23), h((7i+3)%23) and —
# every 4th doc — h((11i+5)%23), plus one relative link that must be
# filtered. The Spark side renders the HTML and regex-EXTRACTS the
# links; the pagerank oracle derives the edge set closed-form instead
# (independent path), so both the extraction and the iteration are
# cross-checked.

_PR_SCALE = 10 ** 12
_PR_DAMP = 85
_PR_ITERS = 4


def _linked_pages(spark, sf_dir):
    d = _docs(spark, sf_dir).select("doc_id")
    i = F.col("doc_id")
    host = lambda e: F.concat(  # noqa: E731
        F.lit("https://h"), (e % 23).cast("string"), F.lit(".example.com"))
    html = F.concat(
        F.lit('<nav><a href="/rel">home</a></nav><p>see <a class="x" href="'),
        host(3 * i + 1), F.lit('/p">read doc '), (i % 7).cast("string"),
        F.lit('</a> and <A HREF="'),
        host(7 * i + 3), F.lit('/q">guide '), (i % 5).cast("string"),
        F.lit("</A>"),
        F.when(i % 4 == 0,
               F.concat(F.lit('<a href="'), host(11 * i + 5),
                        F.lit('/r">three</a>')))
         .otherwise(F.lit("")),
        F.lit("</p>"))
    url = F.concat(host(i), F.lit("/doc/"), i.cast("string"))
    return d.select(url.alias("url"), html.alias("html"))


def q_link_graph(spark, sf_dir):
    from edspdf_spark.operators.graph import extract_links, host_edges

    return host_edges(extract_links(_linked_pages(spark, sf_dir)))


_LP_SEEDS = [("h0.example.com", 1), ("h1.example.com", 0),
             ("h2.example.com", 1)]
_LP_ITERS = 2


def q_host_label_prop(spark, sf_dir):
    from edspdf_spark.operators.graph import (extract_links, host_edges,
                                              host_label_propagation)

    edges = host_edges(extract_links(_linked_pages(spark, sf_dir)))
    seeds = spark.createDataFrame(_LP_SEEDS, "host string, label int")
    return host_label_propagation(edges, seeds, iterations=_LP_ITERS)


def _label_prop_oracle(iterations: int = _LP_ITERS) -> str:
    seed_vals = ", ".join(f"('{h}', {v})" for h, v in _LP_SEEDS)
    parts = [f"""raw AS (
  SELECT doc_id % 23 AS s, (3*doc_id+1) % 23 AS t FROM documents
  UNION ALL SELECT doc_id % 23, (7*doc_id+3) % 23 FROM documents
  UNION ALL SELECT doc_id % 23, (11*doc_id+5) % 23 FROM documents
    WHERE doc_id % 4 = 0),
e AS (SELECT DISTINCT 'h' || CAST(s AS VARCHAR) || '.example.com' AS src_host,
                      'h' || CAST(t AS VARCHAR) || '.example.com' AS dst_host
      FROM raw WHERE s <> t),
nodes AS (SELECT src_host AS host FROM e
          UNION SELECT dst_host AS host FROM e),
seeds(shost, seed) AS (VALUES {seed_vals}),
s0 AS (SELECT n.host, s.seed,
              CAST(coalesce(s.seed * 1000, 500) AS BIGINT) AS sc
       FROM nodes n LEFT JOIN seeds s ON n.host = s.shost)"""]
    for it in range(1, iterations + 1):
        parts.append(f"""x{it} AS (
  SELECT e.dst_host AS host, CAST(sum(p.sc) AS BIGINT) AS s,
         CAST(count(*) AS BIGINT) AS n
  FROM e JOIN s{it - 1} p ON e.src_host = p.host
  GROUP BY e.dst_host)""")
        parts.append(f"""s{it} AS (
  SELECT p.host, p.seed,
         CASE WHEN p.seed IS NOT NULL THEN CAST(p.seed * 1000 AS BIGINT)
              WHEN x.s IS NOT NULL THEN x.s // x.n
              ELSE p.sc END AS sc
  FROM s{it - 1} p LEFT JOIN x{it} x ON p.host = x.host)""")
    return ("WITH " + ",\n".join(parts) + f"""
SELECT host, sc AS score_scaled,
       CASE WHEN sc > 700 THEN 'spam'
            WHEN sc < 300 THEN 'ham'
            ELSE 'unknown' END AS verdict
FROM s{iterations}""")


def q_host_degrees(spark, sf_dir):
    from edspdf_spark.operators.graph import (extract_links, host_degrees,
                                              host_edges)

    return host_degrees(
        host_edges(extract_links(_linked_pages(spark, sf_dir))))


_HOST_DEGREES_ORACLE = """
WITH raw AS (
  SELECT doc_id % 23 AS s, (3*doc_id+1) % 23 AS t FROM documents
  UNION ALL SELECT doc_id % 23, (7*doc_id+3) % 23 FROM documents
  UNION ALL SELECT doc_id % 23, (11*doc_id+5) % 23 FROM documents
    WHERE doc_id % 4 = 0),
e AS (SELECT DISTINCT 'h' || CAST(s AS VARCHAR) || '.example.com' AS src_host,
                      'h' || CAST(t AS VARCHAR) || '.example.com' AS dst_host
      FROM raw WHERE s <> t),
od AS (SELECT src_host AS host, CAST(count(*) AS BIGINT) AS out_deg
       FROM e GROUP BY src_host),
idg AS (SELECT dst_host AS host, CAST(count(*) AS BIGINT) AS in_deg
        FROM e GROUP BY dst_host),
rc AS (SELECT a.src_host AS host, CAST(count(*) AS BIGINT) AS reciprocal
       FROM e a JOIN e b
         ON a.src_host = b.dst_host AND a.dst_host = b.src_host
       GROUP BY a.src_host),
base AS (
  SELECT coalesce(od.host, idg.host) AS host,
         coalesce(od.out_deg, 0) AS out_deg,
         coalesce(idg.in_deg, 0) AS in_deg
  FROM od FULL OUTER JOIN idg ON od.host = idg.host)
SELECT b.host, b.out_deg, b.in_deg,
       coalesce(rc.reciprocal, 0) AS reciprocal,
       CASE WHEN b.out_deg = 0 THEN 0
            ELSE (1000 * coalesce(rc.reciprocal, 0)) // b.out_deg
       END AS recip_milli
FROM base b LEFT JOIN rc ON b.host = rc.host
"""


def q_anchor_terms(spark, sf_dir):
    from edspdf_spark.operators.graph import anchor_terms, extract_anchors

    return anchor_terms(extract_anchors(_linked_pages(spark, sf_dir)))


def q_host_pagerank(spark, sf_dir):
    from edspdf_spark.operators.graph import (extract_links, host_edges,
                                              host_pagerank)

    edges = host_edges(extract_links(_linked_pages(spark, sf_dir)))
    return host_pagerank(edges, iterations=_PR_ITERS,
                         damping_pct=_PR_DAMP, scale=_PR_SCALE)


_LINKED_PAGES_SQL = """
  (SELECT 'https://h' || CAST(doc_id % 23 AS VARCHAR)
            || '.example.com/doc/' || CAST(doc_id AS VARCHAR) AS url,
          '<nav><a href="/rel">home</a></nav><p>see <a class="x" href="https://h'
            || CAST((3*doc_id+1) % 23 AS VARCHAR)
            || '.example.com/p">read doc ' || CAST(doc_id % 7 AS VARCHAR)
            || '</a> and <A HREF="https://h'
            || CAST((7*doc_id+3) % 23 AS VARCHAR)
            || '.example.com/q">guide ' || CAST(doc_id % 5 AS VARCHAR)
            || '</A>'
            || CASE WHEN doc_id % 4 = 0 THEN '<a href="https://h'
                 || CAST((11*doc_id+5) % 23 AS VARCHAR)
                 || '.example.com/r">three</a>' ELSE '' END
            || '</p>' AS html
   FROM documents)
"""


def _pagerank_oracle(iterations: int = _PR_ITERS) -> str:
    """Unrolled exact-integer PageRank; edges derived CLOSED-FORM
    (not via regex) so the oracle is an independent derivation."""
    parts = [f"""raw AS (
  SELECT doc_id % 23 AS s, (3*doc_id+1) % 23 AS t FROM documents
  UNION ALL SELECT doc_id % 23, (7*doc_id+3) % 23 FROM documents
  UNION ALL SELECT doc_id % 23, (11*doc_id+5) % 23 FROM documents
    WHERE doc_id % 4 = 0),
e AS (SELECT DISTINCT 'h' || CAST(s AS VARCHAR) || '.example.com' AS src_host,
                      'h' || CAST(t AS VARCHAR) || '.example.com' AS dst_host
      FROM raw WHERE s <> t),
nodes AS (SELECT src_host AS host FROM e
          UNION SELECT dst_host AS host FROM e),
n AS (SELECT {_PR_SCALE} // CAST(count(*) AS BIGINT) AS r0,
             (100 - {_PR_DAMP}) * ({_PR_SCALE} // CAST(count(*) AS BIGINT))
               // 100 AS tele
      FROM nodes),
outdeg AS (SELECT src_host, CAST(count(*) AS BIGINT) AS outdeg
           FROM e GROUP BY src_host),
r0 AS (SELECT host, (SELECT r0 FROM n) AS rank_scaled FROM nodes)"""]
    for it in range(1, iterations + 1):
        parts.append(f"""c{it} AS (
  SELECT e.dst_host AS host,
         CAST(sum(r.rank_scaled // o.outdeg) AS BIGINT) AS contrib
  FROM e JOIN r{it - 1} r ON e.src_host = r.host
         JOIN outdeg o ON e.src_host = o.src_host
  GROUP BY e.dst_host)""")
        parts.append(f"""r{it} AS (
  SELECT nodes.host,
         (SELECT tele FROM n)
           + ({_PR_DAMP} * COALESCE(c.contrib, 0)) // 100 AS rank_scaled
  FROM nodes LEFT JOIN c{it} c ON nodes.host = c.host)""")
    return ("WITH " + ",\n".join(parts) +
            f"\nSELECT host, rank_scaled, CAST(rank_scaled AS DOUBLE) / "
            f"{_PR_SCALE} AS rank FROM r{iterations}")


def q_chunk_windows(spark, sf_dir):
    from edspdf_spark.operators.pack import chunk_windows

    return chunk_windows(_docs(spark, sf_dir), window=64, stride=48)


# derived multi-paragraph corpus: boilerplate-framed body slices so
# every class (short / good / near-good / bad) and both context
# directions occur; the expression is portable Spark-SQL + DuckDB
_PARA_TEXT_SQL = (
    "'menu' || chr(10) || substr(text, 1, 150) || chr(10) || "
    "'copyright 2024 example inc all rights reserved legal notice' || "
    "chr(10) || 'more' || chr(10) || substr(text, 151, 150)")


def q_paragraph_classify(spark, sf_dir):
    from edspdf_spark.operators.analysis import paragraph_classify

    docs = _docs(spark, sf_dir).selectExpr(
        "doc_id", f"{_PARA_TEXT_SQL} AS text")
    return paragraph_classify(docs, FUNNEL_STOPWORDS)


def _paragraph_oracle() -> str:
    from edspdf_spark.operators.analysis import (PARA_LEN_SHORT,
                                                 PARA_STOP_HI_MILLI,
                                                 PARA_STOP_LO_MILLI)

    stoplist = ", ".join(f"'{w}'" for w in FUNNEL_STOPWORDS)
    return f"""
WITH docs AS (SELECT doc_id AS id, {_PARA_TEXT_SQL} AS text
              FROM documents),
px AS (
  SELECT id, u.idx AS para_idx, u.para AS para FROM (
    SELECT id, unnest(list_transform(
        generate_series(1, len(string_split(text, chr(10)))),
        i -> {{'idx': i - 1,
               'para': string_split(text, chr(10))[i]}})) AS u
    FROM docs)
  ),
keepx AS (SELECT * FROM px WHERE trim(para) <> ''),
sig AS (
  SELECT id, CAST(para_idx AS BIGINT) AS para_idx,
         CAST(length(para) AS BIGINT) AS n_chars,
         CAST(len(list_filter(string_split(para, ' '), t -> t <> ''))
              AS BIGINT) AS n_tokens,
         CAST(len(list_filter(string_split(para, ' '),
                              t -> t IN ({stoplist})))
              AS BIGINT) AS n_stop
  FROM keepx),
cls AS (
  SELECT id, para_idx, n_chars, n_tokens, stop_milli,
         CASE WHEN n_chars < {PARA_LEN_SHORT} THEN 'short'
              WHEN stop_milli >= {PARA_STOP_HI_MILLI} THEN 'good'
              WHEN stop_milli >= {PARA_STOP_LO_MILLI} THEN 'near-good'
              ELSE 'bad' END AS init_class
  FROM (SELECT *, (1000 * n_stop) // greatest(n_tokens, 1)
               AS stop_milli
        FROM sig)),
ctx AS (
  SELECT *,
         last_value(CASE WHEN init_class IN ('good', 'bad')
                         THEN init_class END IGNORE NULLS)
           OVER (PARTITION BY id ORDER BY para_idx
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prev_ctx,
         first_value(CASE WHEN init_class IN ('good', 'bad')
                          THEN init_class END IGNORE NULLS)
           OVER (PARTITION BY id ORDER BY para_idx
                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
           AS next_ctx
  FROM cls)
SELECT id, para_idx, n_chars, n_tokens, stop_milli, init_class,
       CASE WHEN init_class IN ('good', 'bad') THEN init_class
            WHEN prev_ctx = 'good' OR next_ctx = 'good' THEN 'good'
            ELSE 'bad' END AS final_class
FROM ctx
"""


# Injected synthetic ids (excerpts, bloom probes, snapshot re-adds,
# normalized mirrors) live at doc_id + k*10^15 — three orders of
# magnitude above the 10^12-doc design scale, so they can never alias
# real doc_ids (r3 ADVICE: the old +2e6 offsets collided past ~2M
# docs). Kept ABOVE the real key space (not negative) so min-id keep
# rules still prefer the original over its injected copy.
CORPUS_EXCERPT_SQL = """
  (SELECT doc_id, text FROM documents
   UNION ALL
   SELECT doc_id + 2000000000000000 AS doc_id, substr(text, 1, 120) AS text
   FROM documents WHERE doc_id % 9 = 0)
"""


def q_edit_verified(spark, sf_dir):
    """LSH candidates exact-verified by character edit distance."""
    from edspdf_spark.operators.dedup import edit_verified_pairs

    corpus = _corpus_near(spark, sf_dir)
    pairs = minhash_lsh_pairs(corpus, k=3, n_hashes=8, band_size=2,
                              threshold=0.5)
    return edit_verified_pairs(corpus, pairs, max_dist_milli=100)


def q_containment_pairs(spark, sf_dir):
    """Excerpt corpus: every 9th doc contributes a 120-char prefix
    copy — near-total containment in its source while the symmetric
    jaccard is small (the case this operator exists for)."""
    from edspdf_spark.operators.dedup import containment_pairs

    d = _docs(spark, sf_dir, spread=False).select("doc_id", "text")
    exc = (d.where(F.col("doc_id") % 9 == 0)
           .select((F.col("doc_id") + 2000000000000000).alias("doc_id"),
                   F.expr("substr(text, 1, 120)").alias("text")))
    sh = shingle_table(d.unionByName(exc), k=3)
    return containment_pairs(sh, threshold=0.7, min_intersect=3,
                             max_doc_freq=256)


# head-section corpus for page-metadata extraction: title always,
# noindex on every 3rd page, canonical on every 4th
_META_HTML_SQL = """
'<head><TITLE>Doc ' || CAST(doc_id AS VARCHAR(12)) || ' guide</TITLE>'
|| CASE WHEN doc_id % 3 = 0
        THEN '<meta name="robots" content="NOINDEX, follow">'
        ELSE '<meta name="robots" content="index, follow">' END
|| CASE WHEN doc_id % 4 = 0
        THEN '<link rel="canonical" href="https://canon.example.com/d/'
             || CAST(doc_id % 50 AS VARCHAR(8)) || '">'
        ELSE '' END
|| '</head><body>x</body>'
"""


def q_html_meta(spark, sf_dir):
    from edspdf_spark.operators.graph import html_meta

    pages = _docs(spark, sf_dir).selectExpr(
        "'https://example.org/doc/' || CAST(doc_id AS VARCHAR(12)) AS url",
        f"{_META_HTML_SQL} AS html")
    return html_meta(pages)


_META_ORACLE = """
WITH pages AS (
  SELECT 'https://example.org/doc/' || CAST(doc_id AS VARCHAR(12)) AS url,
         {html} AS html
  FROM documents),
x AS (
  SELECT url,
         list_extract(regexp_extract_all(html,
           '(?i)<title[^>]*>([^<]*)</title>', 1), 1) AS title,
         lower(coalesce(list_extract(regexp_extract_all(html,
           '(?i)<meta\\s[^>]*name="robots"[^>]*content="([^"]*)"', 1),
           1), '')) AS robots,
         list_extract(regexp_extract_all(html,
           '(?i)<link\\s[^>]*rel="canonical"[^>]*href="([^"]*)"', 1),
           1) AS canonical
  FROM pages)
SELECT url, title, robots, robots LIKE '%noindex%' AS has_noindex,
       canonical
FROM x
"""


def q_canonical_dedup(spark, sf_dir):
    """Pages sharing a rel=canonical target collapse to one
    representative BEFORE content dedup ever runs (the html_meta
    use-case): key = canonical if present else the page url."""
    from edspdf_spark.operators.graph import html_meta

    pages = _docs(spark, sf_dir, spread=False).selectExpr(
        "'https://example.org/doc/' || CAST(doc_id AS VARCHAR(12)) AS url",
        f"{_META_HTML_SQL} AS html")
    meta = html_meta(pages)
    key = F.coalesce(F.col("canonical"), F.col("url"))
    return (meta.groupBy(key.alias("canon_key"))
            .agg(F.count(F.lit(1)).alias("n_pages"),
                 F.min("url").alias("keep_url"),
                 F.max(F.col("canonical").isNotNull())
                 .alias("was_canonicalized")))


_CANONICAL_DEDUP_ORACLE = """
WITH meta AS ({meta})
SELECT coalesce(canonical, url) AS canon_key,
       CAST(count(*) AS BIGINT) AS n_pages,
       min(url) AS keep_url,
       bool_or(canonical IS NOT NULL) AS was_canonicalized
FROM meta
GROUP BY coalesce(canonical, url)
"""


# messy-host corpus for registered-domain extraction: multi-label
# PSL suffix, deep subdomains, uppercase+port, single-label host
_REGDOM_URL_SQL = """
CASE doc_id % 5
  WHEN 0 THEN 'https://www.shop' || CAST(doc_id % 7 AS VARCHAR(8))
    || '.example.co.uk/p/' || CAST(doc_id AS VARCHAR(12))
  WHEN 1 THEN 'http://a' || CAST(doc_id % 7 AS VARCHAR(8))
    || '.blog.example.com/x'
  WHEN 2 THEN 'https://Host' || CAST(doc_id % 7 AS VARCHAR(8))
    || '.COM.AU:8080/y'
  WHEN 3 THEN 'http://single' || CAST(doc_id % 7 AS VARCHAR(8)) || '/z'
  ELSE 'https://news.site' || CAST(doc_id % 7 AS VARCHAR(8)) || '.org/a'
END
"""


def q_registered_domain(spark, sf_dir):
    from edspdf_spark.operators.urls import registered_domain

    u = _docs(spark, sf_dir).selectExpr(f"{_REGDOM_URL_SQL} AS url")
    return registered_domain(u)


def _regdom_oracle() -> str:
    from edspdf_spark.operators.urls import PSL_MULTI_SUFFIXES

    psl = ", ".join(f"'{s}'" for s in PSL_MULTI_SUFFIXES)
    return f"""
WITH u AS (SELECT {_REGDOM_URL_SQL} AS url FROM documents),
h AS (SELECT url,
             lower(split_part(split_part(split_part(url, '//', 2),
                                         '/', 1), ':', 1)) AS host
      FROM u),
l AS (SELECT url, host, string_split(host, '.') AS ls FROM h)
SELECT url, host,
       CASE WHEN len(ls) >= 3 AND
                 (ls[len(ls)-1] || '.' || ls[len(ls)]) IN ({psl})
            THEN ls[len(ls)-2] || '.' || ls[len(ls)-1] || '.'
                 || ls[len(ls)]
            WHEN len(ls) >= 2
            THEN ls[len(ls)-1] || '.' || ls[len(ls)]
            ELSE host END AS reg_domain,
       ls[len(ls)] AS tld
FROM l
"""


# deterministic robots corpus: '*' group with allow-override, an
# agent-specific group on odd hosts, a wildcard rule (subset-skipped)
# on doc_id%4==1, and an inapplicable-agent-only file on doc_id%5==3
_ROBOTS_TXT_SQL = """
CASE WHEN doc_id % 5 = 3
     THEN 'User-agent: other' || chr(10) || 'Disallow: /'
       || chr(10) || 'Sitemap: https://h' || CAST(doc_id AS VARCHAR(4))
       || '.example.com/sitemap.xml'
     ELSE '# policy' || chr(10)
       || 'User-agent: *' || chr(10)
       || 'Disallow: /private/' || chr(10)
       || 'Allow: /private/pub/' || chr(10)
       || 'Crawl-delay: 5'
       || CASE WHEN doc_id % 2 = 1
               THEN chr(10) || 'User-agent: spark-graft' || chr(10)
                 || 'Disallow: /tmp/' || chr(10) || 'Crawl-delay: 7'
               ELSE '' END
       || CASE WHEN doc_id % 4 = 1
               THEN chr(10) || 'Disallow: /x*y' || chr(10)
                 || 'Crawl-delay: 2.5'
               ELSE '' END
       || CASE WHEN doc_id % 3 = 0
               THEN chr(10) || 'Sitemap: https://h'
                 || CAST(doc_id AS VARCHAR(4))
                 || '.example.com/sitemap.xml'
               ELSE '' END
END
"""

_ROBOTS_URL_SQL = """
'https://h' || CAST(doc_id % 10 AS VARCHAR(4)) || '.example.com' ||
CASE doc_id % 6
  WHEN 0 THEN '/'
  WHEN 1 THEN '/private/x'
  WHEN 2 THEN '/private/pub/y'
  WHEN 3 THEN '/tmp/z'
  WHEN 4 THEN '/open/' || CAST(doc_id AS VARCHAR(12))
  ELSE '' END
"""


def q_robots_filter(spark, sf_dir):
    from edspdf_spark.operators.robots import (robots_rules,
                                               robots_verdicts)

    robots = _docs(spark, sf_dir, spread=False).where("doc_id < 10").selectExpr(
        "'h' || CAST(doc_id AS VARCHAR(4)) || '.example.com' AS host",
        f"{_ROBOTS_TXT_SQL} AS robots_txt")
    rules = robots_rules(robots, agent="spark-graft")
    frontier = _docs(spark, sf_dir, spread=False).selectExpr(
        f"{_ROBOTS_URL_SQL} AS url")
    return robots_verdicts(frontier, rules)


_ROBOTS_ORACLE = """
WITH robots AS (
  SELECT 'h' || CAST(doc_id AS VARCHAR(4)) || '.example.com' AS host,
         {txt} AS robots_txt
  FROM documents WHERE doc_id < 10),
lx AS (
  SELECT host, u.idx AS idx, trim(u.raw) AS l0 FROM (
    SELECT host, unnest(list_transform(
        generate_series(1, len(string_split(
            replace(robots_txt, chr(13), ''), chr(10)))),
        i -> {{'idx': i - 1,
               'raw': string_split(replace(robots_txt, chr(13), ''),
                                   chr(10))[i]}})) AS u
    FROM robots)),
cl AS (
  SELECT host, idx,
         trim(CASE WHEN strpos(l0, '#') > 0
                   THEN substr(l0, 1, strpos(l0, '#') - 1)
                   ELSE l0 END) AS line
  FROM lx),
parsed AS (
  SELECT host, idx, line,
         lower(trim(split_part(line, ':', 1))) AS directive,
         CASE WHEN strpos(line, ':') > 0
              THEN trim(substr(line, strpos(line, ':') + 1))
              ELSE '' END AS value
  FROM cl WHERE line <> ''),
flags AS (
  SELECT *,
         CASE WHEN directive = 'user-agent' THEN 1 ELSE 0 END AS is_ua
  FROM parsed),
prevs AS (
  SELECT *,
         coalesce(lag(is_ua) OVER (PARTITION BY host ORDER BY idx), 0)
           AS prev_ua
  FROM flags),
grp AS (
  SELECT *,
         sum(CASE WHEN is_ua = 1 AND prev_ua = 0 THEN 1 ELSE 0 END)
           OVER (PARTITION BY host ORDER BY idx
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS group_id
  FROM prevs),
uas0 AS (
  SELECT host, group_id,
         bool_or(lower(value) = 'spark-graft') AS lit_match,
         bool_or(value = '*') AS star_match
  FROM grp WHERE is_ua = 1 GROUP BY host, group_id),
uas AS (
  SELECT host, group_id,
         lit_match OR (star_match AND NOT
           bool_or(lit_match) OVER (PARTITION BY host)) AS applies
  FROM uas0),
rules AS (
  SELECT g.host, g.directive = 'allow' AS is_allow,
         g.value AS rule_path,
         CAST(length(g.value) AS BIGINT) AS plen
  FROM grp g JOIN uas u ON g.host = u.host AND g.group_id = u.group_id
  WHERE g.directive IN ('allow', 'disallow') AND g.value <> ''
    AND strpos(g.value, '*') = 0 AND strpos(g.value, '$') = 0
    AND u.applies),
frontier AS (SELECT {url} AS url FROM documents),
base AS (
  SELECT url,
         lower(split_part(split_part(url, '//', 2), '/', 1)) AS host,
         CASE WHEN strpos(split_part(url, '//', 2), '/') > 0
              THEN substr(split_part(url, '//', 2),
                          strpos(split_part(url, '//', 2), '/'))
              ELSE '/' END AS path
  FROM frontier),
hits AS (
  SELECT b.url, b.host, b.path, r.is_allow, r.plen,
         row_number() OVER (PARTITION BY b.url, b.host, b.path
                            ORDER BY r.plen DESC, r.is_allow DESC)
           AS rn
  FROM base b JOIN rules r
    ON b.host = r.host AND starts_with(b.path, r.rule_path))
SELECT DISTINCT b.url, b.host, b.path,
       coalesce(h.is_allow, TRUE) AS allowed,
       coalesce(h.plen, 0) AS match_len
FROM base b
LEFT JOIN (SELECT * FROM hits WHERE rn = 1) h
  ON b.url = h.url
"""


# formatting-mirror corpus: every 6th doc re-appears uppercased with
# NBSP word gaps and trailing spaces — raw-byte dedup misses it, the
# normalized code must collapse it (the literal below contains a real
# U+00A0, legal in both engines' string literals)
_NORM_MIRROR_SQL = """
  (SELECT doc_id, text FROM documents
   UNION ALL
   SELECT doc_id + 4000000000000000 AS doc_id,
          upper(replace(text, ' ', ' ')) || '  ' AS text
   FROM documents WHERE doc_id % 6 = 0)
"""


def q_normalized_dedup(spark, sf_dir):
    from edspdf_spark.operators.analysis import normalize_text

    d = _docs(spark, sf_dir).select("doc_id", "text")
    mirror = d.where(F.col("doc_id") % 6 == 0).select(
        (F.col("doc_id") + 4000000000000000).alias("doc_id"),
        F.expr("upper(replace(text, ' ', ' ')) || '  '")
        .alias("text"))
    corpus = d.unionByName(mirror)
    norm = normalize_text(corpus)
    raw = corpus.select(F.col("doc_id").alias("id"),
                        F.md5("text").alias("raw_md5"))
    return (norm.join(raw, "id")
            .groupBy("norm_code")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.min("id").alias("keep_id"),
                 F.countDistinct("raw_md5").alias("n_raw_variants")))


def _normalized_dedup_oracle() -> str:
    from edspdf_spark.operators.analysis import PUNCT_FOLD_MAP

    cur = "lower(text)"
    for bad, good in PUNCT_FOLD_MAP:
        g = good.replace("'", "''")
        b = bad.replace("'", "''")
        cur = f"replace({cur}, '{b}', '{g}')"
    cur = f"trim(regexp_replace({cur}, ' +', ' ', 'g'))"
    return f"""
WITH corpus AS (SELECT * FROM {_NORM_MIRROR_SQL} t),
n AS (SELECT doc_id AS id, md5(text) AS raw_md5,
             ('0x' || substr(md5({cur}), 1, 15))::BIGINT AS norm_code
      FROM corpus)
SELECT norm_code, CAST(count(*) AS BIGINT) AS n_docs,
       min(id) AS keep_id,
       CAST(count(DISTINCT raw_md5) AS BIGINT) AS n_raw_variants
FROM n GROUP BY norm_code
"""


def q_domain_top_terms(spark, sf_dir):
    from edspdf_spark.operators.analysis import domain_top_terms

    return domain_top_terms(_docs(spark, sf_dir), top_k=5)


_DOMAIN_TERMS_ORACLE = """
WITH toks AS (
  SELECT source AS domain,
         unnest(list_filter(string_split(text, ' '), t -> t <> ''))
           AS term
  FROM documents),
tf AS (SELECT domain, term, CAST(count(*) AS BIGINT) AS tf
       FROM toks GROUP BY domain, term),
dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df
          FROM tf GROUP BY term),
n AS (SELECT CAST(count(DISTINCT domain) AS BIGINT) AS n_domains
      FROM tf),
scored AS (
  SELECT tf.domain, tf.term, tf.tf, d.df,
         tf.tf * (length(bin(((SELECT n_domains FROM n) * 1048576)
                             // d.df)) - 1) AS score_scaled
  FROM tf JOIN dfreq d USING (term)),
r AS (SELECT *, row_number() OVER (
        PARTITION BY domain
        ORDER BY score_scaled DESC, tf DESC, term ASC) AS rk
      FROM scored)
SELECT domain, term, tf, df, CAST(score_scaled AS BIGINT) AS score_scaled,
       CAST(rk AS BIGINT) AS rk
FROM r WHERE rk <= 5
"""


def q_inverted_index(spark, sf_dir):
    from edspdf_spark.operators.index import inverted_index

    return inverted_index(_docs(spark, sf_dir))


_INVERTED_INDEX_ORACLE = """
WITH tk AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), x -> x <> '') AS t
  FROM documents),
px AS (
  SELECT doc_id, u.pos AS pos, u.term AS term FROM (
    SELECT doc_id, unnest(list_transform(
        generate_series(1, len(t)),
        i -> {'pos': i - 1, 'term': t[i]})) AS u
    FROM tk)),
post AS (
  SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf,
         array_to_string(array_agg(pos ORDER BY pos), ',') AS positions
  FROM px GROUP BY term, doc_id),
dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df
          FROM post GROUP BY term)
SELECT p.term, p.doc_id, p.tf, p.positions, d.df
FROM post p JOIN dfreq d USING (term)
"""


def q_cooc_pmi(spark, sf_dir):
    from edspdf_spark.operators.index import cooc_pairs

    return cooc_pairs(_docs(spark, sf_dir), window=2, min_count=5)


_COOC_ORACLE = """
WITH tk AS (
  SELECT list_filter(string_split(text, ' '), x -> x <> '') AS t
  FROM documents),
p1 AS (
  SELECT unnest(list_transform(
      generate_series(1, greatest(len(t) - 1, 0)),
      i -> {'a': t[i], 'b': t[i + 1]})) AS p
  FROM tk),
p2 AS (
  SELECT unnest(list_transform(
      generate_series(1, greatest(len(t) - 2, 0)),
      i -> {'a': t[i], 'b': t[i + 2]})) AS p
  FROM tk),
pairs AS (SELECT p.a AS a, p.b AS b FROM p1
          UNION ALL SELECT p.a, p.b FROM p2),
cp AS (SELECT a, b, CAST(count(*) AS BIGINT) AS c_pair
       FROM pairs GROUP BY a, b),
tot AS (SELECT CAST(count(*) AS BIGINT) AS total FROM pairs),
ct AS (SELECT tok, CAST(count(*) AS BIGINT) AS c
       FROM (SELECT unnest(t) AS tok FROM tk) GROUP BY tok)
SELECT cp.a, cp.b, cp.c_pair, ca.c AS c_a, cb.c AS c_b,
       CAST((length(bin(cp.c_pair)) - 1)
            + (length(bin((SELECT total FROM tot))) - 1)
            - (length(bin(ca.c)) - 1)
            - (length(bin(cb.c)) - 1) AS BIGINT) AS pmi_ilog2
FROM cp
JOIN ct ca ON cp.a = ca.tok
JOIN ct cb ON cp.b = cb.tok
WHERE cp.c_pair >= 5
"""


BM25_QUERY_TERMS = ["hash", "join", "window"]


def q_bm25_topk(spark, sf_dir):
    from edspdf_spark.operators.index import bm25_topk

    return bm25_topk(_docs(spark, sf_dir, spread=False), BM25_QUERY_TERMS,
                     top_k=20)


_BM25_ORACLE = """
WITH tk AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), x -> x <> '') AS t
  FROM documents),
dl AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl
       FROM tk WHERE len(t) > 0),
stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(dl) AS BIGINT) AS total_tokens FROM dl),
tok AS (SELECT doc_id, unnest(t) AS term FROM tk),
tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       FROM tok WHERE term IN ('hash', 'join', 'window')
       GROUP BY doc_id, term),
dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df
          FROM tf GROUP BY term),
sc AS (
  SELECT tf.doc_id,
         (length(bin((s.n_docs * 1048576) // d.df)) - 1)
         * ((tf.tf * 1000 * 2200) // (tf.tf * 1000 +
             ((1200 * (1000 - 750 +
               (750 * l.dl * s.n_docs) // s.total_tokens)) // 1000)))
           AS ts
  FROM tf JOIN dfreq d USING (term) JOIN dl l USING (doc_id)
  CROSS JOIN stats s),
agg AS (SELECT doc_id, CAST(sum(ts) AS BIGINT) AS score_scaled,
               CAST(count(*) AS BIGINT) AS n_hit_terms
        FROM sc GROUP BY doc_id),
r AS (SELECT *, CAST(row_number() OVER (
        ORDER BY score_scaled DESC, doc_id ASC) AS BIGINT) AS rk
      FROM agg)
SELECT doc_id, score_scaled, n_hit_terms, rk FROM r WHERE rk <= 20
"""


# internal-repeat corpus: a boilerplate line appears twice INSIDE
# each document — the within-doc pass must drop the second copy
_INTRA_TEXT_SQL = (
    "'duplicate boilerplate line' || chr(10) || text || chr(10) || "
    "'duplicate boilerplate line' || chr(10) || 'tail ' || "
    "CAST(doc_id % 5 AS VARCHAR(4))")


def q_intra_line_dedup(spark, sf_dir):
    from edspdf_spark.operators.dedup import intra_doc_line_dedup

    docs = _docs(spark, sf_dir).selectExpr(
        "doc_id", f"{_INTRA_TEXT_SQL} AS text")
    return intra_doc_line_dedup(docs)


_INTRA_LINE_ORACLE = f"""
WITH docs AS (SELECT doc_id AS id, {_INTRA_TEXT_SQL} AS text
              FROM documents),
l AS (SELECT id, string_split(text, chr(10)) AS ls FROM docs)
SELECT id,
       array_to_string(list_filter(ls, (x, i) ->
           length(x) < 10 OR list_position(ls, x) = i), chr(10))
         AS text,
       CAST(len(ls) AS BIGINT) AS n_lines,
       CAST(len(list_filter(ls, (x, i) ->
           length(x) < 10 OR list_position(ls, x) = i)) AS BIGINT)
         AS n_kept
FROM l
"""


def q_domain_hll(spark, sf_dir):
    from edspdf_spark.operators.analysis import hll_distinct_by

    return hll_distinct_by(_docs(spark, sf_dir, spread=False), "source", "text")


_DOMAIN_HLL_ORACLE = """
WITH h AS (SELECT source AS grp,
                  ('0x' || substr(md5(text), 1, 15))::BIGINT AS h
           FROM documents),
rho AS (SELECT grp, h % 64 AS b,
               CASE WHEN h // 64 > 0
                    THEN 54 - (length(bin(h // 64)) - 1)
                    ELSE 55 END AS rho
        FROM h),
regs AS (SELECT grp, b, max(rho) AS M FROM rho GROUP BY grp, b),
agg AS (SELECT grp, count(*)::BIGINT AS used_registers,
               sum(1::BIGINT << (55 - M))::BIGINT AS s_present
        FROM regs GROUP BY grp),
base AS (
  SELECT grp AS source, CAST(64 AS INTEGER) AS m, used_registers,
         (64 - used_registers)::BIGINT AS zero_registers,
         (s_present + (64 - used_registers)
            * (1::BIGINT << 55))::BIGINT AS s_scaled
  FROM agg)
SELECT *,
       CAST(7213 AS DOUBLE)/10000
         / (1 + CAST(1079 AS DOUBLE)/1000/64)
         * CAST(4096 AS DOUBLE)
         * CAST(36028797018963968 AS DOUBLE)
         / CAST(s_scaled AS DOUBLE) AS estimate
FROM base
"""


def q_skew_stats(spark, sf_dir):
    from edspdf_spark.plans.salt import skew_stats

    return skew_stats(_docs(spark, sf_dir, spread=False), "source", n_parts=32)


_SKEW_STATS_ORACLE = """
WITH c AS (SELECT source AS k, CAST(count(*) AS BIGINT) AS c
           FROM documents GROUP BY source),
tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_rows,
               CAST(count(*) AS BIGINT) AS n_keys FROM c),
top AS (SELECT c, k FROM c ORDER BY c DESC, k DESC LIMIT 1),
rk AS (SELECT c, row_number() OVER (ORDER BY c, k) AS rn FROM c),
p99 AS (SELECT CAST(c AS BIGINT) AS p99_count FROM rk
        WHERE rn = (SELECT CAST(ceil(CAST(99 AS DOUBLE)/100 * n_keys)
                                AS BIGINT) FROM tot))
SELECT t.n_rows, t.n_keys, top.c AS max_count, top.k AS max_key,
       (1000 * top.c) // t.n_rows AS top1_share_milli, p99.p99_count,
       greatest(1, CAST(ceil(CAST(top.c AS DOUBLE)
                             / ceil(CAST(t.n_rows AS DOUBLE) / 32))
                        AS BIGINT)) AS salt_factor
FROM tot t, top, p99
"""


def q_length_quantiles(spark, sf_dir):
    from edspdf_spark.operators.analysis import length_quantiles

    return length_quantiles(_docs(spark, sf_dir, spread=False))


_LENGTH_QUANTILES_ORACLE = """
WITH v AS (SELECT CAST(length(text) AS BIGINT) AS v FROM documents),
c AS (SELECT v, CAST(count(*) AS BIGINT) AS c FROM v GROUP BY v),
cum AS (SELECT v, sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                               PRECEDING AND CURRENT ROW) AS cum
        FROM c),
n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v)
SELECT (SELECT n FROM n) AS n,
       CAST(min(CASE WHEN cum >= CAST(ceil(CAST(50 AS DOUBLE)/100 *
            (SELECT n FROM n)) AS BIGINT) THEN v END) AS BIGINT) AS p50,
       CAST(min(CASE WHEN cum >= CAST(ceil(CAST(90 AS DOUBLE)/100 *
            (SELECT n FROM n)) AS BIGINT) THEN v END) AS BIGINT) AS p90,
       CAST(min(CASE WHEN cum >= CAST(ceil(CAST(99 AS DOUBLE)/100 *
            (SELECT n FROM n)) AS BIGINT) THEN v END) AS BIGINT) AS p99
FROM cum
"""


def q_dataset_card(spark, sf_dir):
    from edspdf_spark.operators.analysis import dataset_card

    return dataset_card(_docs(spark, sf_dir))


_DATASET_CARD_ORACLE = """
WITH a AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(length(text)) AS BIGINT) AS n_chars,
         CAST(sum(len(list_filter(string_split(text, ' '),
                                  x -> x <> ''))) AS BIGINT) AS n_tokens,
         CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         CAST(count(DISTINCT source) AS BIGINT) AS n_domains,
         CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct_texts
  FROM documents)
SELECT *,
       (1000 * (n_docs - n_distinct_texts)) // n_docs AS dup_milli,
       CAST(n_tokens AS DOUBLE) / n_docs AS avg_tokens
FROM a
"""


def q_stream_band_dedup(spark, sf_dir):
    """Batch form of the streaming band-claim near-dup (deterministic
    min-url claimant): certifies the streaming operator's per-row
    minhash/band key math against the independent SQL derivation."""
    from edspdf_spark.streaming.stateful import near_dup_bands_batch

    corpus = _corpus_near(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("url"), "text")
    return near_dup_bands_batch(corpus)


def _stream_band_oracle() -> str:
    band_selects = " UNION ALL ".join(
        f"SELECT id, '{i}:' || CAST(h{2 * i} AS VARCHAR) || ':' || "
        f"CAST(h{2 * i + 1} AS VARCHAR) AS band_key FROM sigs"
        for i in range(4))
    return (SHINGLES_SQL.format(corpus=CORPUS_NEAR_SQL)
            + ", " + _minhash_sql(8)
            + f""",
bands AS ({band_selects}),
claims AS (SELECT band_key, min(CAST(id AS VARCHAR)) AS claimant
           FROM bands GROUP BY band_key)
SELECT CAST(b.id AS VARCHAR) AS url,
       CAST(count(*) AS BIGINT) AS n_bands,
       bool_or(c.claimant <> CAST(b.id AS VARCHAR)) AS near_dup,
       min(CASE WHEN c.claimant <> CAST(b.id AS VARCHAR)
                THEN c.claimant END) AS matched_url
FROM bands b JOIN claims c USING (band_key)
GROUP BY b.id
""")


def q_crawl_delays(spark, sf_dir):
    from edspdf_spark.operators.robots import robots_crawl_delays

    robots = _docs(spark, sf_dir).where("doc_id < 10").selectExpr(
        "'h' || CAST(doc_id AS VARCHAR(4)) || '.example.com' AS host",
        f"{_ROBOTS_TXT_SQL} AS robots_txt")
    return robots_crawl_delays(robots, agent="spark-graft")


_CRAWL_DELAYS_ORACLE = """
WITH robots AS (
  SELECT 'h' || CAST(doc_id AS VARCHAR(4)) || '.example.com' AS host,
         {txt} AS robots_txt
  FROM documents WHERE doc_id < 10),
lx AS (
  SELECT host, u.idx AS idx, trim(u.raw) AS l0 FROM (
    SELECT host, unnest(list_transform(
        generate_series(1, len(string_split(
            replace(robots_txt, chr(13), ''), chr(10)))),
        i -> {{'idx': i - 1,
               'raw': string_split(replace(robots_txt, chr(13), ''),
                                   chr(10))[i]}})) AS u
    FROM robots)),
cl AS (
  SELECT host, idx,
         trim(CASE WHEN strpos(l0, '#') > 0
                   THEN substr(l0, 1, strpos(l0, '#') - 1)
                   ELSE l0 END) AS line
  FROM lx),
parsed AS (
  SELECT host, idx, line,
         lower(trim(split_part(line, ':', 1))) AS directive,
         CASE WHEN strpos(line, ':') > 0
              THEN trim(substr(line, strpos(line, ':') + 1))
              ELSE '' END AS value
  FROM cl WHERE line <> ''),
flags AS (
  SELECT *,
         CASE WHEN directive = 'user-agent' THEN 1 ELSE 0 END AS is_ua
  FROM parsed),
prevs AS (
  SELECT *,
         coalesce(lag(is_ua) OVER (PARTITION BY host ORDER BY idx), 0)
           AS prev_ua
  FROM flags),
grp AS (
  SELECT *,
         sum(CASE WHEN is_ua = 1 AND prev_ua = 0 THEN 1 ELSE 0 END)
           OVER (PARTITION BY host ORDER BY idx
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS group_id
  FROM prevs),
uas0 AS (
  SELECT host, group_id,
         bool_or(lower(value) = 'spark-graft') AS lit_match,
         bool_or(value = '*') AS star_match
  FROM grp WHERE is_ua = 1 GROUP BY host, group_id),
uas AS (
  SELECT host, group_id,
         lit_match OR (star_match AND NOT
           bool_or(lit_match) OVER (PARTITION BY host)) AS applies
  FROM uas0)
SELECT g.host,
       CAST(min(CAST(split_part(g.value, '.', 1) AS BIGINT) * 1000
                + CAST(rpad(substr(split_part(g.value, '.', 2), 1, 3),
                            3, '0') AS BIGINT)) AS BIGINT)
         AS crawl_delay_ms,
       CAST(min(CAST(split_part(g.value, '.', 1) AS BIGINT) * 1000
                + CAST(rpad(substr(split_part(g.value, '.', 2), 1, 3),
                            3, '0') AS BIGINT)) // 1000 AS BIGINT)
         AS crawl_delay_s
FROM grp g JOIN uas u ON g.host = u.host AND g.group_id = u.group_id
WHERE g.directive = 'crawl-delay'
  AND regexp_matches(g.value, '^[0-9]+(\\.[0-9]+)?$') AND u.applies
GROUP BY g.host
"""


def q_robots_sitemaps(spark, sf_dir):
    from edspdf_spark.operators.robots import robots_sitemaps

    robots = _docs(spark, sf_dir).where("doc_id < 10").selectExpr(
        "'h' || CAST(doc_id AS VARCHAR(4)) || '.example.com' AS host",
        f"{_ROBOTS_TXT_SQL} AS robots_txt")
    return robots_sitemaps(robots)


_SITEMAPS_ORACLE = """
WITH robots AS (
  SELECT 'h' || CAST(doc_id AS VARCHAR(4)) || '.example.com' AS host,
         {txt} AS robots_txt
  FROM documents WHERE doc_id < 10),
lx AS (
  SELECT host, trim(u.raw) AS l0 FROM (
    SELECT host, unnest(string_split(
        replace(robots_txt, chr(13), ''), chr(10))) AS raw
    FROM robots) u),
cl AS (
  SELECT host,
         trim(CASE WHEN strpos(l0, '#') > 0
                   THEN substr(l0, 1, strpos(l0, '#') - 1)
                   ELSE l0 END) AS line
  FROM lx)
SELECT DISTINCT host,
       trim(substr(line, strpos(line, ':') + 1)) AS sitemap_url
FROM cl
WHERE line <> '' AND strpos(line, ':') > 0
  AND lower(trim(split_part(line, ':', 1))) = 'sitemap'
  AND trim(substr(line, strpos(line, ':') + 1)) <> ''
"""


def q_char_profile(spark, sf_dir):
    from edspdf_spark.operators.analysis import char_profile

    return char_profile(_docs(spark, sf_dir))


_CHAR_PROFILE_ORACLE = """
WITH c AS (
  SELECT doc_id AS id, CAST(length(text) AS BIGINT) AS n_chars,
         CAST(len(regexp_extract_all(text, '[a-zA-Z]')) AS BIGINT)
           AS n_letters,
         CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT)
           AS n_digits,
         CAST(len(regexp_extract_all(text, '[ ]')) AS BIGINT)
           AS n_spaces
  FROM documents)
SELECT id, n_chars, n_letters, n_digits, n_spaces,
       n_chars - n_letters - n_digits - n_spaces AS n_other,
       (1000 * n_letters) // greatest(n_chars, 1) AS letter_milli,
       (1000 * (n_chars - n_letters - n_digits - n_spaces))
         // greatest(n_chars, 1) AS other_milli
FROM c
"""


# deterministic mixed-entropy corpus for the complexity oracle: a
# repeated low-entropy prefix (1-9 distinct hex chars x 1-37 copies)
# followed by 0-4 md5 blocks of near-maximal hex entropy — identical
# formulas in Spark SQL, DuckDB SQL, and the python pin below
_CX_N = 400
_CX_SPARK_TEXT = (
    "repeat(substr(md5(cast(cast(id AS string) AS binary)), 1, "
    "cast(1 + id % 9 AS int)), cast(1 + id % 37 AS int)) || "
    + " || ".join(
        f"CASE WHEN id % 5 > {j} THEN md5(cast(concat(cast(id AS string),"
        f" ':{j}') AS binary)) ELSE '' END" for j in range(4)))
_CX_DUCK_TEXT = (
    "repeat(substr(md5(CAST(i AS VARCHAR)), 1, CAST(1 + i % 9 AS INT)), "
    "CAST(1 + i % 37 AS INT)) || "
    + " || ".join(
        f"CASE WHEN i % 5 > {j} THEN md5(CAST(i AS VARCHAR) || ':{j}')"
        " ELSE '' END" for j in range(4)))


def _cx_text(i: int) -> str:
    import hashlib

    base = hashlib.md5(str(i).encode()).hexdigest()
    rep = base[: 1 + i % 9] * (1 + i % 37)
    return rep + "".join(hashlib.md5(f"{i}:{j}".encode()).hexdigest()
                         for j in range(4) if i % 5 > j)


def q_complexity_signals(spark, sf_dir):
    """zlib/entropy information-density signals over the deterministic
    mixed-entropy corpus. DEFLATE length is not SQL-expressible, so
    the oracle derives id/n_bytes in SQL, pins (deflate_bytes,
    entropy_milli) as frozen literals recomputed from the same
    deterministic texts, and cross-checks compress_milli as SQL
    integer division of the two (the bloc_transformer precedent)."""
    from edspdf_spark.operators.analysis import complexity_signals

    corpus = spark.range(_CX_N).selectExpr(
        "id AS doc_id", f"{_CX_SPARK_TEXT} AS text")
    return complexity_signals(corpus)


def _complexity_oracle() -> str:
    """Frozen (deflate_bytes, entropy_milli) per doc: the identical
    float64 op order as kernels complexity_signals (np.bincount in
    byte-value order, numpy sum, truncation at int()) over texts
    rebuilt with hashlib — zlib level pinned at 6 on both sides."""
    import zlib

    import numpy as np

    vals = []
    for i in range(_CX_N):
        raw = _cx_text(i).encode("utf-8")
        n = len(raw)
        comp = len(zlib.compress(raw, 6))
        counts = np.bincount(np.frombuffer(raw, dtype=np.uint8),
                             minlength=256).astype(np.float64)
        p = counts[counts > 0] / n
        ent = float(-(p * np.log2(p)).sum())
        vals.append(f"({i}, {comp}, {int(ent * 1000)})")
    return f"""
WITH corpus AS (
  SELECT i AS id, {_CX_DUCK_TEXT} AS text
  FROM generate_series(0, {_CX_N - 1}) g(i)),
frozen(id, deflate_bytes, entropy_milli) AS (
  SELECT * FROM (VALUES {", ".join(vals)}))
SELECT CAST(c.id AS BIGINT) AS id,
       CAST(length(c.text) AS BIGINT) AS n_bytes,
       CAST(f.deflate_bytes AS BIGINT) AS deflate_bytes,
       (1000 * CAST(f.deflate_bytes AS BIGINT)) // length(c.text)
         AS compress_milli,
       CAST(f.entropy_milli AS BIGINT) AS entropy_milli
FROM corpus c JOIN frozen f ON f.id = c.id
"""


def q_crawl_schedule(spark, sf_dir):
    from edspdf_spark.operators.urls import crawl_schedule

    u = _docs(spark, sf_dir).selectExpr(
        "'https://h' || CAST(doc_id % 23 AS VARCHAR(4)) || "
        "'.example.com/page/' || CAST(doc_id AS VARCHAR(12)) AS url")
    return crawl_schedule(u, per_host_concurrency=4)


_CRAWL_SCHEDULE_ORACLE = """
WITH u AS (
  SELECT 'https://h' || CAST(doc_id % 23 AS VARCHAR(4))
         || '.example.com/page/' || CAST(doc_id AS VARCHAR(12)) AS url
  FROM documents),
b AS (
  SELECT url, lower(split_part(split_part(url, '//', 2), '/', 1)) AS host,
         ('0x' || substr(md5(url || ':crawl-v1'), 1, 15))::BIGINT AS rk
  FROM u),
s AS (
  SELECT url, host,
         CAST(row_number() OVER (PARTITION BY host ORDER BY rk, url)
              AS BIGINT) - 1 AS host_seq
  FROM b)
SELECT url, host, host_seq, host_seq // 4 AS slot FROM s
"""


def q_regdomain_stats(spark, sf_dir):
    """Per-REGISTERED-domain rollup over the messy-host corpus: the
    keying fix registered_domain exists for (subdomains of one site
    collapse into one row; host-level keys overcount)."""
    from edspdf_spark.operators.urls import registered_domain

    u = _docs(spark, sf_dir, spread=False).selectExpr(
        f"{_REGDOM_URL_SQL} AS url")
    rd = registered_domain(u)
    return (rd.groupBy("reg_domain")
            .agg(F.count(F.lit(1)).alias("n_urls"),
                 F.countDistinct("host").alias("n_hosts"),
                 F.countDistinct("tld").alias("n_tlds")))


def _regdomain_stats_oracle() -> str:
    from edspdf_spark.operators.urls import PSL_MULTI_SUFFIXES

    psl = ", ".join(f"'{s}'" for s in PSL_MULTI_SUFFIXES)
    return f"""
WITH u AS (SELECT {_REGDOM_URL_SQL} AS url FROM documents),
h AS (SELECT url,
             lower(split_part(split_part(split_part(url, '//', 2),
                                         '/', 1), ':', 1)) AS host
      FROM u),
l AS (SELECT url, host, string_split(host, '.') AS ls FROM h),
rd AS (
  SELECT url, host,
         CASE WHEN len(ls) >= 3 AND
                   (ls[len(ls)-1] || '.' || ls[len(ls)]) IN ({psl})
              THEN ls[len(ls)-2] || '.' || ls[len(ls)-1] || '.'
                   || ls[len(ls)]
              WHEN len(ls) >= 2
              THEN ls[len(ls)-1] || '.' || ls[len(ls)]
              ELSE host END AS reg_domain,
         ls[len(ls)] AS tld
  FROM l)
SELECT reg_domain, CAST(count(*) AS BIGINT) AS n_urls,
       CAST(count(DISTINCT host) AS BIGINT) AS n_hosts,
       CAST(count(DISTINCT tld) AS BIGINT) AS n_tlds
FROM rd GROUP BY reg_domain
"""


def q_snapshot_diff(spark, sf_dir):
    """Two synthetic captures: every 13th doc removed, every 7th
    (surviving) changed, every 10th re-added under a new id."""
    from edspdf_spark.operators.dedup import snapshot_diff

    d = _docs(spark, sf_dir, spread=False).select("doc_id", "text")
    old = d
    new = (d.where(F.col("doc_id") % 13 != 0)
           .select("doc_id",
                   F.when(F.col("doc_id") % 7 == 0,
                          F.concat(F.col("text"), F.lit(" [rev2]")))
                   .otherwise(F.col("text")).alias("text"))
           .unionByName(
               d.where(F.col("doc_id") % 10 == 0)
               .select((F.col("doc_id") + 3000000000000000).alias("doc_id"),
                       "text")))
    return snapshot_diff(old, new, key_col="doc_id")


# deterministic mojibake injection shared by both engines (plain
# characters only — no quoting hazards)
_MOJI_TEXT_SQL = ("substr(text, 1, 100) || ' cafÃ© donâ€™t naÃ¯ve "
                  "rÃ©sumÃ© â€œquoteâ€“dash â€¦end ' || "
                  "substr(text, 101, 100)")


def q_fix_mojibake(spark, sf_dir):
    from edspdf_spark.operators.analysis import fix_mojibake

    docs = _docs(spark, sf_dir).selectExpr(
        "doc_id", f"{_MOJI_TEXT_SQL} AS text")
    return fix_mojibake(docs)


def _mojibake_oracle() -> str:
    from edspdf_spark.operators.analysis import MOJIBAKE_MAP

    parts = [f"t0 AS (SELECT doc_id AS id, {_MOJI_TEXT_SQL} AS s, "
             f"0 AS nf FROM documents)"]
    for i, (bad, good) in enumerate(MOJIBAKE_MAP, start=1):
        parts.append(
            f"t{i} AS (SELECT id, replace(s, '{bad}', '{good}') AS s, "
            f"nf + (length(s) - length(replace(s, '{bad}', ''))) "
            f"// {len(bad)} AS nf FROM t{i - 1})")
    return ("WITH " + ",\n".join(parts) +
            f"\nSELECT id, s AS text_fixed, CAST(nf AS BIGINT) AS "
            f"n_fixes, nf > 0 AS had_mojibake "
            f"FROM t{len(MOJIBAKE_MAP)}")


def q_tfidf_top_terms(spark, sf_dir):
    from edspdf_spark.operators.analysis import tfidf_top_terms

    return tfidf_top_terms(_docs(spark, sf_dir), top_k=5)


def q_bloom_filter(spark, sf_dir):
    """Bloom sketch of the corpus texts probed with a present set
    (every 7th doc) and a definitely-absent set (every 11th doc,
    content perturbed); output marks claimed vs actual membership."""
    from edspdf_spark.operators.analysis import bloom_build, bloom_member

    d = _docs(spark, sf_dir, spread=False)
    bloom = bloom_build(d, col="text")
    present = d.where(F.col("doc_id") % 7 == 0).select(
        F.col("doc_id").alias("probe_id"), F.col("text").alias("probe"),
        F.lit(True).alias("actual"))
    absent = d.where(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 2000000000000000).alias("probe_id"),
        F.concat(F.col("text"), F.lit("-absent-")).alias("probe"),
        F.lit(False).alias("actual"))
    probes = present.unionByName(absent)
    return (bloom_member(bloom, probes)
            .join(probes.select("probe_id", "actual"), "probe_id"))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Order matters: the driver verifies the FIRST 50 entries only
    # (CORRECTNESS window). Round-5 window (rotation policy in
    # COVERAGE.md): never-driver-green first (bloc_transformer,
    # complexity_signals), then every query whose operator or oracle
    # changed since the r4 snapshot (hot-shingle cap, graph rewrite,
    # fractional crawl-delay, IVF struct-topk, portable-CAST fix,
    # parser mutations), then the stalest r3-green back entries.
    # Out-of-window queries are all r4-green (31) or r3-green (17) --
    # nothing older than two rounds, per policy.
    return {
        "bloc_transformer": q_bloc_transformer,
        "complexity_signals": q_complexity_signals,
        "dedup_jaccard": q_dedup_jaccard,
        "containment_pairs": q_containment_pairs,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "edit_verified": q_edit_verified,
        "dedup_components": q_dedup_components,
        "dedup_keep_best": q_dedup_keep_best,
        "cluster_balance": q_cluster_balance,
        "crawl_delays": q_crawl_delays,
        "crawl_schedule": q_crawl_schedule,
        "robots_filter": q_robots_filter,
        "robots_sitemaps": q_robots_sitemaps,
        "simsearch_ivf": q_simsearch_ivf,
        "c4_filters": q_c4_filters,
        "quality_funnel": q_quality_funnel,
        "link_graph": q_link_graph,
        "host_pagerank": q_host_pagerank,
        "host_degrees": q_host_degrees,
        "host_label_prop": q_host_label_prop,
        "anchor_terms": q_anchor_terms,
        "extract_blocs": q_extract_blocs,
        "staged_pipeline": q_staged_pipeline,
        "pipeline_body_text": q_pipeline_body_text,
        "skew_stats": q_skew_stats,
        "semantic_dedup": q_semantic_dedup,
        "simsearch_topk": q_simsearch_topk,
        "knn_classify": q_knn_classify,
        "mask_classify": q_mask_classify,
        "aggregate_lines": q_aggregate_lines,
        "reading_order": q_reading_order,
        "dedup_exact": q_dedup_exact,
        "dedup_simhash": q_dedup_simhash,
        "vocab_stats": q_vocab_stats,
        "simhash_pairs": q_simhash_pairs,
        "embed_cosine_pairs": q_embed_cosine_pairs,
        "text_quality": q_text_quality,
        "lang_id": q_lang_id,
        "fingerprint": q_fingerprint,
        "token_count": q_token_count,
        "winnow_fingerprints": q_winnow_fingerprints,
        "gopher_quality": q_gopher_quality,
        "gopher_repetition": q_gopher_repetition,
        "pack_sequences": q_pack_sequences,
        "url_normalize": q_url_normalize,
        "hash_split": q_hash_split,
        "stratified_sample": q_stratified_sample,
        "latest_capture": q_latest_capture,
        "sessionize": q_sessionize,
        "bigram_coverage": q_bigram_coverage,
        "multimodal_meta": q_multimodal_meta,
        "png_decode": q_png_decode,
        "surt_keys": q_surt_keys,
        "html_extract": q_html_extract,
        "bloc_embed": q_bloc_embed,
        "bloc_cnn_pool": q_bloc_cnn_pool,
        "bloc_hf_embed": q_bloc_hf_embed,
        "trainable_classify": q_trainable_classify,
        "bloom_filter": q_bloom_filter,
        "chunk_windows": q_chunk_windows,
        "tfidf_top_terms": q_tfidf_top_terms,
        "paragraph_classify": q_paragraph_classify,
        "snapshot_diff": q_snapshot_diff,
        "fix_mojibake": q_fix_mojibake,
        "registered_domain": q_registered_domain,
        "html_meta": q_html_meta,
        "canonical_dedup": q_canonical_dedup,
        "regdomain_stats": q_regdomain_stats,
        "char_profile": q_char_profile,
        "stream_band_dedup": q_stream_band_dedup,
        "normalized_dedup": q_normalized_dedup,
        "domain_top_terms": q_domain_top_terms,
        "inverted_index": q_inverted_index,
        "cooc_pmi": q_cooc_pmi,
        "dataset_card": q_dataset_card,
        "bm25_topk": q_bm25_topk,
        "length_quantiles": q_length_quantiles,
        "intra_line_dedup": q_intra_line_dedup,
        "domain_hll": q_domain_hll,
        "events_hourly": q_events_hourly,
        "tpch_q1": q_tpch_q1,
        "line_dedup": q_line_dedup,
        "pii_scrub": q_pii_scrub,
        "domain_stats": q_domain_stats,
        "blocklist_filter": q_blocklist_filter,
        "int8_quantize": q_int8_quantize,
        "passage_dedup": q_passage_dedup,
        "substring_dedup": q_substring_dedup,
        "decontaminate": q_decontaminate,
        "quality_classify": q_quality_classify,
        "lm_ppl_buckets": q_lm_ppl_buckets,
        "dsir_select": q_dsir_select,
        "badwords_filter": q_badwords_filter,
        "warc_roundtrip": q_warc_roundtrip,
        "wet_export": q_wet_export,
        "token_budget": q_token_budget,
        "asof_join": q_asof_join,
        "hll_distinct": q_hll_distinct,
        "cm_sketch": q_cm_sketch,
    }


# ---------------------------------------------------------------------------
# oracles
# ---------------------------------------------------------------------------

_ORACLES: dict[str, str] = {}

_ORACLES["mask_classify"] = f"""
WITH blocs AS (SELECT * FROM {DERIVED_BLOCS_SQL} b),
masks AS (SELECT * FROM {CLS_MASKS_SQL} m),
scored AS (
  SELECT b.doc_id, b.k, m.label, m.priority,
         greatest(least(m.mx1, b.x1) - greatest(m.mx0, b.x0),
                  CAST(0 AS DOUBLE))
       * greatest(least(m.my1, b.y1) - greatest(m.my0, b.y0),
                  CAST(0 AS DOUBLE)) AS overlap,
         CASE WHEN (m.mx1 - m.mx0) * (m.my1 - m.my0) = 0 THEN CAST(1 AS DOUBLE)
              ELSE (m.mx1 - m.mx0) * (m.my1 - m.my0) END AS src_area,
         CASE WHEN (b.x1 - b.x0) * (b.y1 - b.y0) = 0 THEN CAST(1 AS DOUBLE)
              ELSE (b.x1 - b.x0) * (b.y1 - b.y0) END AS dst_area
  FROM blocs b CROSS JOIN masks m
),
ranked AS (
  SELECT doc_id, k, label,
         CASE WHEN overlap / dst_area < CAST(4 AS DOUBLE)/10
              THEN CAST(0 AS DOUBLE) ELSE overlap / src_area END AS score,
         priority,
         row_number() OVER (
           PARTITION BY doc_id, k
           ORDER BY (CASE WHEN overlap / dst_area < CAST(4 AS DOUBLE)/10
                     THEN CAST(0 AS DOUBLE) ELSE overlap / src_area END) DESC,
                    priority ASC) AS rk
  FROM scored
)
SELECT doc_id, k, label FROM ranked WHERE rk = 1 ORDER BY doc_id, k
"""

_ORACLES["aggregate_lines"] = f"""
WITH lines AS (SELECT * FROM {DERIVED_LINES_SQL} l),
seps AS (
  SELECT url, label, k, text, y0, y1,
         lead(y1) OVER w - y1 AS dy,
         lead(y0) OVER w AS next_y0,
         lead(k)  OVER w AS next_k
  FROM lines
  WINDOW w AS (PARTITION BY url ORDER BY k)
),
med AS (
  SELECT url, median(y1 - y0) AS height FROM lines GROUP BY url
),
pieces AS (
  SELECT s.url, s.label, s.k,
         s.text || CASE
           WHEN s.next_k IS NULL THEN ''
           WHEN s.dy / m.height > CAST(15 AS DOUBLE)/10
                AND s.next_y0 > s.y1 THEN chr(10) || chr(10)
           WHEN s.dy / m.height > CAST(2 AS DOUBLE)/10
                AND s.next_y0 > s.y1 THEN chr(10)
           ELSE ' ' END AS piece
  FROM seps s JOIN med m ON s.url = m.url
)
SELECT url, label, string_agg(piece, '' ORDER BY k) AS text
FROM pieces GROUP BY url, label
"""

_ORACLES["reading_order"] = """
WITH rows_ AS (
  SELECT doc_id, k,
         CAST((k * 5 + doc_id) % 6 AS DOUBLE) * 15 / 100 AS y0
  FROM documents CROSS JOIN generate_series(0, 5) AS g(k)
)
SELECT doc_id, k,
       row_number() OVER (PARTITION BY doc_id ORDER BY y0) - 1 AS ord_pos
FROM rows_
"""

_ORACLES["dedup_exact"] = f"""
SELECT md5(text) AS content_md5, min(doc_id) AS keep_id,
       count(*) AS n_dups
FROM {CORPUS_EXACT_SQL} corpus
GROUP BY md5(text)
"""

_JACCARD_CORE = """
  sizes AS (SELECT id, count(*) AS sz FROM {src} GROUP BY id),
  inter AS (
    SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
    FROM {src} a JOIN {src} b ON a.code = b.code AND a.id < b.id
    GROUP BY a.id, b.id
    HAVING count(*) >= {min_intersect}
  ),
  jac AS (
    SELECT i.id_a, i.id_b, i.inter, sa.sz AS size_a, sb.sz AS size_b,
           CAST(i.inter AS DOUBLE) / (sa.sz + sb.sz - i.inter) AS jaccard
    FROM inter i
    JOIN sizes sa ON i.id_a = sa.id
    JOIN sizes sb ON i.id_b = sb.id
  )
"""

# mirror of dedup._cap_doc_freq: the DEFAULT-ON hot-shingle guard of
# the self-joining pair operators (sizes computed AFTER the drop)
_CAPPED_SQL = """
  capped AS (
    SELECT id, code FROM codes
    WHERE code IN (SELECT code FROM codes
                   GROUP BY code HAVING count(*) <= {cap})
  )
"""

_ORACLES["dedup_jaccard"] = (
    SHINGLES_SQL.format(corpus=CORPUS_NEAR_SQL)
    + ", " + _CAPPED_SQL.format(cap=256)
    + ", " + _JACCARD_CORE.format(min_intersect=3, src="capped")
    + """
SELECT id_a, id_b, inter, size_a, size_b, jaccard
FROM jac WHERE jaccard >= CAST(5 AS DOUBLE)/10
""")

_ORACLES["containment_pairs"] = (
    SHINGLES_SQL.format(corpus=CORPUS_EXCERPT_SQL)
    + ", " + _CAPPED_SQL.format(cap=256)
    + ", " + _JACCARD_CORE.format(min_intersect=3, src="capped")
    + """
, dirs AS (
  SELECT id_a AS id_src, id_b AS id_dst, inter,
         size_a AS size_src, size_b AS size_dst FROM jac
  UNION ALL
  SELECT id_b, id_a, inter, size_b, size_a FROM jac)
SELECT id_src, id_dst, inter, size_src, size_dst,
       CAST(inter AS DOUBLE) / size_src AS containment
FROM dirs
WHERE CAST(inter AS DOUBLE) / size_src >= CAST(7 AS DOUBLE)/10
""")


def _minhash_sql(n_hashes: int) -> str:
    from edspdf_spark.functions import CODE_MOD, MINHASH_AB

    cols = ", ".join(
        f"min(({a} * (code % {CODE_MOD}) + {b}) % {CODE_MOD}) AS h{j}"
        for j, (a, b) in enumerate(MINHASH_AB[:n_hashes]))
    return f"sigs AS (SELECT id, {cols} FROM codes GROUP BY id)"


_BANDS = [list(range(i, i + 2)) for i in range(0, 8, 2)]
_CAND_UNION = " UNION ".join(
    "SELECT a.id AS id_a, b.id AS id_b FROM sigs a JOIN sigs b ON "
    + " AND ".join(f"a.h{j} = b.h{j}" for j in band) + " AND a.id < b.id"
    for band in _BANDS)

_ORACLES["dedup_minhash_lsh"] = (
    SHINGLES_SQL.format(corpus=CORPUS_NEAR_SQL)
    + ", " + _minhash_sql(8)
    + f", cand AS (SELECT DISTINCT id_a, id_b FROM ({_CAND_UNION}))"
    + ", " + _JACCARD_CORE.format(min_intersect=1, src="codes")
    + """
SELECT c.id_a, c.id_b, j.jaccard
FROM cand c JOIN jac j ON c.id_a = j.id_a AND c.id_b = j.id_b
WHERE j.jaccard >= CAST(5 AS DOUBLE)/10
""")

_ORACLES["edit_verified"] = (
    SHINGLES_SQL.format(corpus=CORPUS_NEAR_SQL)
    + ", " + _minhash_sql(8)
    + f", cand AS (SELECT DISTINCT id_a, id_b FROM ({_CAND_UNION}))"
    + ", " + _JACCARD_CORE.format(min_intersect=1, src="codes")
    + """,
pairs AS (
  SELECT c.id_a, c.id_b FROM cand c JOIN jac j
    ON c.id_a = j.id_a AND c.id_b = j.id_b
  WHERE j.jaccard >= CAST(5 AS DOUBLE)/10),
txt AS (SELECT doc_id AS id, text FROM """ + CORPUS_NEAR_SQL + """ t),
ed AS (
  SELECT p.id_a, p.id_b,
         CAST(levenshtein(a.text, b.text) AS BIGINT) AS dist,
         CAST(length(a.text) AS BIGINT) AS len_a,
         CAST(length(b.text) AS BIGINT) AS len_b
  FROM pairs p JOIN txt a ON p.id_a = a.id JOIN txt b ON p.id_b = b.id)
SELECT id_a, id_b, dist, len_a, len_b,
       (1000 * dist) // greatest(greatest(len_a, len_b), 1)
         AS dist_milli,
       (1000 * dist) // greatest(greatest(len_a, len_b), 1) <= 100
         AS verified
FROM ed
""")

# components over the minhash-verified pairs: recursive reachability,
# min reachable id per node, singletons keep themselves
_ORACLES["dedup_components"] = (
    SHINGLES_SQL.format(corpus=CORPUS_NEAR_SQL)
    + ", " + _minhash_sql(8)
    + f", cand AS (SELECT DISTINCT id_a, id_b FROM ({_CAND_UNION}))"
    + ", " + _JACCARD_CORE.format(min_intersect=1, src="codes")
    + """,
pairs AS (
  SELECT c.id_a, c.id_b
  FROM cand c JOIN jac j ON c.id_a = j.id_a AND c.id_b = j.id_b
  WHERE j.jaccard >= CAST(5 AS DOUBLE)/10
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
nodes AS (SELECT DISTINCT src AS id FROM edges),
reach AS (
  WITH RECURSIVE r(id, comp) AS (
    SELECT id, id FROM nodes
    UNION
    SELECT e.src, r2.comp FROM edges e JOIN r r2 ON e.dst = r2.id
  )
  SELECT id, min(comp) AS component FROM r GROUP BY id
)
SELECT co.doc_id AS id,
       coalesce(reach.component, co.doc_id) AS component,
       co.doc_id = coalesce(reach.component, co.doc_id) AS keep
FROM """ + CORPUS_NEAR_SQL + """ co
LEFT JOIN reach ON co.doc_id = reach.id
""")

_ORACLES["dedup_keep_best"] = (
    SHINGLES_SQL.format(corpus=CORPUS_NEAR_SQL)
    + ", " + _minhash_sql(8)
    + f", cand AS (SELECT DISTINCT id_a, id_b FROM ({_CAND_UNION}))"
    + ", " + _JACCARD_CORE.format(min_intersect=1, src="codes")
    + """,
pairs AS (
  SELECT c.id_a, c.id_b
  FROM cand c JOIN jac j ON c.id_a = j.id_a AND c.id_b = j.id_b
  WHERE j.jaccard >= CAST(5 AS DOUBLE)/10
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
nodes AS (SELECT DISTINCT src AS id FROM edges),
reach AS (
  WITH RECURSIVE r(id, comp) AS (
    SELECT id, id FROM nodes
    UNION
    SELECT e.src, r2.comp FROM edges e JOIN r r2 ON e.dst = r2.id
  )
  SELECT id, min(comp) AS component FROM r GROUP BY id
),
lab AS (
  SELECT co.doc_id AS id,
         coalesce(reach.component, co.doc_id) AS component,
         CAST(length(co.text) AS BIGINT) AS score
  FROM """ + CORPUS_NEAR_SQL + """ co
  LEFT JOIN reach ON co.doc_id = reach.id
),
rk AS (
  SELECT *, row_number() OVER (PARTITION BY component
                               ORDER BY score DESC, id ASC) AS rn
  FROM lab
)
SELECT id, component, score, rn = 1 AS keep FROM rk
""")

_ORACLES["vocab_stats"] = """
WITH tok AS (
  SELECT doc_id,
         unnest(list_filter(string_split(text, ' '), t -> t <> ''))
         AS token
  FROM documents
)
SELECT token, count(*)::BIGINT AS total_count,
       count(DISTINCT doc_id)::BIGINT AS doc_freq
FROM tok GROUP BY token
"""

_SIMHASH_CORE = """
  toks AS (
    SELECT DISTINCT doc_id AS id, tok
    FROM (SELECT doc_id,
                 unnest(list_filter(string_split(text, ' '), t -> t <> ''))
                 AS tok
          FROM {corpus} c)
  ),
  tcodes AS (
    SELECT id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS tcode FROM toks
  ),
  votes AS (
    SELECT id, b,
           sum(CASE WHEN (tcode >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
    FROM tcodes CROSS JOIN generate_series(0, 15) AS g(b)
    GROUP BY id, b
  ),
  fp AS (
    SELECT id, sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT
           AS simhash
    FROM votes GROUP BY id
  )
"""

_ORACLES["dedup_simhash"] = (
    "WITH " + _SIMHASH_CORE.format(corpus="documents").lstrip()
    + "SELECT id, simhash FROM fp")

_ORACLES["simhash_pairs"] = (
    "WITH " + _SIMHASH_CORE.format(corpus=CORPUS_NEAR_SQL).lstrip()
    + """
, banded AS (SELECT id, simhash, simhash >> 8 AS band FROM fp)
SELECT a.id AS id_a, b.id AS id_b,
       bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM banded a JOIN banded b ON a.band = b.band AND a.id < b.id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
""")

_QUANT_SQL = """
  q AS (
    SELECT vec_id AS id,
           list_transform(embedding,
                          x -> CAST(round(x * 1000) AS BIGINT)) AS qv
    FROM {src}
  ),
  n AS (
    SELECT id, qv,
           (SELECT sum(a * a) FROM unnest(qv) AS u(a))::BIGINT AS norm2
    FROM q
  )
"""

_ORACLES["simsearch_topk"] = ("""
WITH
""" + _QUANT_SQL.format(src="embeddings") + """,
qry AS (SELECT id AS query_id, qv AS q_qv, norm2 AS q_norm2
        FROM n WHERE id % 50 = 0),
scored AS (
  SELECT qry.query_id, n.id,
         (SELECT sum(a * b)
          FROM (SELECT unnest(n.qv) AS a, unnest(qry.q_qv) AS b) z)::BIGINT
         AS dot,
         n.norm2, qry.q_norm2
  FROM n CROSS JOIN qry WHERE n.id <> qry.query_id
),
ranked AS (
  SELECT query_id, id AS neighbor_id,
         CAST(dot AS DOUBLE) / (sqrt(norm2) * sqrt(q_norm2)) AS cos,
         row_number() OVER (
           PARTITION BY query_id
           ORDER BY CAST(dot AS DOUBLE) / (sqrt(norm2) * sqrt(q_norm2)) DESC,
                    id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cos, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= 5
""")

_ORACLES["embed_cosine_pairs"] = ("""
WITH corpus AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 100000 AS vec_id,
         list_transform(embedding, x -> x * CAST(101 AS DOUBLE)/100)
         AS embedding
  FROM embeddings
),
""" + _QUANT_SQL.format(src="corpus") + """,
b AS (
  -- fold acc*2 + (x>=0) over the first 8 dims == sum of bit_i * 2^(8-i)
  SELECT id, qv, norm2,
         list_sum(list_transform(generate_series(1, 8),
           i -> CASE WHEN qv[i] >= 0
                THEN (1::BIGINT << CAST(8 - i AS INTEGER))
                ELSE 0::BIGINT END))::BIGINT AS bucket
  FROM n
),
pairs AS (
  SELECT x.id AS id_a, y.id AS id_b,
         (SELECT sum(a * bb)
          FROM (SELECT unnest(x.qv) AS a, unnest(y.qv) AS bb) z)::BIGINT
         AS dot,
         x.norm2 AS n2_a, y.norm2 AS n2_b
  FROM b x JOIN b y ON x.bucket = y.bucket AND x.id < y.id
)
SELECT id_a, id_b,
       CAST(dot AS DOUBLE) / (sqrt(n2_a) * sqrt(n2_b)) AS cos
FROM pairs
WHERE CAST(dot AS DOUBLE) / (sqrt(n2_a) * sqrt(n2_b))
      >= CAST(98 AS DOUBLE)/100
""")

_ORACLES["text_quality"] = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS t,
         length(text) AS n_chars
  FROM documents
)
SELECT doc_id AS id, n_chars,
       len(t) AS n_tokens,
       len(list_distinct(t)) AS n_distinct_tokens,
       (SELECT coalesce(sum(CAST(ceil(length(u.x) / 4.0) AS BIGINT)), 0)
        FROM unnest(t) AS u(x))::BIGINT AS n_subwords,
       CAST(len(list_filter(t, x -> x = 'the')) +
            len(list_filter(t, x -> x = 'a')) +
            len(list_filter(t, x -> x = 'of')) +
            len(list_filter(t, x -> x = 'and')) +
            len(list_filter(t, x -> x = 'to')) AS DOUBLE)
         / (CASE WHEN len(t) = 0 THEN 1 ELSE len(t) END) AS stopword_ratio,
       CAST(len(list_distinct(t)) AS DOUBLE)
         / (CASE WHEN len(t) = 0 THEN 1 ELSE len(t) END) AS ttr
FROM toks
"""


def _langid_oracle() -> str:
    from edspdf_spark.operators.analysis import LANG_STOPWORDS

    vote_exprs = []
    for lang, words in LANG_STOPWORDS.items():
        parts = " + ".join(
            f"len(list_filter(t, x -> x = '{w}'))" for w in words)
        vote_exprs.append((lang, f"({parts})"))
    langs = [lang for lang, _ in vote_exprs]
    best = f"'{langs[0]}'"
    best_v = vote_exprs[0][1]
    for lang, v in vote_exprs[1:]:
        best = f"CASE WHEN {v} > {best_v} THEN '{lang}' ELSE {best} END"
        best_v = f"CASE WHEN {v} > {best_v} THEN {v} ELSE {best_v} END"
    votes_sel = ", ".join(
        f"{v} AS vote_{lang}" for lang, v in vote_exprs)
    return f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS t
  FROM documents
)
SELECT doc_id AS id, {best} AS lang_pred, {votes_sel}
FROM toks
"""


_ORACLES["lang_id"] = _langid_oracle()

_ORACLES["fingerprint"] = """
SELECT doc_id AS id, md5(lower(text)) AS content_md5,
       ('0x' || substr(md5(lower(text)), 1, 15))::BIGINT AS content_code,
       length(text) AS n_chars
FROM documents
"""

def _token_count_oracle() -> str:
    from edspdf_spark.operators.analysis import BPE_SPLIT_PATTERN

    pat = BPE_SPLIT_PATTERN.replace("'", "''")
    n_bpe = f"CAST(len(regexp_extract_all(text, '{pat}')) AS BIGINT)"
    return f"""
SELECT doc_id AS id,
       {n_bpe} AS n_bpe_tokens,
       CAST(len(list_filter(string_split(text, ' '), t -> t <> ''))
            AS BIGINT) AS n_ws_tokens,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(length(text) AS BIGINT)
         / (CASE WHEN {n_bpe} = 0 THEN CAST(1 AS BIGINT)
                 ELSE {n_bpe} END) AS chars_per_bpe_token
FROM documents
"""


_ORACLES["token_count"] = _token_count_oracle()
_ORACLES["winnow_fingerprints"] = _winnow_oracle()
_ORACLES["gopher_quality"] = _gopher_oracle()
_ORACLES["gopher_repetition"] = _gopher_repetition_oracle()
_ORACLES["pack_sequences"] = _pack_oracle()
_ORACLES["quality_funnel"] = _quality_funnel_oracle()
_ORACLES["url_normalize"] = _url_normalize_oracle()
_ORACLES["hash_split"] = _hash_split_oracle()
_ORACLES["stratified_sample"] = _stratified_oracle()
_ORACLES["latest_capture"] = _LATEST_CAPTURE_ORACLE
_ORACLES["sessionize"] = _SESSIONIZE_ORACLE
_ORACLES["bigram_coverage"] = _bigram_coverage_oracle()
_ORACLES["line_dedup"] = _line_dedup_oracle()
_ORACLES["pii_scrub"] = _pii_scrub_oracle()
_ORACLES["domain_stats"] = _DOMAIN_STATS_ORACLE
_ORACLES["blocklist_filter"] = _blocklist_oracle()
_ORACLES["int8_quantize"] = _INT8_QUANTIZE_ORACLE
_ORACLES["passage_dedup"] = _passage_oracle()
_ORACLES["substring_dedup"] = _substring_dedup_oracle()
_ORACLES["decontaminate"] = _decontaminate_oracle()
_ORACLES["quality_classify"] = _quality_classify_oracle()
_ORACLES["lm_ppl_buckets"] = _LM_PPL_ORACLE
_ORACLES["semantic_dedup"] = None      # filled lazily (needs centroids)
_ORACLES["dsir_select"] = _DSIR_ORACLE
_ORACLES["knn_classify"] = _knn_oracle()
_ORACLES["badwords_filter"] = _badwords_oracle()
_ORACLES["warc_roundtrip"] = _WARC_ORACLE
_ORACLES["wet_export"] = _WET_ORACLE
_ORACLES["token_budget"] = _token_budget_oracle()
_ORACLES["asof_join"] = _ASOF_ORACLE
_ORACLES["hll_distinct"] = _HLL_ORACLE
_ORACLES["cm_sketch"] = _cm_oracle()

# batch twin of the streaming tumbling-window agg, late fixture folded
# in: every 17th event re-arrives with its original event time, so
# affected windows count it twice — hash-level evidence the windowed
# operator applies event-time (not arrival-order) semantics
_ORACLES["events_hourly"] = """
WITH all_ev AS (
  SELECT ts, event_type, value FROM events
  UNION ALL
  SELECT ts, event_type, value FROM events WHERE event_id % 17 = 0)
SELECT date_trunc('hour', ts) AS window_start,
       date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
       event_type, count(*) AS n_events,
       sum(CAST(round(value * 1000) AS BIGINT))::BIGINT AS sum_value_milli
FROM all_ev
GROUP BY 1, 2, 3
"""

_ORACLES["tpch_q1"] = """
SELECT l_returnflag, l_linestatus,
       sum(CAST(l_quantity AS BIGINT))::BIGINT AS sum_qty,
       sum(CAST(round(l_extendedprice * 100) AS BIGINT))::BIGINT
         AS sum_base_price_cents,
       sum(CAST(round(l_extendedprice * 100) AS BIGINT)
           * (100 - CAST(round(l_discount * 100) AS BIGINT)))::BIGINT
         AS sum_disc_price_c2,
       sum(CAST(round(l_extendedprice * 100) AS BIGINT)
           * (100 - CAST(round(l_discount * 100) AS BIGINT))
           * (100 + CAST(round(l_tax * 100) AS BIGINT)))::BIGINT
         AS sum_charge_c3,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


_ORACLES["trainable_classify"] = None  # filled lazily (needs _FROZEN_MODEL)
_ORACLES["simsearch_ivf"] = None       # filled lazily (needs _IVF_CENTROIDS)

# the flagship parse->classify->aggregate chain, derived in closed form
# from the synth generator formulas (see _synth_pdf_cte)
_ORACLES["pipeline_body_text"] = _synth_pipeline_oracle(N_SYNTH_DOCS)
_ORACLES["staged_pipeline"] = _synth_pipeline_oracle(60)
_ORACLES["extract_blocs"] = _synth_blocs_oracle(60)
_ORACLES["html_extract"] = _synth_html_oracle(60)
_ORACLES["bloc_embed"] = _bloc_embed_oracle()
_ORACLES["bloc_cnn_pool"] = _bloc_cnn_oracle()
_ORACLES["bloc_hf_embed"] = _hf_embed_oracle()

# host_edges over regex-extracted links; the (?i)<a\s[^>]*href="..."
# pattern is the deliberately regex-dialect-portable subset shared
# with operators/graph.py (Java regex on Spark, RE2 here).
_ORACLES["link_graph"] = f"""
WITH pages AS (SELECT * FROM {_LINKED_PAGES_SQL} p),
links AS (
  SELECT url AS src_url,
         unnest(regexp_extract_all(html,
                '(?i)<a\\s[^>]*href="([^"]*)"', 1)) AS href
  FROM pages),
hosts AS (
  SELECT lower(split_part(split_part(src_url, '//', 2), '/', 1)) AS src_host,
         lower(split_part(split_part(href, '//', 2), '/', 1)) AS dst_host
  FROM links
  WHERE lower(href) LIKE 'http://%' OR lower(href) LIKE 'https://%')
SELECT src_host, dst_host, CAST(count(*) AS BIGINT) AS n_links
FROM hosts
WHERE dst_host <> '' AND src_host <> dst_host
GROUP BY src_host, dst_host
"""

# anchor-text rollup: same portable two-group regex zipped
_ORACLES["anchor_terms"] = f"""
WITH pages AS (SELECT * FROM {_LINKED_PAGES_SQL} p),
az AS (
  SELECT unnest(list_zip(
      regexp_extract_all(html,
        '(?i)<a\\s[^>]*href="([^"]*)"[^>]*>([^<]*)</a>', 1),
      regexp_extract_all(html,
        '(?i)<a\\s[^>]*href="([^"]*)"[^>]*>([^<]*)</a>', 2))) AS z
  FROM pages),
a AS (SELECT z[1] AS href, z[2] AS anchor FROM az
      WHERE lower(z[1]) LIKE 'http://%' OR lower(z[1]) LIKE 'https://%'),
t AS (
  SELECT lower(split_part(split_part(href, '//', 2), '/', 1)) AS dst_host,
         unnest(list_filter(string_split(lower(anchor), ' '),
                            w -> w <> '')) AS term
  FROM a)
SELECT dst_host, term, CAST(count(*) AS BIGINT) AS n_anchors
FROM t WHERE dst_host <> ''
GROUP BY dst_host, term
"""

_ORACLES["snapshot_diff"] = """
WITH old AS (SELECT doc_id AS key, md5(text) AS old_md5 FROM documents),
new AS (
  SELECT doc_id AS key,
         md5(CASE WHEN doc_id % 7 = 0 THEN text || ' [rev2]'
                  ELSE text END) AS new_md5
  FROM documents WHERE doc_id % 13 <> 0
  UNION ALL
  SELECT doc_id + 3000000000000000, md5(text) FROM documents
  WHERE doc_id % 10 = 0)
SELECT COALESCE(o.key, n.key) AS key,
       CASE WHEN o.old_md5 IS NULL THEN 'added'
            WHEN n.new_md5 IS NULL THEN 'removed'
            WHEN o.old_md5 = n.new_md5 THEN 'unchanged'
            ELSE 'changed' END AS status,
       o.old_md5, n.new_md5
FROM old o FULL OUTER JOIN new n ON o.key = n.key
"""

# Bloom sketch: same md5-prefix positions, 32-bit words (DuckDB's
# checked arithmetic rejects 1<<63; bit 31 keeps words positive so
# they compare as plain BIGINTs across engines).
_ORACLES["bloom_filter"] = """
WITH js AS (SELECT unnest(generate_series(0, 4)) AS j),
positions AS (
  SELECT ((('0x' || substr(md5(text || '#bloom-v1#'
            || CAST(j AS VARCHAR)), 1, 15))::BIGINT) % 262144) AS pos
  FROM documents CROSS JOIN js),
bloom AS (
  SELECT pos // 32 AS word_idx,
         bit_or(1::BIGINT << CAST(pos % 32 AS INTEGER)) AS bits
  FROM positions GROUP BY pos // 32),
probes AS (
  SELECT doc_id AS probe_id, text AS probe, TRUE AS actual
  FROM documents WHERE doc_id % 7 = 0
  UNION ALL
  SELECT doc_id + 2000000000000000, text || '-absent-', FALSE
  FROM documents WHERE doc_id % 11 = 0),
ppos AS (
  SELECT probe_id, actual,
         ((('0x' || substr(md5(probe || '#bloom-v1#'
            || CAST(j AS VARCHAR)), 1, 15))::BIGINT) % 262144) AS pos
  FROM probes CROSS JOIN js),
hits AS (
  SELECT p.probe_id, p.actual,
         CASE WHEN b.bits IS NOT NULL AND
                   (b.bits & (1::BIGINT << CAST(p.pos % 32 AS INTEGER)))
                   <> 0
              THEN 1 ELSE 0 END AS hit
  FROM ppos p LEFT JOIN bloom b ON p.pos // 32 = b.word_idx)
SELECT probe_id, CAST(sum(hit) AS BIGINT) AS n_hits,
       sum(hit) = 5 AS claimed, actual
FROM hits GROUP BY probe_id, actual
"""

# overlapping token windows: chunk c covers tokens [48c, 48c+64);
# last chunk = first whose end reaches the doc end. A data-sized
# 0..max(n_chunks) series + filter stands in for a correlated
# generate_series (DuckDB 1.0 lacks lateral args); the bound is a
# scalar subquery, so no document can outgrow the enumeration
# (r3 ADVICE: the old fixed 0..4096 silently truncated >196k-token
# docs).
_ORACLES["chunk_windows"] = """
WITH toks AS (
  SELECT doc_id AS id,
         list_filter(string_split(text, ' '), t -> t <> '') AS toks
  FROM documents),
base AS (
  SELECT id, toks, CAST(len(toks) AS BIGINT) AS n_tokens,
         CASE WHEN len(toks) <= 0 THEN 0
              ELSE 1 + (greatest(len(toks) - 64, 0) + 47) // 48
         END AS n_chunks
  FROM toks),
js AS (SELECT unnest(generate_series(
         0, (SELECT CAST(max(n_chunks) AS BIGINT) FROM base))) AS c)
SELECT id, CAST(c AS BIGINT) AS chunk_idx,
       CAST(n_chunks AS BIGINT) AS n_chunks,
       CAST(c * 48 AS BIGINT) AS start, n_tokens,
       array_to_string(list_slice(toks, c*48 + 1, c*48 + 64), ' ')
         AS chunk_text
FROM base CROSS JOIN js
WHERE c < n_chunks
"""

# TF-IDF with integer-quantized IDF: floor(log2(N * 2^20 / df)) via
# bin-length — no float log, bit-exact ranking.
_ORACLES["tfidf_top_terms"] = """
WITH toks AS (
  SELECT doc_id AS id,
         unnest(list_filter(string_split(text, ' '), t -> t <> ''))
           AS term
  FROM documents),
tf AS (SELECT id, term, CAST(count(*) AS BIGINT) AS tf
       FROM toks GROUP BY id, term),
dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df
          FROM tf GROUP BY term),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
scored AS (
  SELECT tf.id, tf.term, tf.tf, d.df,
         tf.tf * (length(bin(((SELECT n_docs FROM n) * 1048576) // d.df))
                  - 1) AS score_scaled
  FROM tf JOIN dfreq d USING (term)),
r AS (SELECT *, row_number() OVER (
        PARTITION BY id
        ORDER BY score_scaled DESC, tf DESC, term ASC) AS rk
      FROM scored)
SELECT id, term, tf, df, CAST(score_scaled AS BIGINT) AS score_scaled,
       CAST(rk AS BIGINT) AS rk
FROM r WHERE rk <= 5
"""


def oracle_sql() -> dict[str, str]:
    """EVERY queries() entry has an oracle. The two whose value math
    is not SQL-expressible (bloc_transformer softmax attention,
    complexity_signals DEFLATE) derive their row set and
    SQL-expressible columns independently and pin the rest as
    frozen-literal VALUES from the deterministic corpus (see
    edspdf_spark/frozen.py + jobs/freeze_goldens.py). Everything
    else, including the full PDF/HTML parse pipelines and the
    multimodal metadata columns (closed-form from the deterministic
    payload recipe), is derived end-to-end in DuckDB."""
    out = dict(_ORACLES)
    out["bloc_transformer"] = _bloc_transformer_oracle()
    out["complexity_signals"] = _complexity_oracle()
    out["host_pagerank"] = _pagerank_oracle()
    out["host_label_prop"] = _label_prop_oracle()
    out["host_degrees"] = _HOST_DEGREES_ORACLE
    out["paragraph_classify"] = _paragraph_oracle()
    out["fix_mojibake"] = _mojibake_oracle()
    out["registered_domain"] = _regdom_oracle()
    out["regdomain_stats"] = _regdomain_stats_oracle()
    out["html_meta"] = _META_ORACLE.format(html=_META_HTML_SQL)
    out["canonical_dedup"] = _CANONICAL_DEDUP_ORACLE.format(
        meta=_META_ORACLE.format(html=_META_HTML_SQL))
    out["crawl_schedule"] = _CRAWL_SCHEDULE_ORACLE
    out["robots_filter"] = _ROBOTS_ORACLE.format(txt=_ROBOTS_TXT_SQL,
                                                 url=_ROBOTS_URL_SQL)
    out["stream_band_dedup"] = _stream_band_oracle()
    out["crawl_delays"] = _CRAWL_DELAYS_ORACLE.format(
        txt=_ROBOTS_TXT_SQL)
    out["robots_sitemaps"] = _SITEMAPS_ORACLE.format(
        txt=_ROBOTS_TXT_SQL)
    out["char_profile"] = _CHAR_PROFILE_ORACLE
    out["normalized_dedup"] = _normalized_dedup_oracle()
    out["domain_top_terms"] = _DOMAIN_TERMS_ORACLE
    out["inverted_index"] = _INVERTED_INDEX_ORACLE
    out["cooc_pmi"] = _COOC_ORACLE
    out["dataset_card"] = _DATASET_CARD_ORACLE
    out["bm25_topk"] = _BM25_ORACLE
    out["skew_stats"] = _SKEW_STATS_ORACLE
    out["length_quantiles"] = _LENGTH_QUANTILES_ORACLE
    out["intra_line_dedup"] = _INTRA_LINE_ORACLE
    out["domain_hll"] = _DOMAIN_HLL_ORACLE
    out["trainable_classify"] = _trainable_oracle()
    out["simsearch_ivf"] = _ivf_oracle()
    out["semantic_dedup"] = _semantic_dedup_oracle()
    out["cluster_balance"] = _cluster_balance_oracle()
    out["multimodal_meta"] = _multimodal_oracle()
    out["png_decode"] = _png_decode_oracle()
    out["c4_filters"] = _C4_ORACLE
    out["surt_keys"] = _surt_oracle()
    return out
