"""Web link graph: href extraction, host-level edge rollup, and an
exact-integer PageRank — the standard quality prior for web corpora
(Common Crawl ranks hosts this way; CCNet/RefinedWeb-style pipelines
consume such a score as a selection signal).

Scale design (10^12 pages):
* `extract_links` is a pure-codegen regexp projection on the page
  scan — no Python, no shuffle; at 100 TB the cost is the scan it
  shares with every other per-page signal.
* `host_edges` collapses the page-level multigraph to a host-level
  weighted graph in ONE shuffle (groupBy src_host,dst_host with
  map-side partial aggregation). 10^12 pages -> ~10^7..10^8 hosts, a
  4-6 order-of-magnitude reduction, which is what makes the iteration
  cheap: every subsequent step runs on the host graph, never the
  corpus.
* `host_pagerank` keeps ALL arithmetic in scaled BIGINTs (rank is
  rank_scaled / 10^12): integer sums are associative, so the result
  is bit-identical regardless of partitioning, executor count, or
  aggregation order — the property every oracled operator in this
  repo maintains. It and `host_label_propagation` run their distinct
  edges under plans.gate.run_gated: an exact integer driver mirror,
  else one distributed iteration over the call-cached edges — one
  broadcast join of edges with the rank table and one map-side-
  combined sum on dst per round, ranks localCheckpoint-ed each round
  to truncate lineage (the
  connected-components pattern, operators/components.py). Nothing
  stays cached after a call returns.

Dangling hosts (no out-links) follow the "no redistribution" PageRank
variant: their mass leaks each step. That keeps the iteration one
aggregation (the redistribution variant needs a global scalar per
step) and only shifts ranks by a corpus-constant factor — fine for a
selection *prior*. Documented, deterministic, and mirrored exactly by
the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F  # noqa: N812

from ..plans import gate

# double-quoted href in an <a> tag, case-insensitive. Deliberately the
# common-denominator subset (no single quotes / unquoted values): the
# same pattern string must mean the same thing to Java regex (Spark)
# and RE2 (DuckDB oracle), which rules out lookarounds and backrefs.
HREF_PATTERN = '(?i)<a\\s[^>]*href="([^"]*)"'

PAGERANK_SCALE = 10 ** 12


def extract_links(pages: DataFrame, url_col: str = "url",
                  html_col: str = "html") -> DataFrame:
    """(url, html, ...) -> (src_url, href): one row per <a href="...">
    occurrence. Codegen-only (regexp_extract_all + explode); binary
    html is decoded as UTF-8 by the cast, matching the HTML kernel."""
    html = F.col(html_col).cast("string")
    return pages.select(
        F.col(url_col).alias("src_url"),
        F.explode(
            F.regexp_extract_all(html, F.lit(HREF_PATTERN), 1)
        ).alias("href"),
    )


def _host(col) -> "F.Column":
    """hostname of an absolute URL: text between '//' and the next
    '/', lowercased. split_part is 1-based and returns '' when the
    part is missing — identical in Spark and DuckDB."""
    return F.lower(F.split_part(F.split_part(col, F.lit("//"), F.lit(2)),
                                F.lit("/"), F.lit(1)))


def host_edges(links: DataFrame) -> DataFrame:
    """(src_url, href) -> (src_host, dst_host, n_links): absolute
    http(s) targets only (relative links carry no cross-host signal),
    self-loops dropped, multiplicity kept as the edge weight. One
    shuffle, partially aggregated map-side."""
    absolute = F.lower(F.col("href")).startswith("http://") | \
        F.lower(F.col("href")).startswith("https://")
    e = (links.where(absolute)
         .select(_host(F.col("src_url")).alias("src_host"),
                 _host(F.col("href")).alias("dst_host"))
         .where((F.col("dst_host") != "") &
                (F.col("src_host") != F.col("dst_host"))))
    return e.groupBy("src_host", "dst_host").agg(
        F.count(F.lit(1)).alias("n_links"))


def _distinct_edges(edges: DataFrame) -> DataFrame:
    """The distinct host-edge set the fixpoints iterate over. NULL
    endpoints are dropped up front: the distributed joins would drop
    them anyway, and the driver mirrors must never see a None host."""
    return (edges.select("src_host", "dst_host")
            .where(F.col("src_host").isNotNull()
                   & F.col("dst_host").isNotNull())
            .distinct())


def _driver_pagerank_rows(rows, iterations: int, damping_pct: int,
                          scale: int):
    """Exact mirror of the distributed BIGINT iteration in plain
    Python ints (all values non-negative, so `//` == Spark `div`):
    r0 = scale div n_hosts; contrib_h = sum in-edges rank div outdeg;
    r' = teleport + damping * contrib div 100. Bit-identical ranks
    to the Spark path by construction (asserted in tests)."""
    nodes = set()
    outdeg: dict = {}
    for s, d in rows:
        nodes.add(s)
        nodes.add(d)
        outdeg[s] = outdeg.get(s, 0) + 1
    if not nodes:
        return []
    r0 = scale // len(nodes)
    teleport = (100 - damping_pct) * r0 // 100
    rank = {h: r0 for h in nodes}
    for _ in range(iterations):
        contrib = dict.fromkeys(nodes, 0)
        for s, d in rows:
            contrib[d] += rank[s] // outdeg[s]
        rank = {h: teleport + damping_pct * contrib[h] // 100
                for h in nodes}
    return [(h, r, float(r) / float(scale)) for h, r in rank.items()]


def host_pagerank(edges: DataFrame, iterations: int = 4,
                  damping_pct: int = 85,
                  scale: int = PAGERANK_SCALE) -> DataFrame:
    """(src_host, dst_host[, n_links]) -> (host, rank_scaled, rank).

    Exact-integer PageRank over the DISTINCT edge set:

        r0        = scale div n_hosts
        contrib_h = sum over in-edges (s -> h) of  r[s] div outdeg[s]
        r'        = (100 - d) * r0 div 100  +  d * contrib div 100

    Every operation is BIGINT, so distributed sums are bit-exact and
    partition-invariant; `rank` is the single final float division.

    Runs under plans.gate.run_gated whatever the iteration count
    (per-round job scheduling would dwarf a small graph's arithmetic):
    the driver mirror (_driver_pagerank_rows) on the gated distinct
    edges, else the distributed iteration below. Both give identical
    rows (asserted in tests)."""
    if not 0 < damping_pct < 100:
        raise ValueError("damping_pct must be in (0, 100)")
    e = _distinct_edges(edges)
    return gate.run_gated(
        e, gate.EDGE_MAX_ROWS, gate.EDGE_MAX_BYTES, None,
        lambda t: edges.sparkSession.createDataFrame(
            _driver_pagerank_rows(list(zip(*t.to_pydict().values())),
                                  iterations, damping_pct, scale),
            f"host {e.dtypes[0][1]}, rank_scaled bigint, rank double"),
        lambda e: _distributed_pagerank(e, iterations, damping_pct,
                                        scale))


def _distributed_pagerank(e: DataFrame, iterations: int,
                          damping_pct: int, scale: int) -> DataFrame:
    """PageRank over the persisted distinct edges `e`. Per iteration:
    one broadcast join of the edges with the rank table and one
    map-side-combined sum on dst — a single Exchange. Each round's
    ranks are lazily localCheckpoint-ed to truncate lineage (the
    connected-components pattern, operators/components.py), and the
    result is materialized before the call-local caches go."""
    nodes = (e.select(F.col("src_host").alias("host"))
             .union(e.select(F.col("dst_host").alias("host")))
             .distinct().persist())
    outdeg = e.groupBy("src_host").agg(F.count(F.lit(1)).alias("outdeg"))
    e_deg = e.join(outdeg, "src_host").persist()
    try:
        r0 = scale // nodes.count()
        teleport = (100 - damping_pct) * r0 // 100
        ranks = nodes.select("host", F.lit(r0).cast("bigint")
                             .alias("rank_scaled"))
        # per-host zero row unioned into the contribution aggregation:
        # sum(contribs + 0) == coalesce(sum(contribs), 0) bit-exactly,
        # so dangling hosts keep teleport-only rank WITHOUT a per-
        # iteration nodes-left-join (one fewer join/broadcast build per
        # round).
        zero = nodes.select("host", F.lit(0).cast("bigint").alias("c"))
        for _ in range(iterations):
            r = F.broadcast(ranks)
            contrib_rows = (e_deg
                            .join(r, e_deg.src_host == r.host)
                            .select(F.col("dst_host").alias("host"),
                                    F.expr("rank_scaled div outdeg")
                                    .alias("c")))
            ranks = (contrib_rows.unionByName(zero)
                     .groupBy("host")
                     .agg(F.sum("c").alias("contrib"))
                     .select("host",
                             F.expr(f"{teleport}L + ({damping_pct}L * "
                                    f"contrib) div 100")
                             .alias("rank_scaled")))
            ranks = ranks.localCheckpoint(eager=False)
        return ranks.select(
            "host", "rank_scaled",
            (F.col("rank_scaled").cast("double") / F.lit(float(scale)))
            .alias("rank")).localCheckpoint(eager=True)
    finally:
        nodes.unpersist()
        e_deg.unpersist()


# --- anchor text -----------------------------------------------------------

# href + inner text of simple (non-nested) anchors; same portable
# regex subset rules as HREF_PATTERN
ANCHOR_PATTERN = '(?i)<a\\s[^>]*href="([^"]*)"[^>]*>([^<]*)</a>'


def extract_anchors(pages: DataFrame, url_col: str = "url",
                    html_col: str = "html") -> DataFrame:
    """(url, html, ...) -> (src_url, href, anchor): one row per
    anchor whose text contains no nested markup. Two capture groups
    pulled as parallel regexp_extract_all arrays and zipped — same
    match set, so the arrays always align."""
    html = F.col(html_col).cast("string")
    zipped = F.arrays_zip(
        F.regexp_extract_all(html, F.lit(ANCHOR_PATTERN), 1),
        F.regexp_extract_all(html, F.lit(ANCHOR_PATTERN), 2))
    return (pages.select(F.col(url_col).alias("src_url"),
                         F.explode(zipped).alias("z"))
            .select("src_url", F.col("z.0").alias("href"),
                    F.col("z.1").alias("anchor")))


def anchor_terms(anchors: DataFrame) -> DataFrame:
    """(src_url, href, anchor) -> (dst_host, term, n_anchors): the
    anchor-text expansion signal — terms other pages use when linking
    to a host (search/relevance pipelines index these alongside the
    target's own text; host-level here, matching host_edges).

    Absolute http(s) targets only; terms are lowercased whitespace
    tokens. One shuffle (groupBy with map-side combine); term
    cardinality is anchor vocabulary x hosts, far below the corpus.
    """
    absolute = F.lower(F.col("href")).startswith("http://") | \
        F.lower(F.col("href")).startswith("https://")
    toks = F.explode(F.filter(
        F.split(F.lower(F.col("anchor")), " "), lambda t: t != ""))
    t = (anchors.where(absolute)
         .select(_host(F.col("href")).alias("dst_host"),
                 toks.alias("term"))
         .where(F.col("dst_host") != ""))
    return t.groupBy("dst_host", "term").agg(
        F.count(F.lit(1)).alias("n_anchors"))


# --- page metadata ---------------------------------------------------------

# same portable-subset contract as HREF_PATTERN: double quotes, the
# canonical attribute order (name/rel before content/href)
TITLE_PATTERN = "(?i)<title[^>]*>([^<]*)</title>"
ROBOTS_PATTERN = '(?i)<meta\\s[^>]*name="robots"[^>]*content="([^"]*)"'
CANONICAL_PATTERN = '(?i)<link\\s[^>]*rel="canonical"[^>]*href="([^"]*)"'


def html_meta(pages: DataFrame, url_col: str = "url",
              html_col: str = "html") -> DataFrame:
    """(url, title, robots, has_noindex, canonical): the page-level
    crawl-policy signals — a compliant corpus drops has_noindex pages
    and dedups on canonical URLs before content dedup ever runs.
    First occurrence of each tag wins (get(..., 0) is NULL-safe when
    absent, unlike element_at under ANSI). Pure codegen, rides the
    page scan."""
    html = F.col(html_col).cast("string")
    first = lambda pat: F.get(  # noqa: E731
        F.regexp_extract_all(html, F.lit(pat), 1), 0)
    robots = F.lower(F.coalesce(first(ROBOTS_PATTERN), F.lit("")))
    return pages.select(
        F.col(url_col).alias("url"),
        first(TITLE_PATTERN).alias("title"),
        robots.alias("robots"),
        robots.like("%noindex%").alias("has_noindex"),
        first(CANONICAL_PATTERN).alias("canonical"))


def _driver_label_prop_rows(rows, seed_of: dict, iterations: int,
                            scale: int, hi_milli: int, lo_milli: int):
    """Exact mirror of the distributed BIGINT label spread in plain
    Python ints (non-negative, `//` == Spark `div`): seeded hosts
    clamped to seed*scale every round; unseeded hosts take the
    integer mean of in-neighbor scores, keeping their score when no
    in-edges exist. Bit-identical to the Spark path (tests)."""
    nodes = set()
    for s, d in rows:
        nodes.add(s)
        nodes.add(d)
    score = {h: (seed_of[h] * scale if h in seed_of else scale // 2)
             for h in nodes}
    for _ in range(iterations):
        in_sum: dict = {}
        in_n: dict = {}
        for s, d in rows:
            in_sum[d] = in_sum.get(d, 0) + score[s]
            in_n[d] = in_n.get(d, 0) + 1
        score = {h: (seed_of[h] * scale if h in seed_of
                     else (in_sum[h] // in_n[h] if h in in_sum
                           else score[h]))
                 for h in nodes}

    def verdict(v):
        return "spam" if v > hi_milli else ("ham" if v < lo_milli
                                            else "unknown")
    return [(h, v, verdict(v)) for h, v in score.items()]


def host_label_propagation(edges: DataFrame, seeds: DataFrame,
                           iterations: int = 2, scale: int = 1000,
                           hi_milli: int = 700,
                           lo_milli: int = 300) -> DataFrame:
    """Semi-supervised label spread over the host graph (the classic
    spam/quality propagation: labels are expensive, links are free —
    a host linked mostly by spam hosts is probably spam). Seeds carry
    label in {0 (ham), 1 (spam)}; every host ends with a spamminess
    score in [0, scale]:

        s0(h) = seed * scale if seeded else scale div 2
        s'(h) = s0(h) if seeded else
                avg over in-edges (u -> h) of s(u)   (integer div;
                hosts with no in-edges keep their current score)

    Seeded hosts are CLAMPED each round (the standard label-
    propagation constraint) so evidence flows outward but never
    overwrites ground truth. Scores stay NON-NEGATIVE BIGINTs — that
    keeps the one division per host per round engine-portable
    (truncation == floor), and sums/counts aggregate exactly, so the
    result is bit-identical under any partitioning.

    Output: (host, score_scaled, verdict) with verdict spam/ham/
    unknown by the hi/lo per-mille cut. Runs under plans.gate.run_gated,
    like host_pagerank; the distributed iteration has the
    host_pagerank plan shape (one broadcast of the score table into
    the edge join and one map-side-combined aggregation on dst per
    round)."""
    e = _distinct_edges(edges)

    def driver(table):
        # NULL-labeled seeds are unseeded in the distributed path
        # (isNotNull join); mirror that here instead of crashing on
        # None * int
        seed_rows = seeds.where(F.col("label").isNotNull()) \
            .select(F.col("host"),
                    F.col("label").cast("bigint")).collect()
        return edges.sparkSession.createDataFrame(
            _driver_label_prop_rows(
                list(zip(*table.to_pydict().values())),
                {r[0]: r[1] for r in seed_rows},
                iterations, scale, hi_milli, lo_milli),
            f"host {e.dtypes[0][1]}, score_scaled bigint, verdict string")

    return gate.run_gated(
        e, gate.EDGE_MAX_ROWS, gate.EDGE_MAX_BYTES, None, driver,
        lambda e: _distributed_label_prop(e, seeds, iterations, scale,
                                          hi_milli, lo_milli))


def _distributed_label_prop(e: DataFrame, seeds: DataFrame,
                            iterations: int, scale: int, hi_milli: int,
                            lo_milli: int) -> DataFrame:
    """Label spread over the persisted distinct edges `e`: per-round
    lazy localCheckpoints truncate lineage and the result is
    materialized before the call-local base table is released."""
    nodes = (e.select(F.col("src_host").alias("host"))
             .union(e.select(F.col("dst_host").alias("host")))
             .distinct())
    s = seeds.select(F.col("host").alias("host"),
                     F.col("label").cast("bigint").alias("seed"))
    base = (nodes.join(s, "host", "left")
            .select("host", "seed",
                    F.coalesce(F.col("seed") * scale,
                               F.lit(scale // 2))
                    .cast("bigint").alias("score_scaled"))
            .persist())
    try:
        scores = base.select("host", "score_scaled")
        for _ in range(iterations):
            r = F.broadcast(scores)
            inbound = (e.join(r, e.src_host == r.host)
                       .groupBy(F.col("dst_host").alias("host"))
                       .agg(F.sum("score_scaled").alias("s"),
                            F.count(F.lit(1)).alias("n")))
            scores = (base.join(inbound, "host", "left")
                      .select("host",
                              F.when(F.col("seed").isNotNull(),
                                     (F.col("seed") * scale)
                                     .cast("bigint"))
                              .when(F.col("s").isNotNull(),
                                    F.expr("s div n").cast("bigint"))
                              .otherwise(F.col("score_scaled"))
                              .alias("score_scaled")))
            scores = scores.localCheckpoint(eager=False)
        verdict = (F.when(F.col("score_scaled") > hi_milli,
                          F.lit("spam"))
                   .when(F.col("score_scaled") < lo_milli, F.lit("ham"))
                   .otherwise(F.lit("unknown")))
        return scores.select("host", "score_scaled",
                             verdict.alias("verdict")) \
            .localCheckpoint(eager=True)
    finally:
        base.unpersist()


def host_degrees(edges: DataFrame) -> DataFrame:
    """(host, out_deg, in_deg, reciprocal, recip_milli): degree
    profile plus link reciprocity — the fraction of a host's
    out-links that link back (mutual-linking rings are the classic
    link-farm signature; organic linking is mostly one-way).

    reciprocal = |{v : h->v AND v->h}| over the DISTINCT edge set;
    recip_milli = 1000 * reciprocal div out_deg (0 when out_deg = 0).

    One chain that reads its input once and caches nothing: each
    undirected pair (least, greatest) is aggregated with `max` over
    the two direction flags (which also absorbs duplicate edges, so
    no distinct is needed), the pair is exploded to one row per
    endpoint carrying that endpoint's (out, in) flags, and a host-
    keyed sum gives both degrees and the reciprocal count — two
    map-side-combined shuffles, no join. A self-loop is its own
    reverse: it explodes to one row and counts out 1, in 1,
    reciprocal 1. Edges with a NULL endpoint are dropped."""
    src, dst = F.col("src_host"), F.col("dst_host")
    pairs = (edges.where(src.isNotNull() & dst.isNotNull())
             .groupBy(F.least(src, dst).alias("a"),
                      F.greatest(src, dst).alias("b"))
             .agg(F.max(src <= dst).alias("f"),
                  F.max(src >= dst).alias("r")))
    ends = pairs.selectExpr(
        "inline(array_distinct(array(struct(a AS host, f AS o, r AS i),"
        " struct(b AS host, r AS o, f AS i))))")
    return (ends.groupBy("host")
            .agg(F.count_if("o").alias("out_deg"),
                 F.count_if("i").alias("in_deg"),
                 F.count_if(F.col("o") & F.col("i")).alias("reciprocal"))
            .withColumn(
                "recip_milli",
                F.expr("CASE WHEN out_deg = 0 THEN 0L "
                       "ELSE (1000 * reciprocal) div out_deg END")))
