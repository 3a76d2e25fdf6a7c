"""Link-graph extraction + exact-integer host PageRank
(operators/graph.py): regex subset semantics, edge rollup rules, a
hand-computed python reference for the integer iteration, partition
invariance, plan pins (codegen extraction, broadcast rank join), and
the fixpoint rule (one driver-gate call, identical driver and
distributed rows, no cache left behind)."""

import pytest
from pyspark.sql import functions as F

from edspdf_spark.operators.graph import (PAGERANK_SCALE, anchor_terms,
                                          extract_anchors, extract_links,
                                          host_edges, host_pagerank)
from edspdf_spark.plans import gate


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _both_paths(monkeypatch, run):
    """run() as routed by the driver gate, then again with the gate's
    row cap forced to 0 so the distributed iteration runs."""
    drv = run()
    with monkeypatch.context() as m:
        m.setattr(gate, "EDGE_MAX_ROWS", 0)
        dist = run()
    return drv, dist


@pytest.fixture(scope="module")
def pages(spark):
    rows = [
        ("https://a.example.com/1",
         '<p><a href="https://b.example.com/x">b</a>'
         '<A CLASS="z" HREF="https://c.example.com/y">c</A>'
         '<a href="/relative">rel</a>'
         '<a href="mailto:x@y.z">mail</a>'
         '<a href="HTTP://B.EXAMPLE.COM/upper">B again</a></p>'),
        ("https://b.example.com/1",
         '<a href="https://a.example.com/z">a</a>'
         '<a href="https://b.example.com/self">self</a>'),
        ("https://d.example.com/1", "<p>no links at all</p>"),
    ]
    return spark.createDataFrame(rows, "url string, html string")


def test_extract_links_subset_semantics(pages):
    links = {(r.src_url, r.href) for r in extract_links(pages).collect()}
    assert ("https://a.example.com/1", "https://b.example.com/x") in links
    # case-insensitive tag and attribute
    assert ("https://a.example.com/1", "https://c.example.com/y") in links
    assert ("https://a.example.com/1", "HTTP://B.EXAMPLE.COM/upper") in links
    # relative + mailto extracted here (filtering is host_edges' job)
    assert ("https://a.example.com/1", "/relative") in links
    assert len([1 for u, _ in links if u == "https://d.example.com/1"]) == 0


def test_host_edges_rules(pages):
    e = {(r.src_host, r.dst_host): r.n_links
         for r in host_edges(extract_links(pages)).collect()}
    # scheme case-folded, host lowercased, multiplicity kept
    assert e[("a.example.com", "b.example.com")] == 2
    assert e[("a.example.com", "c.example.com")] == 1
    assert e[("b.example.com", "a.example.com")] == 1
    # self-loop and non-http dropped
    assert ("b.example.com", "b.example.com") not in e
    assert all(not d.startswith("mailto") for _, d in e)


def _py_pagerank(edges, iterations=4, damping_pct=85,
                 scale=PAGERANK_SCALE):
    """Independent driver-side reference of the exact-integer rule."""
    e = sorted(set(edges))
    nodes = sorted({s for s, _ in e} | {t for _, t in e})
    outdeg = {}
    for s, _ in e:
        outdeg[s] = outdeg.get(s, 0) + 1
    r0 = scale // len(nodes)
    tele = (100 - damping_pct) * r0 // 100
    r = {h: r0 for h in nodes}
    for _ in range(iterations):
        contrib = {h: 0 for h in nodes}
        for s, t in e:
            contrib[t] += r[s] // outdeg[s]
        r = {h: tele + damping_pct * contrib[h] // 100 for h in nodes}
    return r


GRAPH = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("d", "c")]
# d is a source-only host (rank stays teleport-ish); no host dangles
# except b? b->c exists; all but d have in-links.


def test_pagerank_matches_python_reference(spark):
    edges = spark.createDataFrame(GRAPH, "src_host string, dst_host string")
    got = {r.host: r.rank_scaled
           for r in host_pagerank(edges, iterations=4).collect()}
    assert got == _py_pagerank(GRAPH, iterations=4)


def test_pagerank_partition_invariant(spark):
    one = spark.createDataFrame(GRAPH, "src_host string, dst_host string")
    many = one.repartition(7)
    a = sorted((r.host, r.rank_scaled)
               for r in host_pagerank(one, iterations=3).collect())
    b = sorted((r.host, r.rank_scaled)
               for r in host_pagerank(many, iterations=3).collect())
    assert a == b


def test_pagerank_rank_ordering_sensible(spark):
    """c has 3 in-links, a has 1 from the best-ranked host; both must
    beat the never-linked d."""
    edges = spark.createDataFrame(GRAPH, "src_host string, dst_host string")
    got = {r.host: r.rank_scaled for r in host_pagerank(edges).collect()}
    assert got["c"] > got["a"] > got["d"]
    assert got["c"] > got["b"]


def test_pagerank_rejects_bad_damping(spark):
    edges = spark.createDataFrame(GRAPH, "src_host string, dst_host string")
    with pytest.raises(ValueError):
        host_pagerank(edges, damping_pct=0)


def test_extraction_plan_is_codegen_only(pages):
    """No Python eval and no shuffle in the per-page link projection;
    the single Exchange belongs to the host rollup groupBy."""
    links_plan = _plan(extract_links(pages))
    assert "EvalPython" not in links_plan
    assert "Exchange" not in links_plan
    rollup_plan = _plan(host_edges(extract_links(pages)))
    assert "EvalPython" not in rollup_plan
    assert rollup_plan.count("Exchange") == 1, rollup_plan


def test_extract_anchors_pairs_href_with_text(spark):
    rows = [("https://a.example.com/1",
             '<a href="https://b.example.com/x">Read This</a>'
             '<a href="https://c.example.com/y"><b>nested</b></a>'
             '<A HREF="https://d.example.com/z" rel="nofollow">plain</A>')]
    pages = spark.createDataFrame(rows, "url string, html string")
    got = {(r.href, r.anchor) for r in extract_anchors(pages).collect()}
    assert ("https://b.example.com/x", "Read This") in got
    assert ("https://d.example.com/z", "plain") in got
    # nested markup anchors are outside the simple-subset contract
    assert all("nested" not in a for _, a in got)


def test_anchor_terms_rollup(spark):
    rows = [("https://a.example.com/1",
             '<a href="https://b.example.com/x">Best Guide</a>'
             '<a href="https://b.example.com/y">best   docs</a>'
             '<a href="/rel">relative skipped</a>')]
    pages = spark.createDataFrame(rows, "url string, html string")
    got = {(r.dst_host, r.term): r.n_anchors
           for r in anchor_terms(extract_anchors(pages)).collect()}
    assert got[("b.example.com", "best")] == 2  # case-folded, both links
    assert got[("b.example.com", "guide")] == 1
    assert got[("b.example.com", "docs")] == 1
    assert all(h == "b.example.com" for h, _ in got)


def test_anchor_plan_codegen_single_shuffle(spark):
    pages = spark.createDataFrame(
        [("https://a.example.com/1",
          '<a href="https://b.example.com/x">hello</a>')],
        "url string, html string")
    plan = _plan(anchor_terms(extract_anchors(pages)))
    assert "EvalPython" not in plan
    assert plan.count("Exchange") == 1, plan


def test_html_meta_signals(spark):
    from edspdf_spark.operators.graph import html_meta
    rows = [
        ("u1", '<head><TITLE>A Page</TITLE>'
               '<meta name="robots" content="NOINDEX, nofollow">'
               '<link rel="canonical" href="https://c.com/a"></head>'),
        ("u2", "<head><title>First</title><title>Second</title></head>"),
        ("u3", "<body>no head tags at all</body>"),
    ]
    pages = spark.createDataFrame(rows, "url string, html string")
    got = {r.url: r for r in html_meta(pages).collect()}
    assert got["u1"].title == "A Page"
    assert got["u1"].has_noindex and got["u1"].robots == "noindex, nofollow"
    assert got["u1"].canonical == "https://c.com/a"
    assert got["u2"].title == "First"            # first occurrence wins
    assert not got["u2"].has_noindex
    assert got["u3"].title is None and got["u3"].canonical is None
    assert got["u3"].robots == "" and not got["u3"].has_noindex


def test_html_meta_plan_zero_shuffle(spark):
    from edspdf_spark.operators.graph import html_meta
    pages = spark.createDataFrame([("u", "<title>t</title>")],
                                  "url string, html string")
    plan = _plan(html_meta(pages))
    assert "Exchange" not in plan and "EvalPython" not in plan, plan


def test_label_propagation_spreads_and_clamps(spark):
    from edspdf_spark.operators.graph import host_label_propagation
    # spam seed s -> a -> b chain; ham seed h -> c; d isolated-ish
    edges = spark.createDataFrame(
        [("s", "a"), ("a", "b"), ("h", "c"), ("d", "s")],
        "src_host string, dst_host string")
    seeds = spark.createDataFrame([("s", 1), ("h", 0)],
                                  "host string, label int")
    got = {r.host: r for r in host_label_propagation(
        edges, seeds, iterations=2).collect()}
    assert got["s"].score_scaled == 1000      # clamped every round
    assert got["s"].verdict == "spam"
    assert got["a"].score_scaled == 1000      # inherits spam seed
    assert got["b"].score_scaled == 1000      # two hops by round 2
    assert got["c"].score_scaled == 0 and got["c"].verdict == "ham"
    assert got["d"].score_scaled == 500       # no in-edges: neutral
    assert got["d"].verdict == "unknown"


def test_label_propagation_averages_mixed_evidence(spark):
    from edspdf_spark.operators.graph import host_label_propagation
    edges = spark.createDataFrame(
        [("s", "x"), ("h", "x")], "src_host string, dst_host string")
    seeds = spark.createDataFrame([("s", 1), ("h", 0)],
                                  "host string, label int")
    got = {r.host: r for r in host_label_propagation(
        edges, seeds, iterations=1).collect()}
    assert got["x"].score_scaled == 500       # (1000 + 0) div 2
    assert got["x"].verdict == "unknown"


def test_label_propagation_partition_invariant(spark):
    from edspdf_spark.operators.graph import host_label_propagation
    edges = spark.createDataFrame(
        [(f"h{i % 7}", f"h{(3 * i + 1) % 7}") for i in range(30)],
        "src_host string, dst_host string")
    seeds = spark.createDataFrame([("h0", 1), ("h3", 0)],
                                  "host string, label int")
    a = sorted(map(tuple, host_label_propagation(
        edges, seeds, iterations=3).collect()))
    b = sorted(map(tuple, host_label_propagation(
        edges.repartition(5), seeds, iterations=3).collect()))
    assert a == b


def test_canonical_grouping(spark):
    """Pages naming the same canonical collapse into one group;
    pages without one stand alone under their own url."""
    from edspdf_spark.operators.graph import html_meta
    from pyspark.sql import functions as F
    rows = [
        ("u1", '<link rel="canonical" href="https://c.com/x">'),
        ("u2", '<link rel="canonical" href="https://c.com/x">'),
        ("u3", "<p>no canonical</p>"),
    ]
    meta = html_meta(spark.createDataFrame(
        rows, "url string, html string"))
    key = F.coalesce(F.col("canonical"), F.col("url"))
    got = {r.canon_key: (r.n, r.keep)
           for r in meta.groupBy(key.alias("canon_key"))
           .agg(F.count(F.lit(1)).alias("n"),
                F.min("url").alias("keep")).collect()}
    assert got == {"https://c.com/x": (2, "u1"), "u3": (1, "u3")}


def test_pagerank_iteration_broadcasts_ranks(spark, monkeypatch):
    """The distributed round's plan (captured as it is checkpointed)
    broadcasts the rank table into the edge join."""
    edges = spark.createDataFrame(GRAPH, "src_host string, dst_host string")
    monkeypatch.setattr(gate, "EDGE_MAX_ROWS", 0)
    plans = []
    orig = type(edges).localCheckpoint
    monkeypatch.setattr(type(edges), "localCheckpoint",
                        lambda self, *a, **k: plans.append(_plan(self))
                        or orig(self, *a, **k))
    host_pagerank(edges, iterations=1).collect()
    round_plan = plans[0]
    assert "EvalPython" not in round_plan
    assert "BroadcastHashJoin" in round_plan, round_plan


def test_host_degrees_and_reciprocity(spark):
    from edspdf_spark.operators.graph import host_degrees
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a"),        # mutual pair
         ("a", "c"), ("c", "d"),        # one-way chain
         ("a", "c"),                    # duplicate edge: counted once
         ("e", "e"),                    # self-loop: its own reverse
         ("a", None), (None, "f")],     # NULL endpoint: dropped
        "src_host string, dst_host string")
    got = {r.host: r for r in host_degrees(edges).collect()}
    assert set(got) == {"a", "b", "c", "d", "e"}
    assert (got["a"].out_deg, got["a"].in_deg) == (2, 1)
    assert got["a"].reciprocal == 1 and got["a"].recip_milli == 500
    assert got["b"].reciprocal == 1 and got["b"].recip_milli == 1000
    assert got["c"].reciprocal == 0 and got["c"].recip_milli == 0
    # sink-only host: out_deg 0, recip 0 (no division blowup)
    assert (got["d"].out_deg, got["d"].in_deg,
            got["d"].recip_milli) == (0, 1, 0)
    assert (got["e"].out_deg, got["e"].in_deg, got["e"].reciprocal,
            got["e"].recip_milli) == (1, 1, 1, 1000)


def test_union_find_paths_agree_across_threshold(spark, monkeypatch):
    """The driver/distributed cutover inside connected_components can
    never silently diverge: identical (id, component) labels from the
    exact driver union-find and the distributed min-label propagation
    on the same graph (r3 VERDICT #8). Graph mixes chains, a clique,
    string-ordering hazards via long ids, a self-loop, and an
    isolated pair."""
    import random

    from edspdf_spark.operators.components import connected_components

    rnd = random.Random(42)
    edges = set()
    for c in range(8):
        members = [c * 100 + i for i in range(rnd.randint(2, 12))]
        for x, y in zip(members, members[1:]):
            edges.add((x, y) if rnd.random() < .5 else (y, x))
    # a clique (diameter 1), a self-loop, an isolated pair
    clique = [9000 + i for i in range(6)]
    edges |= {(x, y) for x in clique for y in clique if x < y}
    edges |= {(5000, 5000), (6000, 6001)}
    pairs = spark.createDataFrame(sorted(edges), "id_a long, id_b long")
    drv = {(r.id, r.component) for r in
           connected_components(pairs).collect()}
    monkeypatch.setattr(gate, "EDGE_MAX_ROWS", 0)
    dist = {(r.id, r.component) for r in
            connected_components(pairs).collect()}
    assert drv == dist and drv


def test_union_find_null_ids_match_distributed(spark, monkeypatch):
    """A pair set with a NULL id labels exactly as the distributed
    propagation does (the NULL node takes its neighbour's label)."""
    from edspdf_spark.operators.components import connected_components

    pairs = spark.createDataFrame([(None, 5), (5, 6), (7, None), (8, 9)],
                                  "id_a long, id_b long")
    got = sorted(map(tuple, connected_components(pairs).collect()),
                 key=repr)
    monkeypatch.setattr(gate, "EDGE_MAX_ROWS", 0)
    dist = sorted(map(tuple, connected_components(pairs).collect()),
                  key=repr)
    assert got == dist and (8, 8) in got and (9, 8) in got


def test_union_find_bytes_gate_routes_wide_ids_distributed(spark, monkeypatch):
    """Bytes-aware routing (r4 VERDICT #6): an edge set well below the
    1M-row driver threshold but with WIDE string ids (long URLs) must
    take the distributed path — collected Python strings cost far more
    than the row count suggests. Identical labels either way."""
    from edspdf_spark.operators import components as C

    wide = "https://example.org/" + "x" * 400 + "/doc"
    # 20 chains of 20 nodes (diameter < max_iter) + 200 isolated pairs
    rows = [(f"{wide}c{c:02d}n{i:02d}", f"{wide}c{c:02d}n{i + 1:02d}")
            for c in range(20) for i in range(19)]
    rows += [(f"{wide}a{i}", f"{wide}b{i}") for i in range(200)]
    pairs = spark.createDataFrame(rows, "id_a string, id_b string")

    calls = []
    orig = C._driver_union_find
    monkeypatch.setattr(C, "_driver_union_find",
                        lambda *a: calls.append(1) or orig(*a))
    # payload ~ 1160 edges x ~850 bytes >> 64 KiB gate -> distributed
    monkeypatch.setattr(gate, "EDGE_MAX_BYTES", 64 * 1024)
    dist = {(r.id, r.component) for r in
            C.connected_components(pairs).collect()}
    assert not calls, "wide-id edge set must not be collected"
    # generous gate -> driver path; labels must be identical
    monkeypatch.setattr(gate, "EDGE_MAX_BYTES", 1 << 30)
    drv = {(r.id, r.component) for r in
           C.connected_components(pairs).collect()}
    assert calls, "small-payload path should use driver union-find"
    assert drv == dist and len({c for _, c in drv}) == 220


def test_graph_fixpoints_consult_driver_gate_once(spark, monkeypatch):
    """Every host_pagerank / host_label_propagation call asks the
    driver gate exactly once, whatever the iteration count and
    whichever path it then takes; both paths give identical rows."""
    from edspdf_spark.operators import graph as G

    edges = spark.createDataFrame(GRAPH, "src_host string, dst_host string")
    seeds = spark.createDataFrame([("a", 1), ("d", 0)],
                                  "host string, label int")
    calls = []
    orig = gate.driver_table
    monkeypatch.setattr(gate, "driver_table",
                        lambda *a: calls.append(1) or orig(*a))
    for iters in (4, 12):
        for op in (lambda: G.host_pagerank(edges, iterations=iters),
                   lambda: G.host_label_propagation(
                       edges, seeds, iterations=iters)):
            def run():
                calls.clear()
                rows = sorted(map(tuple, op().collect()))
                assert len(calls) == 1, (iters, len(calls))
                return rows
            drv, dist = _both_paths(monkeypatch, run)
            assert drv == dist and drv


def _cache_entries(spark) -> int:
    return spark._jsparkSession.sharedState().cacheManager() \
        .numCachedEntries()


def test_graph_operators_leave_no_cache_entry(spark, monkeypatch):
    """No graph operator leaves a CacheManager entry behind, on the
    driver path or the distributed one: each call owns and releases
    what it persists."""
    from edspdf_spark.operators import graph as G

    edges = spark.createDataFrame(GRAPH, "src_host string, dst_host string")
    seeds = spark.createDataFrame([("a", 1)], "host string, label int")
    ops = [lambda: G.host_degrees(edges),
           lambda: G.host_pagerank(edges, iterations=4),
           lambda: G.host_pagerank(edges, iterations=12),
           lambda: G.host_label_propagation(edges, seeds, iterations=2),
           lambda: G.host_label_propagation(edges, seeds, iterations=9)]
    for op in ops:
        def run():
            before = _cache_entries(spark)
            op().collect()
            return _cache_entries(spark) - before
        assert _both_paths(monkeypatch, run) == (0, 0)


def test_host_degrees_plan_reads_input_once(spark, tmp_path):
    """host_degrees is one chain over its input: one file scan, two
    hash exchanges (pairs, then hosts), no join, no broadcast and no
    cached table."""
    from edspdf_spark.operators.graph import host_degrees

    path = str(tmp_path / "edges")
    spark.createDataFrame(GRAPH, "src_host string, dst_host string") \
        .write.parquet(path)
    plan = _plan(host_degrees(spark.read.parquet(path)))
    assert plan.count("FileScan") == 1, plan
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert "Join" not in plan and "Broadcast" not in plan, plan
    assert "InMemoryTableScan" not in plan, plan


def test_pagerank_driver_and_distributed_paths_identical(spark,
                                                        monkeypatch):
    """The size-adaptive gate (r5): broadcast-scale graphs run the
    exact integer iteration on the driver; forcing the distributed
    iteration (zero driver-gate row cap) must yield bit-identical
    ranks."""
    edges = spark.createDataFrame(GRAPH, "src_host string, dst_host string")
    drv, dist = _both_paths(monkeypatch, lambda: sorted(
        (r.host, r.rank_scaled, r.rank)
        for r in host_pagerank(edges, iterations=4).collect()))
    assert drv == dist and drv


def test_label_prop_driver_and_distributed_paths_identical(spark,
                                                          monkeypatch):
    from edspdf_spark.operators.graph import host_label_propagation

    edges = spark.createDataFrame(GRAPH, "src_host string, dst_host string")
    seeds = spark.createDataFrame([("a", 1), ("d", 0)],
                                  "host string, label int")
    for iters in (3, 9):
        drv, dist = _both_paths(monkeypatch, lambda: sorted(
            (r.host, r.score_scaled, r.verdict)
            for r in host_label_propagation(
                edges, seeds, iterations=iters).collect()))
        assert drv == dist and drv
    # the distributed 9-round spread against the plain-int mirror
    from edspdf_spark.operators.graph import _driver_label_prop_rows
    want = sorted(_driver_label_prop_rows(
        sorted(set(GRAPH)), {"a": 1, "d": 0}, 9, 1000, 700, 300))
    assert dist == want


def test_pagerank_bytes_gate_routes_wide_ids_distributed(spark,
                                                         monkeypatch):
    """A tiny edge COUNT with very wide string hosts must exceed the
    bytes gate and take the distributed path (same ranks)."""
    wide = [("h" * 4096 + s, "h" * 4096 + d) for s, d in GRAPH]
    edges = spark.createDataFrame(wide, "src_host string, dst_host string")
    drv = sorted((r.host, r.rank_scaled) for r in host_pagerank(
        edges, iterations=2).collect())
    monkeypatch.setattr(gate, "EDGE_MAX_BYTES", 1024)
    routed = sorted((r.host, r.rank_scaled) for r in host_pagerank(
        edges, iterations=2).collect())
    assert drv == routed


def test_label_propagation_null_seed_matches_distributed(spark,
                                                         monkeypatch):
    """r5 ADVICE #2: a NULL-labeled seed row is unseeded in the
    distributed path (isNotNull semantics); the driver fixpoint must
    mirror that instead of raising TypeError."""
    from edspdf_spark.operators.graph import host_label_propagation

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c")],
        "src_host string, dst_host string")
    seeds = spark.createDataFrame(
        [("a", 1), ("b", None)], "host string, label int")
    fast, dist = _both_paths(monkeypatch, lambda: {
        (r.host, r.score_scaled, r.verdict)
        for r in host_label_propagation(edges, seeds).collect()})
    assert fast == dist
