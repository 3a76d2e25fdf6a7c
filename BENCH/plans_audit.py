#!/usr/bin/env python
"""Physical-plan audit: for EVERY driver-contract query, count the
plan features that decide 100-TB behavior — distinct shuffle
Exchanges, distinct BroadcastExchanges, BroadcastHashJoin /
BroadcastNestedLoopJoin (dim sides kept off the wire), SortMergeJoin,
Window sorts, Python stages (MapInArrow / MapInPandas /
FlatMapGroupsInPandas / ArrowEvalPython), WholeStageCodegen spans —
and write the table to BENCH/PLANS.md.

Methodology (r5): counts come from a TREE WALK of the compiled
physical plan, not from grepping its printed text. The walk
- stops at InMemoryTableScan boundaries (a cached table's fill plan
  executes once per session, not once per reference — iterative
  fixpoints like host_pagerank print it per iteration), and
- compiles with AQE off so the static ReuseExchange rule replaces
  duplicate exchanges with ReusedExchange leaves (AQE performs the
  same reuse at runtime per query stage);
- Exchange / BX are DISTINCT canonicalized exchanges (semanticHash),
  i.e. the number of times data actually moves in a warm-cache run.
Textual counts inflated iterative queries ~10x (host_pagerank showed
51 "Exchange" substrings for 5 real shuffles).

The pytest plan pins assert the load-bearing properties per operator;
this artifact makes the whole surface inspectable at a glance and
catches drift (a new Exchange shows up as a diff in the committed
table).

Usage: python BENCH/plans_audit.py   (analysis only — plans are
compiled, nothing executes; safe to run alongside other work).
Drift check against the committed table:
    python BENCH/plans_audit.py && git diff --exit-code BENCH/PLANS.md
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF_DIR = "/root/testdata/sf0.01"

PY_STAGES = ("MapInArrow", "MapInPandas", "FlatMapGroupsInPandas",
             "ArrowEvalPython", "BatchEvalPython", "EvalPython")


def _walk(node):
    """Yield (node, nodeName) over the plan tree, stopping at cache
    boundaries: a cached table's fill plan runs once per session, so
    its operators don't belong to this query's per-run cost."""
    name = node.nodeName()
    yield node, name
    if "InMemoryTableScan" in name:
        return
    ch = node.children()
    for i in range(ch.size()):
        yield from _walk(ch.apply(i))


def _audit_plan(plan) -> dict:
    shuffles, broadcasts = set(), set()
    c = {"BHJ": 0, "BNLJ": 0, "SMJ": 0, "Window": 0, "Py": 0,
         "WSCG": 0, "ReusedEx": 0}
    for n, name in _walk(plan):
        if name == "Exchange":
            shuffles.add(n.canonicalized().semanticHash())
        elif name == "BroadcastExchange":
            broadcasts.add(n.canonicalized().semanticHash())
        elif name == "ReusedExchange":
            c["ReusedEx"] += 1
        elif name == "BroadcastHashJoin":
            c["BHJ"] += 1
        elif name == "BroadcastNestedLoopJoin":
            c["BNLJ"] += 1
        elif name == "SortMergeJoin":
            c["SMJ"] += 1
        elif name == "Window":
            c["Window"] += 1
        elif any(p in name for p in PY_STAGES):
            c["Py"] += 1
        elif name.startswith("WholeStageCodegen"):
            c["WSCG"] += 1
    c["Exchange"] = len(shuffles)
    c["BX"] = len(broadcasts)
    return c


def main() -> None:
    from pyspark.sql import SparkSession

    spark = (SparkSession.builder.master("local[4]")
             .appName("plans-audit")
             .config("spark.sql.shuffle.partitions", "8")
             # AQE off so ReuseExchange is applied statically and the
             # compiled tree is the full (non-adaptive) physical plan;
             # the shipped pipelines run WITH AQE, which only further
             # collapses partitions/exchanges at runtime.
             .config("spark.sql.adaptive.enabled", "false")
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry_mod

    rows = []
    for name, fn in sorted(entry_mod.queries().items()):
        try:
            plan = fn(spark, SF_DIR)._jdf.queryExecution().executedPlan()
            counts = _audit_plan(plan)
        except Exception as exc:  # pragma: no cover - audit robustness
            rows.append((name, None, f"PLAN ERROR: {exc}"))
            continue
        rows.append((name, counts, None))

    lines = [
        "# Physical-plan audit (generated by BENCH/plans_audit.py)",
        "",
        "Distinct-plan-node counts from a tree walk of every",
        "driver-contract query's compiled physical plan at sf0.01.",
        "Exchange = DISTINCT data shuffles (canonicalized semantic",
        "hash; broadcast exchanges counted separately under BX);",
        "BHJ/BNLJ = broadcast joins (dim side never shuffles); SMJ =",
        "sort-merge joins (co-partitioned big-big); Window = windowed",
        "sorts; Py = Arrow/Pandas stages (the only Python allowed —",
        "never per-row UDFs); WSCG = whole-stage-codegen spans. The",
        "walk stops at cache boundaries (a cached table's fill plan",
        "runs once per session, not per query) and at ReusedExchange",
        "leaves, so counts reflect data that actually moves in a",
        "warm-cache run. Drift in this table is a plan regression.",
        "Size-adaptive operators (host_pagerank, host_label_prop,",
        "the near-dup family: shingling, the pair counters, the",
        "minhash chain and dedup components) compile to a",
        "LocalTableScan at this SF -- the sf0.01 text, shingle and",
        "edge sets sit under their bytes-aware driver gates; the",
        "distributed plan shapes are pinned by tests (test_graph.py and",
        "test_dedup_edge_cases.py driver/distributed equality, the",
        "gates' caps forced to 0).",
        "",
        "Per-query COST evidence is BENCH/history.jsonl and the scale",
        "curve; this table is the SHAPE evidence.",
        "",
        "| query | Exchange | BX | BHJ | BNLJ | SMJ | Window | Py | WSCG |",
        "|---|---|---|---|---|---|---|---|---|",
    ]
    for name, counts, err in rows:
        if err:
            lines.append(f"| {name} | {err} |||||||")
            continue
        lines.append(
            "| {} | {} | {} | {} | {} | {} | {} | {} | {} |".format(
                name, counts["Exchange"], counts["BX"], counts["BHJ"],
                counts["BNLJ"], counts["SMJ"], counts["Window"],
                counts["Py"], counts["WSCG"]))
    n_python = sum(1 for _, c, e in rows if c and c["Py"])
    n_noshuffle = sum(1 for _, c, e in rows if c and c["Exchange"] == 0)
    lines += [
        "",
        f"Totals: {len(rows)} queries; {n_noshuffle} fully",
        f"shuffle-free; {n_python} use Arrow/Pandas stages (all batch",
        "kernels — the per-row-UDF count is zero by construction,",
        "asserted in tests/test_plan_quality.py).",
        "",
    ]
    out = os.path.join(ROOT, "BENCH", "PLANS.md")
    with open(out, "w") as fh:
        fh.write("\n".join(lines))
    print(f"wrote {out}: {len(rows)} queries")
    spark.stop()


if __name__ == "__main__":
    main()
