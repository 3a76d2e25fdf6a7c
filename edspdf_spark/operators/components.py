"""Near-duplicate clustering: connected components over a pair list.

The step after pair detection in a dedup pipeline: group transitive
near-duplicates and pick one representative (min id) per cluster —
the keep-list a training-data pipeline actually consumes.

Algorithm: iterative min-label propagation (each node adopts the
minimum label among itself and its neighbors, repeated to fixpoint).
Deterministic, shuffle-per-iteration on the EDGE list only; iteration
count is bounded by the cluster diameter, which for near-dup graphs
is tiny (dup clusters are near-cliques). For adversarial long-chain
graphs the classic large-star/small-star variant halves diameters per
round; chains do not occur in LSH dedup output, so the simple loop is
the right cost model here.

DuckDB oracle: WITH RECURSIVE reachability, min reachable id per node
(see __spark_entry__).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F  # noqa: N812

from ..plans import gate


def _driver_union_find(table, spark):
    """Exact components of the collected (id_a, id_b) `table`: numpy
    min-label propagation with pointer jumping over ids factorized in
    sorted order (a component's min index IS its min id), returned as
    one Arrow (id, component) DataFrame of the table's id type; None
    when an id is NULL (the distributed joins never match it)."""
    if any(c.null_count for c in table.columns):
        return None
    ends = pa.chunked_array(table.column(0).chunks + table.column(1).chunks,
                            table.schema.field(0).type)
    _, first, inv = np.unique(ends.to_numpy(zero_copy_only=False),
                              return_index=True, return_inverse=True)
    a, b = inv.reshape(2, -1)
    comp = np.arange(len(first))
    while True:
        # labels only fall and stay >= the component min, so this
        # stops exactly when every edge joins equal, rooted labels
        nxt = comp.copy()
        low = np.minimum(comp[a], comp[b])
        np.minimum.at(nxt, a, low)
        np.minimum.at(nxt, b, low)
        nxt = nxt[nxt]
        if np.array_equal(nxt, comp):
            break
        comp = nxt
    node = ends.take(first)
    return spark.createDataFrame(
        pa.table({"id": node, "component": node.take(comp)}))


def connected_components(pairs: DataFrame, max_iter: int = 50) -> DataFrame:
    """pairs(id_a, id_b) -> (id, component) where component = min id
    reachable via pair edges. Nodes appearing in no pair are absent
    (callers union singletons if needed).

    Size-adaptive strategy under plans.gate.run_gated: near-dup pair
    sets are usually TINY relative to the corpus, and each distributed
    propagation round costs a join + checkpoint regardless of size.
    Pair sets within the driver gate's EDGE_MAX_ROWS pair rows AND
    EDGE_MAX_BYTES in-memory bytes (measured in-plan, so wide string
    ids route distributed) run exact union-find on the driver, which
    needs neither symmetric nor distinct edges; a driver frame
    (minhash_lsh_pairs, the one-block postings kernel) is gated from
    its own table, with no Spark job and no cache. Larger sets, and
    sets with a NULL id, run the distributed min-label propagation
    over the symmetric distinct edges of the input, which is cached
    for the call unless the caller cached it (pair generation usually
    costs far more than the labeling). Both paths give identical
    labels.

    Raises RuntimeError if the propagation has not converged after
    max_iter rounds (component diameter > max_iter) — unconverged
    labels must never masquerade as a correct keep-list."""
    def distributed(pairs):
        edges = (pairs.select(F.col("id_a").alias("src"),
                              F.col("id_b").alias("dst"))
                 .unionByName(pairs.select(F.col("id_b").alias("src"),
                                           F.col("id_a").alias("dst")))
                 .distinct()
                 .persist())
        try:
            return _propagate(edges, max_iter)
        finally:
            edges.unpersist()

    return gate.run_gated(
        pairs, gate.EDGE_MAX_ROWS, gate.EDGE_MAX_BYTES, ["id_a", "id_b"],
        lambda t: _driver_union_find(t, pairs.sparkSession), distributed)


def _propagate(edges: DataFrame, max_iter: int) -> DataFrame:
    """Distributed min-label propagation over the symmetric, persisted
    `edges`; the caller owns their cache."""
    # eager localCheckpoint TRUNCATES lineage each iteration — without
    # it the per-round join DAG nests and the driver's plan (and any
    # recompute) grows exponentially with iterations
    labels = (edges.select(F.col("src").alias("id"))
              .distinct()
              .withColumn("component", F.col("id"))
              .localCheckpoint(eager=True))

    # One join + one aggregation per iteration (message passing): each
    # node min-reduces its neighbors' labels UNIONed with its own. The
    # node's own label rides the union tagged in `own`, so convergence
    # ("did any label change?") is read off the SAME materialized
    # result with a cheap checkpoint scan — no second full join job
    # per round (the round-2 shape roughly doubled iteration cost).
    for _ in range(max_iter):
        msgs = (edges.join(labels, edges["dst"] == labels["id"])
                .select(F.col("src").alias("id"), "component",
                        F.lit(None).cast(labels.schema["component"].dataType)
                        .alias("own")))
        step = (labels.select("id", "component",
                              F.col("component").alias("own"))
                .unionByName(msgs)
                .groupBy("id")
                .agg(F.min("component").alias("component"),
                     # exactly one non-null `own` per id (its old label)
                     F.max("own").alias("old"))
                .localCheckpoint(eager=True))
        changed = (step.where(F.col("component") != F.col("old"))
                   .limit(1).count())  # scan of the checkpoint, no join
        labels = step.select("id", "component")
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} "
        "iterations (component diameter exceeds the cap); raise "
        "max_iter or switch to a large-star/small-star variant")


def dedup_keep_list(corpus: DataFrame, pairs: DataFrame,
                    id_col: str = "doc_id") -> DataFrame:
    """(id, component, keep) over the WHOLE corpus: docs in a cluster
    keep only the min-id representative; singletons keep themselves."""
    comp = connected_components(pairs)
    all_ids = corpus.select(F.col(id_col).alias("id"))
    labeled = (all_ids.join(comp, "id", "left")
               .withColumn("component",
                           F.coalesce(F.col("component"), F.col("id"))))
    return labeled.withColumn("keep", F.col("id") == F.col("component"))


def keep_best_per_cluster(corpus: DataFrame, pairs: DataFrame,
                          scores: DataFrame,
                          id_col: str = "doc_id") -> DataFrame:
    """(id, component, score, keep) over the whole corpus: each
    near-dup cluster keeps its BEST-scoring member (ties: smallest
    id) instead of dedup_keep_list's min-id rule — the production
    dedup policy when a quality signal exists (keep the highest-
    quality capture, drop its mirrors).

    `scores` is (id_col, score:BIGINT) — integer so the argmax is
    exact, and NON-NEGATIVE by contract (the repo-wide oracled-score
    rule): the struct-MIN negates score, and negation overflows at
    Long.MIN_VALUE, so the contract is enforced IN-PLAN — a negative
    score raises at execution rather than silently mis-ranking
    (r4 ADVICE). Winner selection is a struct-MIN over (-score, id):
    a partial aggregate with map-side combine, not a window sort,
    and — unlike negating the id — it orders (score DESC, id ASC)
    for ANY orderable id type (string urls included, matching
    dedup_keep_list; r3 ADVICE). Plan shape: corpus joins scores on
    id (usually collapses — scores are derived from the same scan),
    one component-keyed aggregation of (component, best) pairs, one
    join back on component.
    """
    labeled = dedup_keep_list(corpus, pairs, id_col).drop("keep")
    sc = scores.select(F.col(id_col).alias("id"),
                       F.col("score").cast("bigint").alias("score"))
    j = labeled.join(sc, "id")
    neg = F.expr(
        "CASE WHEN score < 0 THEN CAST(raise_error("
        "'keep_best_per_cluster: score must be non-negative "
        "(documented contract; negation of Long.MIN_VALUE overflows)')"
        " AS BIGINT) ELSE -score END")
    best = (j.groupBy("component")
            .agg(F.min(F.struct(neg.alias("ns"),
                                F.col("id").alias("i")))
                 .alias("b")))
    return (j.join(best, "component")
            .select("id", "component", "score",
                    (F.col("id") == F.col("b.i")).alias("keep")))
