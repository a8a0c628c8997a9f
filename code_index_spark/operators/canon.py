"""Canonicalization — connected components over the mention-similarity
graph via alternating large-star / small-star (J5 in SURVEY.md §2.5).

The reference canonicalizes implicitly by exact deterministic id
(uuid5 of path:start:end, file_processing_helpers.py:68-71); at
transcript scale we instead cluster linked surface pairs into entities.

Algorithm (Kiveris et al., "Connected Components in MapReduce and
Beyond"): iterate
  large-star: ∀u, attach every neighbor v > u to m = min(Γ⁺(u));
  small-star: ∀u, attach every neighbor v ≤ u (and u) to m;
until the edge set reaches a fixpoint — O(log n) rounds, each round two
shuffles (groupBy u). Lineage is truncated every round with
localCheckpoint so 10^12-scale iteration doesn't blow the plan tree
(SURVEY.md §7.3).

Node ids are xxhash64(surface) — deterministic, so re-runs converge to
identical components (idempotent-resume discipline X11/X12).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, functions as F


def _star_round(
    edges: DataFrame, large: bool, num_partitions: int | None = None
) -> DataFrame:
    """One large- or small-star round over canonical (u, v) edges.

    num_partitions sizes the round's input shuffle PLAN-LOCALLY
    (round-4 ADVICE: mutating spark.sql.shuffle.partitions in
    try/finally races concurrent queries on a shared session): one
    explicit repartition(n, u) after the union — the distinct on
    (u, v), the min-neighbor groupBy(u), and the join on u all cluster
    on u or a superset, so Catalyst reuses that single exchange for
    all three consumers (the amortization that justifies moving raw
    rows). The OUTPUT distinct deliberately has NO such repartition:
    its exchange has one consumer, so a repartition there would only
    move the star-contraction's raw duplicate stream un-combined
    (CLAUDE.md: don't repartition directly ahead of an aggregation) —
    letting distinct plan its own exchange keeps the map-side dedup,
    and width control matters less here because this path only runs
    past the 10^6-edge driver cutover, never on tiny graphs."""
    # neighborhood with self: Γ⁺(u) = Γ(u) ∪ {u}
    und = edges.select("u", "v").union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    und = und.union(und.select("u", F.col("u").alias("v")))
    if num_partitions:
        und = und.repartition(num_partitions, "u")
    und = und.distinct()
    m = und.groupBy("u").agg(F.min("v").alias("m"))
    nbr = und.join(m, "u")
    if large:
        out = nbr.filter(F.col("v") > F.col("u")).select(F.col("v").alias("u"), F.col("m").alias("v"))
    else:
        out = nbr.filter(F.col("v") <= F.col("u")).select(F.col("v").alias("u"), F.col("m").alias("v"))
    out = out.filter(F.col("u") != F.col("v"))
    return out.distinct()


def connected_components(
    pairs: DataFrame, max_iter: int = 20, driver_max_edges: int = 1_000_000
) -> DataFrame:
    """pairs(surface_a, surface_b) → (surface, component) long labels.

    component = min xxhash64 id in the component; singletons are not
    returned (callers union them back, see materialize.assign_entities).

    Execution is sized to the graph, measured both ways:
    - ≤ driver_max_edges: collect the (hashed) edge list and run
      union-find on the driver — the mention-pair graph is VOCAB-scale
      (edge count ~ distinct-surface pairs, not corpus rows), and a
      distributed iteration on a small graph is pure scheduling
      overhead (measured ~10s for a 53-edge graph at 32 cores vs ~0.2s
      driver-side; 10^6 edges = 16 MB, trivially collectable).
    - larger: alternating large-star/small-star rounds, lineage
      truncated per round, shuffles scaled to the edge count
      (~200k edges/partition, clamped to the session setting).
    Both paths produce identical labels (asserted against a pure-python
    union-find on random graphs in tests/test_cc_random.py).
    """
    spark = pairs.sparkSession
    edges = (
        pairs.select(
            F.xxhash64("surface_a").alias("u"),
            F.xxhash64("surface_b").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    # one collect decides the path AND carries the driver path's edges
    # (an empty graph lands here too: no edges, every node unlabelled)
    rows = edges.limit(driver_max_edges + 1).collect()
    if len(rows) <= driver_max_edges:
        return _surface_labels(pairs, F.broadcast(_driver_union_find(spark, rows)))
    # truncate the (potentially huge) upstream logical plan — e.g. the
    # LSH blocking join — BEFORE iterating: each star round copies the
    # input plan ~6x, so without truncation Catalyst re-analysis cost
    # grows geometrically per round (measured 30s for round 0 on a
    # 32-row edge set when the LSH plan leaked in)
    edges = edges.localCheckpoint(eager=True)
    n_edges = edges.count()
    # size the loop's shuffles to the DATA (CLAUDE.md: tiny graphs at
    # session width are scheduling-overhead-bound) — plan-locally via
    # repartition inside _star_round, never by mutating session conf
    session_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    loop_parts = max(2, min(session_parts, n_edges // 200_000 + 1))
    edges = _cc_loop(edges, max_iter, loop_parts)
    return _surface_labels(pairs, _edge_labels(edges))


def _driver_union_find(spark, edges: list) -> DataFrame:
    """(node, component) via path-compressed union-find on the driver;
    component = min node id in the component (same labels the star
    loop converges to). The labels go back as an Arrow table — a
    JVM-side local relation, so no Python RDD and no Python worker."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent.setdefault(root, root) != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for row in edges:
        ru, rv = find(row["u"]), find(row["v"])
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)  # min-id root ⇒ min label
    nodes = list(parent)
    return spark.createDataFrame(pa.table({
        "node": pa.array(nodes, pa.int64()),
        "component": pa.array([find(n) for n in nodes], pa.int64()),
    }))


def _surface_labels(pairs: DataFrame, labels: DataFrame) -> DataFrame:
    """Every surface of pairs with its component label (node = the
    surface's xxhash64); an unlabelled node is its own component."""
    surf_ids = (
        pairs.select(F.col("surface_a").alias("surface"))
        .union(pairs.select("surface_b"))
        .distinct()
        .withColumn("node", F.xxhash64("surface"))
    )
    return surf_ids.join(labels, "node", "left").select(
        "surface",
        F.coalesce("component", "node").alias("component"),
    )


def _cc_loop(
    edges: DataFrame, max_iter: int, num_partitions: int | None = None
) -> DataFrame:
    prev_sig = None
    for _ in range(max_iter):
        edges = _star_round(edges, large=True, num_partitions=num_partitions)
        edges = _star_round(edges, large=False, num_partitions=num_partitions)
        # LAZY checkpoint fused with the convergence signature: the sig
        # aggregation below is the action that materializes the round
        # AND truncates its lineage — one job per round, not two
        edges = edges.localCheckpoint(eager=False)
        sig = edges.select(F.xxhash64("u", "v").alias("x")).agg(
            F.count("*").alias("n"),
            F.expr("bit_xor(x)").alias("h"),
        ).first()
        cur_sig = (sig["n"], sig["h"])
        if cur_sig == prev_sig:
            break
        prev_sig = cur_sig
    return edges


def _edge_labels(edges: DataFrame) -> DataFrame:
    # after convergence every edge is (node → component-min root)
    labels = edges.select(F.col("u").alias("node"), F.col("v").alias("component"))
    roots = edges.select(F.col("v").alias("node"), F.col("v").alias("component")).distinct()
    return labels.union(roots).groupBy("node").agg(F.min("component").alias("component"))
