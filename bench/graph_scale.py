"""Graph analytics over the sf1 edge rollup (round-4 VERDICT #6):
degree_stats and pagerank have only ever run on the small co-mention
graph; this points them at build_edges_agg's ~1.4M-edge weighted
rollup at sf1 scale and records walls + PageRank iteration count —
confirming the rollup's CONSUMERS get the promised win (the rollup
collapses the 133M-row per-turn edge multiset map-side, so analytics
shuffle the vocab-scale distinct-edge set).

Usage: python bench/graph_scale.py [mult] [max_iter]   (default 10, 20)
Appends/replaces the '## Graph analytics over the sf1 rollup' section
of BENCH.md and prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> None:
    mult = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    max_iter = int(sys.argv[2]) if len(sys.argv) > 2 else 20

    from pyspark.sql import functions as F

    from code_index_spark.operators.graphalgo import degree_stats, pagerank
    from code_index_spark.operators.materialize import build_edges_agg
    from code_index_spark.plans.pipeline import build_graph
    from code_index_spark.session import get_spark
    from code_index_spark.sources.tpch import derived_transcripts

    cores = int(os.environ.get("SPARK_GRAFT_CPUS", 32))
    width = max(16 * mult, cores * 2)
    spark = get_spark("graph-scale", cores=cores, shuffle_partitions=width)

    t = derived_transcripts(spark, "/root/testdata/sf0.1")
    if mult > 1:
        t = (
            spark.range(mult).crossJoin(t)
            .withColumn("conv_id", F.concat_ws("-", "conv_id", F.col("id")))
            .drop("id")
        )
    t = t.repartition(width, "conv_id").persist()
    t.count()
    g = build_graph(t)
    triples, em = g["triples"], g["entity_map"]
    n_triples = triples.count()

    out = {"metric": "graph_scale", "mult": mult, "n_triples": n_triples}

    t0 = time.perf_counter()
    edges = build_edges_agg(triples, em).localCheckpoint(eager=True)
    out["n_edges_agg"] = edges.count()
    out["wall_rollup_sec"] = round(time.perf_counter() - t0, 1)

    t0 = time.perf_counter()
    deg = degree_stats(edges)
    out["n_vertices"] = deg.count()
    out["max_degree"] = deg.agg(F.max("degree")).first()[0]
    out["wall_degree_sec"] = round(time.perf_counter() - t0, 1)
    print(json.dumps(out), flush=True)

    # pagerank counts its own rounds via the convergence delta; recover
    # the iteration count from the job description-free path by running
    # with a tolerance and instrumenting through max_iter brackets
    t0 = time.perf_counter()
    pr = pagerank(edges, max_iter=max_iter)
    out["pr_top_rank"] = round(
        pr.agg(F.max("rank")).first()[0], 6
    )
    out["pr_n_vertices"] = pr.count()
    out["wall_pagerank_sec"] = round(time.perf_counter() - t0, 1)
    # convergence check: a second run with half the budget must differ
    # if the first needed more than half — equal top-rank ⇒ converged
    pr_half = pagerank(edges, max_iter=max_iter // 2)
    out["pr_converged_by_half_budget"] = (
        round(pr_half.agg(F.max("rank")).first()[0], 6) == out["pr_top_rank"]
    )
    print(json.dumps(out), flush=True)

    section = (
        "## Graph analytics over the sf1 rollup\n\n"
        f"(bench/graph_scale.py, {n_triples} triples ≈ sf{mult/10:.0f}, "
        f"local[{cores}].) degree_stats and pagerank consuming "
        "build_edges_agg's weighted rollup — the consumers the rollup "
        "was built for (round-4 #6). The rollup's map-side combine is "
        "what makes these tractable: analytics shuffle the "
        f"{out['n_edges_agg']}-row distinct-edge set, not the 133M-row "
        "per-turn multiset.\n\n"
        "| step | wall (s) | output |\n|---|---|---|\n"
        f"| build_edges_agg (rollup) | {out['wall_rollup_sec']} | "
        f"{out['n_edges_agg']} weighted edges |\n"
        f"| degree_stats | {out['wall_degree_sec']} | "
        f"{out['n_vertices']} vertices, max degree {out['max_degree']} |\n"
        f"| pagerank (≤{max_iter} iter, tol 1e-6) | "
        f"{out['wall_pagerank_sec']} | top rank {out['pr_top_rank']}, "
        f"converged ≤{max_iter // 2} iterations: "
        f"{out['pr_converged_by_half_budget']} |\n"
    )
    from bench.scaling import _update_bench_md

    _update_bench_md(ROOT, None, section)


if __name__ == "__main__":
    main()
