"""Graph ANALYTICS at sf1 scale: degree stats, PageRank, triangles,
k-hop BFS, neighbor-set Jaccard and PMI edges over the build_edges_agg
rollup (the rollup's consumers: the round-4 degree/pagerank pair and
the four round-5 graphalgo additions, which have otherwise only run on
the sf0.01 oracle graph).

Input graph: the ~1.4M-edge weighted rollup at mult x sf0.1 (ent->obj
plus co_mention families — triangle-rich: two co-mentioned entities
sharing an object node close a triangle). The rollup's map-side
combine is what makes these tractable: analytics shuffle the
distinct-edge set, not the per-turn edge multiset. PMI consumes the
per-turn entity mention stream (the operator's contract unit).

Usage: python bench/graph_analytics_scale.py [mult]
       python bench/graph_analytics_scale.py --scaling [N]
       python bench/graph_analytics_scale.py --scaling-synth [N] [n_edges]

Main mode builds the rollup once, SNAPSHOTS edges + mentions to
/tmp/graft_graph_analytics/ parquet, runs each analytic with walls, and
rewrites the '## Graph analytics (triangles/k-hop/jaccard/PMI) at
scale' BENCH.md section. --scaling re-runs the two shuffle-heavy
analytics (triangles + capped jaccard) from the SAME parquet snapshot
in fresh JVMs at N and 4N cores (prepare_scale discipline: shuffle
width data-sized and EQUAL across levels) for the north rule's
two-parallelism evidence, rewriting the '... scaling (N vs 4N)'
section.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from bench.harness import (  # noqa: E402
    cores,
    n_vs_4n,
    replicated_transcripts,
    report,
    scaling_table,
    timed,
)

SNAP = "/tmp/graft_graph_analytics"
PR_MAX_ITER = 20


def wedge_level(cores: int, src: str, trials: int) -> dict:
    """One parallelism level (run in a fresh JVM): the combined
    triangles + capped-Jaccard pass over the snapshot or, for
    src="synth:<n_edges>", a deterministic hash-random graph."""
    from pyspark.sql import functions as F

    from code_index_spark.operators.graphalgo import neighbor_jaccard_pairs, triangle_counts
    from code_index_spark.session import get_spark

    spark = get_spark(f"ga{cores}", cores=cores, shuffle_partitions=64)
    if src.startswith("synth:"):
        # deterministic hash-random graph, identical at every level:
        # n_edges edges over n_edges/16 vertices (avg degree ~32) — big
        # enough that the wedge joins are data-bound, not scheduling-bound
        n = int(src.split(":")[1])
        nv = max(n // 16, 1)
        edges = (
            spark.range(n)
            .select(
                (F.abs(F.xxhash64("id", F.lit(1))) % nv).alias("src_entity"),
                (F.abs(F.xxhash64("id", F.lit(2))) % nv).alias("dst_entity"),
            )
            .filter(F.col("src_entity") != F.col("dst_entity"))
            .repartition(64)
            .localCheckpoint(eager=True)
        )
    else:
        edges = spark.read.parquet(src + "/edges").localCheckpoint(eager=True)
    # count the DISTINCT canonical pair set the operators actually join
    # (r5 ADVICE #3: the raw count includes duplicate (src, dst) hash
    # collisions that the operators' internal .distinct() removes)
    n_edges = (edges.select(F.least("src_entity", "dst_entity"),
                            F.greatest("src_entity", "dst_entity"))
               .distinct().count())

    def run():
        triangle_counts(edges).agg(F.count("*"), F.sum("n_triangles")).collect()
        neighbor_jaccard_pairs(edges, min_sim=0.02, hub_cap=64).count()

    runs = timed(run, trials)
    return {"cores": cores, "n_edges": n_edges,
            "median_wall": round(runs.median, 1),
            "walls": sorted(round(w, 1) for w in runs.runs),
            "median_rate": round(n_edges / runs.median)}


def scaling_main(n_lo: int, synth_edges: int | None, trials: int = 3) -> None:
    if synth_edges is None and not os.path.isdir(SNAP + "/edges"):
        raise SystemExit("run the main mode first to snapshot the graph")
    src = f"synth:{synth_edges}" if synth_edges else SNAP
    lo, hi, eff = n_vs_4n(wedge_level, n_lo, "median_rate", src, trials)
    if synth_edges:
        intro = (
            f"({lo['n_edges']} edges of a deterministic hash-random graph "
            f"(avg degree ~32), bench/graph_analytics_scale.py "
            f"--scaling-synth: fresh JVM per level, warmed, median of "
            f"{trials}, shuffle width data-sized and equal across levels.) "
            "The data-bound case: a graph big enough that the wedge "
            "joins dominate scheduling overhead."
        )
        title = "## Graph analytics scaling, data-bound (N vs 4N)"
        metric = "graph_analytics_scaling_synth"
    else:
        intro = (
            f"({lo['n_edges']} rollup edges, bench/graph_analytics_scale.py"
            f" --scaling: fresh JVM per level, warmed, median of {trials}.)"
            " The VOCAB-SCALE case: the rollup graph is ~tens of MB, so at"
            " 4N cores the pass is scheduling-bound, not data-bound — the"
            " same 'size the iteration to the data' regime as the CC/LSH"
            " loops (header notes). Low efficiency here is the EXPECTED"
            " reading: the corpus-scale stages that feed the rollup carry"
            " the scaling burden (0.8+ in their own sections), and the"
            " analytics' absolute walls are already small. The data-bound"
            " twin below shows the same operators scale when the input is"
            " actually large."
        )
        title = "## Graph analytics scaling, vocab-scale graph (N vs 4N)"
        metric = "graph_analytics_scaling"
    report(
        {"metric": metric, "src": src, "n_edges": lo["n_edges"],
         "lo": lo, "hi": hi, "efficiency": eff},
        f"{title}\n\n{intro}\n\n"
        "Combined triangles + capped neighbor-Jaccard pass — the two "
        "wedge-join-bound analytics, i.e. the shuffle-heavy pair.\n\n"
        + scaling_table(lo, hi, eff, "wall (s, median)", "median_wall", "walls"),
    )


def main() -> None:
    pos = [a for a in sys.argv[1:] if not a.startswith("--")]
    mult = int(pos[0]) if pos else 10
    if "--scaling-synth" in sys.argv:
        idx = sys.argv.index("--scaling-synth")
        rest = [a for a in sys.argv[idx + 1:] if a.isdigit()]
        n_lo = int(rest[0]) if rest else 8
        n_edges = int(rest[1]) if len(rest) > 1 else 8_000_000
        scaling_main(n_lo, n_edges)
        return
    if "--scaling" in sys.argv:
        idx = sys.argv.index("--scaling")
        n_lo = (int(sys.argv[idx + 1])
                if idx + 1 < len(sys.argv) and sys.argv[idx + 1].isdigit()
                else 8)
        scaling_main(n_lo, None)
        return

    import shutil

    from pyspark.sql import functions as F

    from code_index_spark.operators.graphalgo import (
        degree_stats,
        khop_neighbors,
        neighbor_jaccard_pairs,
        pagerank,
        pmi_edges,
        triangle_counts,
    )
    from code_index_spark.operators.materialize import build_edges_agg
    from code_index_spark.plans.pipeline import build_graph
    from code_index_spark.session import get_spark

    width = max(16 * mult, cores() * 2)
    spark = get_spark("graph-analytics-scale", cores=cores(),
                      shuffle_partitions=width)

    t = replicated_transcripts(spark, "/root/testdata/sf0.1", mult, width)
    t.count()
    g = build_graph(t)
    triples, em = g["triples"], g["entity_map"]
    n_triples = triples.count()
    t0 = time.perf_counter()
    edges = build_edges_agg(triples, em).localCheckpoint(eager=True)
    n_edges = edges.count()
    wall_rollup = round(time.perf_counter() - t0, 1)
    # per-turn ENTITY mention stream (pmi_edges' contract unit)
    mentions = (
        triples.filter(F.col("pred") == "class")
        .join(em.select(F.col("surface").alias("obj"), "entity_id"), "obj")
        .select("conv_id", "turn_idx", F.col("entity_id").alias("norm"))
        .localCheckpoint(eager=True)
    )
    n_mentions = mentions.count()

    shutil.rmtree(SNAP, ignore_errors=True)
    edges.write.parquet(SNAP + "/edges")
    mentions.write.parquet(SNAP + "/mentions")

    out = {"metric": "graph_analytics_scale", "mult": mult,
           "n_triples": n_triples, "n_edges": n_edges,
           "n_mentions": n_mentions, "wall_rollup_sec": wall_rollup}

    t0 = time.perf_counter()
    deg = degree_stats(edges)
    out["n_vertices"] = deg.count()
    out["max_degree"] = deg.agg(F.max("degree")).first()[0]
    out["wall_degree_sec"] = round(time.perf_counter() - t0, 1)

    t0 = time.perf_counter()
    pr = pagerank(edges, max_iter=PR_MAX_ITER)
    out["pr_top_rank"] = round(pr.agg(F.max("rank")).first()[0], 6)
    out["pr_n_vertices"] = pr.count()
    out["wall_pagerank_sec"] = round(time.perf_counter() - t0, 1)
    # convergence check: a second run with half the budget must differ
    # if the first needed more than half — equal top-rank ⇒ converged
    pr_half = pagerank(edges, max_iter=PR_MAX_ITER // 2)
    out["pr_converged_by_half_budget"] = (
        round(pr_half.agg(F.max("rank")).first()[0], 6) == out["pr_top_rank"]
    )
    print(json.dumps(out), flush=True)

    t0 = time.perf_counter()
    tri = triangle_counts(edges)
    agg = tri.agg(F.count("*").alias("nv"),
                  F.sum("n_triangles").alias("corners")).first()
    out["tri_vertices"] = agg["nv"]
    # every triangle contributes 3 corners
    out["n_triangles"] = int(agg["corners"]) // 3
    out["wall_triangles_sec"] = round(time.perf_counter() - t0, 1)
    print(json.dumps(out), flush=True)

    # min_sim 0.02, not the registry query's 0.5: this graph's
    # neighborhoods are synthetic-dense (~41k-vertex component, large
    # degrees), so max observed Jaccard is ~0.04 — the bench threshold
    # is chosen to produce non-trivial output volume through the SAME
    # wedge-join shape; the cap sweep shows the stop-bucket lever.
    t0 = time.perf_counter()
    out["jaccard_pairs_cap64"] = neighbor_jaccard_pairs(
        edges, min_sim=0.02, hub_cap=64).count()
    out["wall_jaccard_cap64_sec"] = round(time.perf_counter() - t0, 1)
    t0 = time.perf_counter()
    out["jaccard_pairs_cap256"] = neighbor_jaccard_pairs(
        edges, min_sim=0.02, hub_cap=256).count()
    out["wall_jaccard_cap256_sec"] = round(time.perf_counter() - t0, 1)
    print(json.dumps(out), flush=True)

    t0 = time.perf_counter()
    seeds = (
        edges.select(F.col("src_entity").alias("seed"))
        .union(edges.select(F.col("dst_entity").alias("seed")))
        .distinct().orderBy("seed").limit(100)
    )
    kh = khop_neighbors(edges, seeds, k=3)
    out["khop_rows"] = kh.count()
    out["wall_khop_sec"] = round(time.perf_counter() - t0, 1)
    print(json.dumps(out), flush=True)

    t0 = time.perf_counter()
    pm = pmi_edges(mentions)
    out["pmi_edges"] = pm.count()
    out["wall_pmi_sec"] = round(time.perf_counter() - t0, 1)

    report(out, (
        "## Graph analytics (triangles/k-hop/jaccard/PMI) at scale\n\n"
        f"(bench/graph_analytics_scale.py, {n_triples} triples ≈ "
        f"sf{mult / 10:.0f}, {n_edges} rollup edges, {n_mentions} "
        f"entity mentions, local[{cores()}].) Degree stats, PageRank and "
        "the four round-5 graphalgo operators over ONE build_edges_agg "
        "rollup. Triangles and Jaccard are "
        "wedge-join-bound: triangles orient every edge low-degree-first "
        "(fanout bounded by arboricity, not hub degree); Jaccard uses "
        "the hub_cap stop-bucket lever — the cap sweep below shows the "
        "cost/recall trade explicitly. Jaccard min_sim is 0.02 here "
        "(vs the registry query's 0.5) because the synthetic-dense "
        "graph tops out at ~0.04 — same join shape, non-trivial "
        "output.\n\n"
        "| analytic | wall (s) | output |\n|---|---|---|\n"
        f"| build_edges_agg (rollup) | {wall_rollup} | "
        f"{n_edges} weighted edges |\n"
        f"| degree_stats | {out['wall_degree_sec']} | "
        f"{out['n_vertices']} vertices, max degree {out['max_degree']} |\n"
        f"| pagerank (≤{PR_MAX_ITER} iter, tol 1e-6) | "
        f"{out['wall_pagerank_sec']} | top rank {out['pr_top_rank']}, "
        f"converged ≤{PR_MAX_ITER // 2} iterations: "
        f"{out['pr_converged_by_half_budget']} |\n"
        f"| triangle_counts | {out['wall_triangles_sec']} | "
        f"{out['n_triangles']} triangles over {out['tri_vertices']} "
        "participating vertices |\n"
        f"| neighbor_jaccard (hub_cap=64) | {out['wall_jaccard_cap64_sec']}"
        f" | {out['jaccard_pairs_cap64']} pairs ≥0.02 |\n"
        f"| neighbor_jaccard (hub_cap=256) | "
        f"{out['wall_jaccard_cap256_sec']} | "
        f"{out['jaccard_pairs_cap256']} pairs ≥0.02 |\n"
        f"| khop (100 seeds, k=3) | {out['wall_khop_sec']} | "
        f"{out['khop_rows']} (seed, vertex, hop) rows |\n"
        f"| pmi_edges | {out['wall_pmi_sec']} | "
        f"{out['pmi_edges']} weighted pairs |\n"
    ))


if __name__ == "__main__":
    main()
