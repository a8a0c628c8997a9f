"""Round benchmark: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec",
 "queries": {name: sec, ...}, "sf": ..., "turns_per_sec": ...}

Per-stage timings are the MEDIAN of $SPARK_GRAFT_BENCH_TRIALS runs
(default 3) — the sandbox host shows 10-30% hypervisor steal under
sustained load, and round 3's one "regression" (extract_triples
7.8 → 10.1s on an unchanged plan) sat inside that noise band; medians
keep steal bursts from masquerading as plan regressions (round-4
VERDICT #1). Every re-timed stage recomputes from its persisted INPUT
(never from its own cached output), so trials measure the operator,
not a cache read. `load_transcripts` is a single run and is FIXTURE
cost, not engine cost: it materializes the derived view (full-corpus
row_number window + joins) that every downstream stage then reads
from cache.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from bench import harness  # noqa: E402


def headline_queries(tbl) -> dict:
    """bench.py's non-graph stages: name → (plan builder, action). The
    action (collect or count) runs inside the timed region;
    bench/plan_capture.py dumps the builders' plans."""
    from pyspark.sql import functions as F

    from code_index_spark.operators.dedupe import (
        minhash_verified_pairs, simhash, simhash_near_pairs,
    )
    from code_index_spark.operators.simsearch import brute_force_topk

    emb = tbl["embeddings"].withColumn("v", F.col("embedding").cast("array<double>"))
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["v"]]
    return {
        "q1_pricing": (lambda: tbl["lineitem"]
                       .filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
                       .groupBy("l_returnflag", "l_linestatus")
                       .agg(F.sum("l_quantity"), F.avg("l_discount"), F.count("*")),
                       "collect"),
        "q3_top_revenue": (lambda: tbl["customer"]
                           .filter(F.col("c_mktsegment") == "BUILDING")
                           .join(tbl["orders"], F.col("c_custkey") == F.col("o_custkey"))
                           .join(tbl["lineitem"], F.col("o_orderkey") == F.col("l_orderkey"))
                           .groupBy("o_orderkey")
                           .agg(F.sum(F.col("l_extendedprice")
                                      * (1 - F.col("l_discount"))).alias("rev"))
                           .orderBy(F.desc("rev")).limit(10),
                           "collect"),
        "ann_topk": (lambda: brute_force_topk(emb, "vec_id", "v", qvec, 10), "collect"),
        "minhash_dedup": (lambda: minhash_verified_pairs(
            tbl["documents"], "doc_id", "text", threshold=0.7), "count"),
        "simhash_dedup": (lambda: simhash_near_pairs(
            simhash(tbl["documents"], "doc_id", "text")), "count"),
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    trials = int(os.environ.get("SPARK_GRAFT_BENCH_TRIALS", "3"))

    from code_index_spark.operators.extract import extract_triples, extract_triples_sql
    from code_index_spark.operators.materialize import build_edges_agg
    from code_index_spark.operators.segment import segment
    from code_index_spark.plans.pipeline import STAGES, run_stage
    from code_index_spark.session import default_cores, get_spark
    from code_index_spark.sources.tpch import derived_transcripts, load_tables

    cores = default_cores()

    spark = get_spark("bench", cores=cores, shuffle_partitions=max(cores, 32))
    timings: dict[str, float] = {}

    def timed(name: str, fn, n: int = trials):
        """Median-of-n stage timing; returns the LAST run's output so
        downstream stages consume a live result."""
        runs = harness.timed(fn, n, warm=False)
        timings[name] = round(runs.median, 3)
        return runs.out

    tbl = load_tables(spark, sf_dir)
    # The derived view's turn_idx row_number window already hash-
    # partitions by conv_id at the core count (the
    # north_rule partitioning discipline) — no extra repartition needed
    # before the Arrow-UDF stages. Materialize ONCE (n=1: re-timing a
    # persist is a cache read); this line is view construction, i.e.
    # fixture cost — see BENCH.md.
    transcripts = derived_transcripts(spark, sf_dir).persist()
    n_turns = timed("load_transcripts", transcripts.count, n=1)
    g = {"transcripts": transcripts}

    # headline extraction = the pure-Catalyst path (the pipeline's
    # first stage), timed UNPERSISTED so each trial recomputes; the
    # Arrow/Python span-carrying path is timed alongside as an
    # informational line (not part of the pipeline, so not in the
    # headline total)
    timed("extract_triples", lambda: extract_triples_sql(transcripts).count())
    timed("extract_triples_python_info",
          lambda: extract_triples(transcripts).count())
    g["triples"] = run_stage(STAGES[0], g)
    n_triples = g["triples"].count()  # untimed: downstream stages read this cache
    timed("segment", lambda: segment(transcripts).count())

    # graph build, stage-timed: each later stage of plans.pipeline.STAGES
    # is built and materialized as build_graph does, and an unkept output
    # is counted; build_graph_link_canon = the sum
    def materialized(stage):
        df = run_stage(stage, g)
        if stage.keep is None:
            df.count()
        return df

    graph = STAGES[1:]
    for stage in graph:
        g[stage.table] = timed(stage.name, lambda: materialized(stage))
    timed("graph_edges_agg",
          lambda: build_edges_agg(g["triples"], g["entity_map"]).count())
    graph_total = round(sum(timings[s.name] for s in graph), 3)
    for name, (build, action) in headline_queries(tbl).items():
        timed(name, lambda: getattr(build(), action)())

    info_python_extract = timings.pop("extract_triples_python_info")
    # graph_edges_agg is the new rollup consumer (round 4) — reported,
    # but excluded from the headline total so `value` stays comparable
    # to earlier rounds' stage set
    edges_agg_sec = timings.pop("graph_edges_agg")
    total = round(sum(timings.values()), 3)
    extract_rate = round(n_turns / timings["extract_triples"], 1)
    # derived aggregate (NOT part of the total — its stages already are)
    timings["build_graph_link_canon"] = graph_total
    timings["graph_edges_agg"] = edges_agg_sec
    timings["extract_triples_python_info"] = info_python_extract
    print(json.dumps({
        "metric": "kg_pipeline_headline",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_dir.rstrip("/").split("/")[-1],
        "n_turns": n_turns,
        "n_triples": n_triples,
        "turns_per_sec_extract": extract_rate,
        "trials_per_stage": trials,
        "cores": cores,
    }))


if __name__ == "__main__":
    main()
