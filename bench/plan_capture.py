"""Capture .explain("formatted") for every bench.py stage into
plans/r06/<stage>_<tag>.txt (tag = before/after, argv[1]).

Read-only with respect to the bench contract: walks the same stage
definitions bench.py times — plans.pipeline.STAGES for the graph
build (each stage's plan is dumped before it is materialized) and
bench.py's headline_queries for the rest — and dumps their physical
plans. Run solo (one Spark session), e.g.:

    python bench/plan_capture.py before
"""

from __future__ import annotations

import os
import runpy
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from bench.harness import ROOT  # noqa: E402


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    out_dir = os.path.join(ROOT, "plans", "r06")
    os.makedirs(out_dir, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from code_index_spark.operators.extract import extract_triples
    from code_index_spark.operators.materialize import build_edges_agg
    from code_index_spark.operators.segment import segment
    from code_index_spark.plans.pipeline import STAGES, keep
    from code_index_spark.session import default_cores, get_spark
    from code_index_spark.sources.tpch import derived_transcripts, load_tables

    cores = default_cores()

    headline_queries = runpy.run_path(os.path.join(ROOT, "bench.py"))["headline_queries"]
    spark = get_spark("plan-capture", cores=cores, shuffle_partitions=max(cores, 32))

    def dump(name: str, df) -> None:
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
        print(f"wrote {path}")

    transcripts = derived_transcripts(spark, sf_dir)
    dump("load_transcripts", transcripts)
    transcripts = transcripts.persist()
    transcripts.count()
    dump("extract_triples_python_info", extract_triples(transcripts))
    dump("segment", segment(transcripts))

    g = {"transcripts": transcripts}
    for stage in STAGES:
        df = stage.build(g, 0.5)
        dump(stage.name, df)
        g[stage.table] = keep(df, stage.keep)
    dump("graph_edges_agg", build_edges_agg(g["triples"], g["entity_map"]))

    for name, (build, _) in headline_queries(load_tables(spark, sf_dir)).items():
        dump(name, build())
    spark.stop()


if __name__ == "__main__":
    main()
