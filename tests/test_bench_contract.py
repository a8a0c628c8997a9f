"""bench.py's output contract: the `queries` key set is the BENCH_*.json
trajectory's schema, so it must not drift, and `value` is the headline
total of exactly the stages the headline has always summed."""

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

HEADLINE = {
    "load_transcripts", "extract_triples", "segment",
    "graph_surfaces", "graph_link", "graph_cc", "graph_entities",
    "graph_vertices", "graph_edges",
    "q1_pricing", "q3_top_revenue", "ann_topk", "minhash_dedup", "simhash_dedup",
}
# reported beside the headline, not summed into `value`
INFO = {"build_graph_link_canon", "graph_edges_agg", "extract_triples_python_info"}


def test_bench_output_keys():
    env = dict(os.environ, SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
               SPARK_GRAFT_BENCH_TRIALS="1", SPARK_GRAFT_CPUS="2")
    run = subprocess.run([sys.executable, "bench.py"], cwd=ROOT, env=env,
                         capture_output=True, text=True, timeout=900)
    assert run.returncode == 0, run.stderr[-4000:]
    out = json.loads(run.stdout.strip().splitlines()[-1])

    assert set(out["queries"]) == HEADLINE | INFO
    assert out["value"] == pytest.approx(sum(out["queries"][k] for k in HEADLINE), abs=1e-3)
    assert out["queries"]["build_graph_link_canon"] == pytest.approx(
        sum(out["queries"][k] for k in HEADLINE if k.startswith("graph_")), abs=1e-3)
