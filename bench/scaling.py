"""Two-parallelism scaling benchmark (north_rule evidence).

No multi-executor cluster exists in this sandbox, so cluster-size
scaling is evidenced by running the identical job at two local
parallelism levels (N and 4N cores) on the same input and reporting
turns/sec at both plus efficiency = (rate_4N / rate_N) / 4.

The job: triple extraction (the pipeline's dominant stage) over the
sf-derived transcripts, measured for BOTH engine paths: the
pure-Catalyst extractor (the pipeline default) and the Arrow/Python
span-carrying extractor. Each level runs in its own subprocess (fresh
JVM), warms the workers, then takes the median of `trials` timed runs
— the host shows 10-30% hypervisor steal time under sustained load, so
medians over several trials are used rather than single runs.

--mult M replicates the corpus M× (conv_id-suffixed union — 10×
sf0.1 ≈ sf1, 6M turns), providing an order of magnitude of local
scale evidence beyond the driver's per-round sf. --graph additionally
times the graph stages (link/cc/entities/vertices/edges) once per
level at that scale.

Usage: python bench/scaling.py [N] [sf_dir] [--mult M] [--graph]
       (default N=4 → 4 vs 16 cores)
Updates the header section of BENCH.md in place, preserving every
"## ..." section below it; --mult runs append a scale section instead.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

_CHILD = r"""
import json, sys, time
from pyspark.sql import functions as F
from code_index_spark.session import get_spark
from code_index_spark.sources.tpch import derived_transcripts
from code_index_spark.operators.extract import extract_triples, extract_triples_sql

cores = int(sys.argv[1]); sf_dir = sys.argv[2]; trials = int(sys.argv[3])
mult = int(sys.argv[4]); do_graph = sys.argv[5] == "1"
# Widths are sized to the DATA and held EQUAL across parallelism levels
# so the N-vs-4N comparison isolates cores (the cluster discipline:
# shuffle partitions ~ input_bytes / 128MB, never cores). The first
# sf1 attempt sized them to cores and the 16-partition level spilled
# in the 75M-row edge groupBy (282s vs 19s — a width artifact, not a
# scaling property); it also made 375k-turn tasks whose coarse
# granularity amplified hypervisor-steal variance.
width = max(16 * mult, cores * 2)
spark = get_spark(f"scal{cores}", cores=cores, shuffle_partitions=width)
t = derived_transcripts(spark, sf_dir)
if mult > 1:
    # replicate the corpus mult x with distinct conv_ids (same text
    # distribution, mult x volume — the sf1 stand-in)
    t = (spark.range(mult).crossJoin(t)
         .withColumn("conv_id", F.concat_ws("-", "conv_id", F.col("id")))
         .drop("id"))
t = t.repartition(width, "conv_id").persist()
n = t.count()
out = {"cores": cores, "n_turns": n}
for name, fn in (("catalyst", extract_triples_sql), ("python", extract_triples)):
    fn(t.limit(1000)).count()  # warm workers / codegen
    rates = []
    for _ in range(trials):
        t0 = time.perf_counter()
        fn(t).count()
        rates.append(n / (time.perf_counter() - t0))
    rates.sort()
    out[name] = {"median_rate": rates[len(rates) // 2],
                 "rates": [round(r) for r in rates]}
if do_graph:
    from code_index_spark.operators.materialize import build_edges_agg
    from code_index_spark.plans.pipeline import STAGES, run_stage
    tables = {"transcripts": t}
    tables["triples"] = run_stage(STAGES[0], tables)
    tables["triples"].count()
    g, rows = {}, {}
    # each graph stage built and materialized as build_graph does; an
    # unkept output (vertices, edges) is counted
    for stage in STAGES[1:]:
        t0 = time.perf_counter()
        tables[stage.table] = run_stage(stage, tables)
        if stage.keep is None:
            rows[stage.table] = tables[stage.table].count()
        g[stage.name.removeprefix("graph_")] = round(time.perf_counter() - t0, 2)
    # weighted rollup consumer: duplicate (src,pred,dst) edges combine
    # in the map-side partial agg BEFORE the wire (round-4 VERDICT #2)
    t0 = time.perf_counter()
    n_edges_agg = build_edges_agg(tables["triples"], tables["entity_map"]).count()
    g["edges_agg"] = round(time.perf_counter() - t0, 2)
    g["total"] = round(sum(
        g[k] for k in ("surfaces", "link", "cc", "entities",
                       "vertices", "edges")), 2)
    g["n_edges"] = rows["edges"]
    g["n_edges_agg"] = n_edges_agg
    out["graph"] = g
print(json.dumps(out))
"""


def run_level(cores: int, sf_dir: str, trials: int, mult: int, graph: bool) -> dict:
    env = dict(os.environ)
    out = subprocess.run(
        [sys.executable, "-c", _CHILD, str(cores), sf_dir, str(trials),
         str(mult), "1" if graph else "0"],
        capture_output=True, text=True, env=env, cwd=os.path.dirname(
            os.path.dirname(os.path.abspath(__file__))),
        timeout=3600,
    )
    line = out.stdout.strip().splitlines()[-1]
    return json.loads(line)


def _update_bench_md(root: str, header: str | None, append: str | None) -> None:
    """Replace the pre-'## ' header of BENCH.md (keeping all sections),
    and/or append a section (replacing a same-titled one)."""
    path = os.path.join(root, "BENCH.md")
    sections: list[str] = []
    old_header = ""
    if os.path.exists(path):
        text = open(path).read()
        idx = text.find("\n## ")
        if idx == -1:
            old_header, rest = text, ""
        else:
            old_header, rest = text[: idx + 1], text[idx + 1 :]
        cur: list[str] = []
        for line in rest.splitlines(keepends=True):
            if line.startswith("## ") and cur:
                sections.append("".join(cur))
                cur = [line]
            else:
                cur.append(line)
        if cur:
            sections.append("".join(cur))
    if header is None:
        header = old_header
    if append is not None:
        title = append.splitlines()[0]
        sections = [s for s in sections if not s.startswith(title)]
        sections.append(append)
    with open(path, "w") as f:
        f.write(header)
        for s in sections:
            if not s.endswith("\n"):
                s += "\n"
            f.write(s)


def main() -> None:
    import argparse

    p = argparse.ArgumentParser()
    p.add_argument("n", nargs="?", type=int, default=4)
    p.add_argument("sf_dir", nargs="?", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    p.add_argument("--mult", type=int, default=1)
    p.add_argument("--graph", action="store_true")
    a = p.parse_args()
    n, sf_dir, mult, graph = a.n, a.sf_dir, a.mult, a.graph
    trials = 5
    lo = run_level(n, sf_dir, trials, mult, graph)
    hi = run_level(4 * n, sf_dir, trials, mult, graph)
    effs = {
        p: (hi[p]["median_rate"] / lo[p]["median_rate"]) / 4.0
        for p in ("catalyst", "python")
    }
    result = {
        "metric": "scaling_efficiency_extract",
        "n_cores": n,
        "n4_cores": 4 * n,
        "n_turns": lo["n_turns"],
        "sf_dir": sf_dir,
        "multiplier": mult,
        "catalyst": {"rate_n": round(lo["catalyst"]["median_rate"]),
                     "rate_4n": round(hi["catalyst"]["median_rate"]),
                     "efficiency": round(effs["catalyst"], 3)},
        "python": {"rate_n": round(lo["python"]["median_rate"]),
                   "rate_4n": round(hi["python"]["median_rate"]),
                   "efficiency": round(effs["python"], 3)},
    }
    if graph:
        result["graph_n"] = lo.get("graph")
        result["graph_4n"] = hi.get("graph")
    print(json.dumps(result))
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    rows = (
        "| path | parallelism | turns/sec (median) | all trials |\n|---|---|---|---|\n"
        f"| catalyst | local[{n}] | {round(lo['catalyst']['median_rate'])} | {lo['catalyst']['rates']} |\n"
        f"| catalyst | local[{4*n}] | {round(hi['catalyst']['median_rate'])} | {hi['catalyst']['rates']} |\n"
        f"| python | local[{n}] | {round(lo['python']['median_rate'])} | {lo['python']['rates']} |\n"
        f"| python | local[{4*n}] | {round(hi['python']['median_rate'])} | {hi['python']['rates']} |\n\n"
        f"**Scaling efficiency N→4N: catalyst = {effs['catalyst']:.3f}, "
        f"python = {effs['python']:.3f}** (target ≥ 0.8).\n"
    )
    if mult == 1:
        header = (
            "# BENCH — scaling evidence (north_rule)\n\n"
            "Job: triple extraction over the sf-derived transcripts "
            f"({lo['n_turns']} turns, `{sf_dir}`), both engine paths: the\n"
            "pure-Catalyst extractor (pipeline default since round 2) and "
            "the Arrow/Python span-carrying extractor.\n"
            "Same input, same partition-per-core ratio (2x), fresh JVM per "
            "level, workers warmed, median of 5 runs (the sandbox host "
            "shows 10-30% hypervisor steal under sustained load, see "
            "`top` st%).\n\n" + rows
        )
        _update_bench_md(root, header, None)
    else:
        section = (
            f"## Scale-up evidence: {mult}× corpus "
            f"({lo['n_turns']} turns ≈ sf{mult/10:.0f})\n\n"
            f"Same job, corpus replicated {mult}× with distinct conv_ids "
            "(same text distribution), fresh JVM per level, median of "
            f"{trials} runs.\n\n" + rows
        )
        if graph and lo.get("graph") and hi.get("graph"):
            gl, gh = lo["graph"], hi["graph"]
            section += (
                "\nGraph stages at the same scale (seconds, one pass per "
                "level; the pair/graph tables are vocab-scale, so their "
                "wall is dominated by the mention-volume stages):\n\n"
                "| stage | local[{}] | local[{}] |\n|---|---|---|\n".format(n, 4 * n)
                + "".join(
                    f"| {k} | {gl[k]} | {gh[k]} |\n"
                    for k in ("surfaces", "link", "cc", "entities",
                              "vertices", "edges", "edges_agg", "total")
                )
                + f"\n{gl['n_edges']} provenance-grained edges at this "
                f"scale, collapsing to {gl.get('n_edges_agg')} distinct "
                "weighted (src, pred, dst) edges in edges_agg's map-side "
                "partial aggregation (total excludes edges_agg for "
                "cross-round comparability).\n"
            )
        _update_bench_md(root, None, section)


if __name__ == "__main__":
    main()
