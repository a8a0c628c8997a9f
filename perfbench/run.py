"""Benchmark of the KG pipeline on local[4].

    python3 perfbench/run.py --workload tpch --seed 1 --seconds 1 --trace 0

Run from the repository root. Each run starts its own Spark JVM,
generates its inputs from --seed, and builds the graph: transcripts ->
segment -> plans.pipeline.build_graph -> build_edges_agg -> vertices,
edges (partitioned by pred) and the edge rollup written as parquet,
repeated from cold caches until --seconds have passed (once when
--seconds is shorter than a build).

A traced run adds phases after the build that feed no end-to-end
metric: serve (link.build_search_index over the built triples and a
closed loop of requests, checked against the exact search path), and on
tpch also near-duplicate clustering and simhash pairs over a planted
document corpus, and checkpointed ingest and resume over a small chat
corpus plus a seeded delta.

Every output is checked (see checks.py); the last stdout line is the
JSON result. --trace 0 reports the end-to-end metrics of the production
composition. --trace 1 runs the build layer by layer, each layer's
output materialized at its boundary, wraps every layer call in a job
group and reports per-layer counters from Spark's status store; spans
are written to .perfbench/traces/ at exit.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import time
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
sys.path[:0] = [HERE, ROOT]

import checks  # noqa: E402
import gen  # noqa: E402
import spans  # noqa: E402

CORES = 4
SETUP_REPS = 4
INDEX_REPS = 2
TRACED_REQUESTS = 12
CKPT_BUCKETS = 64
DEDUP_THRESHOLD = 0.8
DEDUP_MAX_BUCKET = 50

# name -> (unit, better); the order is the print order
E2E = {
    "setup_s": ("s", "lower"),
    "kg_turns_per_s": ("1/s", "higher"),
    "link_recall": ("ratio", "higher"),
    "link_precision": ("ratio", "higher"),
}

# workload sizes; see README.md for why each exists
TPCH = {"orders": 3_000}
CHAT = {"turns": 5_000, "entities": 3_600, "tickets": 500}
INGEST = {"turns": 3_000, "entities": 600, "tickets": 100}
NEARDUP = {"documents": 3_000}


# ------------------------------------------------------------------ set-up

# the set-up result: generated files' DataFrames plus planted truth
Inputs = SimpleNamespace


def setup_tpch(spark, d: str, seed: int) -> Inputs:
    from code_index_spark.sources.tpch import derived_transcripts

    build = gen.tpch_tables(seed, f"{d}/build", TPCH["orders"])
    truth = dict(build["part_family"])
    truth.update({f"@supplier-{i}": ("supplier", i) for i in range(build["supplier_count"])})
    return Inputs(
        transcripts=derived_transcripts(spark, f"{d}/build"),
        persist_transcripts=True,
        turns=build["props"]["turns"],
        surface_truth=truth,
        props=build["props"],
    )


def setup_chat(spark, d: str, seed: int) -> Inputs:
    os.makedirs(d, exist_ok=True)
    c = CHAT
    build = gen.chat_transcripts(seed, f"{d}/build.parquet", c["turns"], c["entities"], c["tickets"])
    return Inputs(
        transcripts=spark.read.parquet(f"{d}/build.parquet"),
        persist_transcripts=False,
        turns=c["turns"],
        surface_truth=build["surface_family"],
        props=build["props"],
    )


WORKLOADS = {"tpch": setup_tpch, "vocab_skew": setup_chat}


# ------------------------------------------------------------------- phases

def build_phase(spark, inp: Inputs, tr: spans.Tracer, out: str, traced: bool) -> dict:
    """Returns the persisted tables the checks read, plus the wall."""
    from code_index_spark.operators.canon import connected_components
    from code_index_spark.operators.extract import extract_triples_sql
    from code_index_spark.operators.link import link_mentions, mention_surfaces
    from code_index_spark.operators.materialize import (
        assign_entities, build_edges, build_edges_agg, build_vertices, object_vertices,
    )
    from code_index_spark.operators.segment import segment
    from code_index_spark.plans.pipeline import build_graph

    def write(vertices, edges, rollup):
        vertices.write.mode("overwrite").parquet(f"{out}/vertices")
        edges.write.mode("overwrite").partitionBy("pred").parquet(f"{out}/edges")
        rollup.write.mode("overwrite").parquet(f"{out}/rollup")

    t0 = time.perf_counter()
    with tr.step("build"):
        transcripts = inp.transcripts
        if not traced:
            if inp.persist_transcripts:
                transcripts = transcripts.persist()
            segment(transcripts).write.format("noop").mode("overwrite").save()
            g = build_graph(transcripts)
            rollup = build_edges_agg(g["triples"], g["entity_map"])
            write(g["vertices"], g["edges"], rollup)
            triples, pairs, entity_map = g["triples"], g["pairs"], g["entity_map"]
        else:
            if inp.persist_transcripts:
                with tr.span("tpch") as s:
                    transcripts = transcripts.persist()
                    s["rows_out"] = transcripts.count()
            with tr.span("segment") as s:
                s["rows_out"] = segment(transcripts).count()
            with tr.span("extract") as s:
                triples = extract_triples_sql(transcripts).persist()
                s["rows_out"] = triples.count()
            with tr.span("link.surfaces") as s:
                surfaces = mention_surfaces(triples).localCheckpoint(eager=True)
                s["rows_out"] = surfaces.count()
            with tr.span("link") as s:
                pairs = link_mentions(triples, surfaces=surfaces).persist()
                s["rows_out"] = pairs.count()
            with tr.span("canon") as s:
                components = connected_components(pairs).persist()
                s["rows_out"] = components.count()
            with tr.span("materialize.entities") as s:
                entity_map = assign_entities(triples, components, surfaces=surfaces).persist()
                s["rows_out"] = entity_map.count()
            with tr.span("materialize.vertices") as s:
                vertices = build_vertices(entity_map).unionByName(
                    object_vertices(triples)).persist()
                s["rows_out"] = vertices.count()
            with tr.span("materialize.edges") as s:
                edges = build_edges(triples, entity_map).persist()
                s["rows_out"] = edges.count()
            with tr.span("materialize.edges_agg") as s:
                rollup = build_edges_agg(triples, entity_map).persist()
                s["rows_out"] = rollup.count()
            with tr.span("materialize.write") as s:
                write(vertices, edges, rollup)
                # rows written: the three spans just above
                s["rows_out"] = sum(x["rows_out"] for x in tr.spans[-3:])
    wall = time.perf_counter() - t0
    return {"wall": wall, "triples": triples, "pairs": pairs, "entity_map": entity_map}


def check_build(spark, inp: Inputs, b: dict, out: str) -> tuple[dict, list[str], dict]:
    from pyspark.sql import functions as F

    problems: list[str] = []
    triples, pairs, entity_map = b["triples"], b["pairs"], b["entity_map"]
    vertices = spark.read.parquet(f"{out}/vertices")
    edges = spark.read.parquet(f"{out}/edges")
    rollup = spark.read.parquet(f"{out}/rollup")
    digests = {
        "triples": checks.digest(triples, ["conv_id", "turn_idx", "pred", "obj", "rule_id"]),
        "pairs": checks.digest(pairs, ["surface_a", "surface_b", "jaccard"]),
        "vertices": checks.digest(vertices, ["entity_id", "canonical_name", "surface_forms",
                                             "mention_count"]),
        "edges": checks.digest(edges, ["src_entity", "pred", "dst_entity", "conv_id",
                                       "turn_idx", "weight"]),
    }
    # every mention lands in exactly one vertex; every edge in the rollup
    mentions = triples.filter((F.col("pred") != "class") | F.col("obj").isNotNull()).count()
    vmentions = vertices.agg(F.sum("mention_count")).first()[0]
    if mentions != vmentions:
        problems.append(f"vertices hold {vmentions} mentions, triples {mentions}")
    n_edges = edges.count()
    occ = rollup.agg(F.sum("n_occurrences")).first()[0] or 0
    if occ != n_edges:
        problems.append(f"rollup covers {occ} edge rows, edges table has {n_edges}")
    # linking: scores recomputed independently, planted pairs not missed,
    # and every linked pair canonicalized into one entity
    emap = {r["surface"]: r["entity_id"] for r in entity_map.collect()}
    plist = [(r["surface_a"], r["surface_b"], r["jaccard"], r["cosine"]) for r in pairs.collect()]
    by_fam: dict = {}
    for s in emap:
        if s in inp.surface_truth:
            by_fam.setdefault(inp.surface_truth[s], []).append(s)
    probe = [(m[0], o) for m in by_fam.values() for o in m[1:]]
    problems += checks.verify_pairs(sorted(emap), plist, probe)[:5]
    split = sum(1 for a, b2, _, _ in plist if emap.get(a) != emap.get(b2))
    if split:
        problems.append(f"{split} linked pairs span two entities")
    recall, precision = checks.pair_scores(emap, inp.surface_truth)
    quality = {"link_recall": recall, "link_precision": precision,
               "distinct_surfaces": len(emap), "linked_pairs": len(plist)}
    return quality, problems, digests


def serve_phase(spark, inp: Inputs, tr: spans.Tracer, triples, seed: int) -> list[str]:
    """Build the search index INDEX_REPS times, send TRACED_REQUESTS
    closed-loop requests, and check one query against the exact path.
    Returns the problems."""
    from code_index_spark.operators.link import (
        build_search_index, search_index_topk, search_surfaces,
    )

    queries = gen.queries(seed, sorted(inp.surface_truth), TRACED_REQUESTS + 1)
    with tr.step("serve"):
        for _ in range(INDEX_REPS):
            with tr.span("search.index") as s:
                index = build_search_index(triples)
                s["rows_out"] = index.count()
        for q in queries[1:]:
            with tr.span("search.request") as s:
                s["rows_out"] = len(search_index_topk(index, q, 10).collect())
    fast = [tuple(r) for r in search_index_topk(index, queries[0], 10).collect()]
    slow = [tuple(r) for r in search_surfaces(triples, queries[0], 10).collect()]
    return [] if fast == slow else [f"search_index_topk != search_surfaces for {queries[0]!r}"]


def ingest_phase(spark, tr: spans.Tracer, d: str, seed: int) -> tuple[dict, list[str]]:
    """Checkpointed extraction as jobs/extract_triples.py runs it: ingest
    a small chat corpus, apply a seeded delta, resume. The triples table
    after the resume must equal extract_triples over the new corpus.
    Returns (facts, problems)."""
    from code_index_spark.operators.extract import extract_triples
    from code_index_spark.sources.checkpoint import CheckpointStore, run_with_resume

    os.makedirs(d, exist_ok=True)
    c = INGEST
    gen.chat_transcripts(seed, f"{d}/base.parquet", c["turns"], c["entities"], c["tickets"])
    delta = gen.chat_delta(seed, f"{d}/base.parquet", f"{d}/new.parquet")
    ckpt = CheckpointStore(spark, f"{d}/ckpt")
    out = f"{d}/triples"
    with tr.step("ingest"):
        with tr.span("checkpoint.ingest") as s:
            first = run_with_resume(spark, spark.read.parquet(f"{d}/base.parquet"), out, ckpt,
                                    extract_triples, CKPT_BUCKETS)
            s["rows_out"] = first["triples_written"]
        new = spark.read.parquet(f"{d}/new.parquet")
        pending = ckpt.pending_buckets(new, CKPT_BUCKETS).collect()
        with tr.span("checkpoint.resume") as s:
            second = run_with_resume(spark, new, out, ckpt, extract_triples, CKPT_BUCKETS)
            s["rows_out"] = second["triples_written"]
    cols = ["conv_id", "turn_idx", "pred", "obj", "span_start", "rule_id"]
    problems = []
    if checks.digest(spark.read.parquet(out), cols) != checks.digest(extract_triples(new), cols):
        problems.append("resumed triples table != extract_triples over the new corpus")
    if second["processed_buckets"] != len(pending):
        problems.append(f"resume processed {second['processed_buckets']} buckets, "
                        f"{len(pending)} pending")
    facts = {**delta, "buckets_touched": len(pending),
             "reextracted_turns": sum(r["n_turns"] for r in pending)}
    return facts, problems


def dedupe_phase(spark, tr: spans.Tracer, d: str, seed: int) -> tuple[dict, list[str]]:
    """Near-duplicate clusters (minhash banding with the stop-bucket
    cap) and simhash pairs over a planted document corpus, checked
    against the planted families. Returns (facts, problems)."""
    from code_index_spark.functions.minhash import tables_for_recall
    from code_index_spark.operators.dedupe import (
        minhash_band_candidates, minhash_verified_pairs, near_dup_clusters, simhash,
        simhash_near_pairs,
    )

    os.makedirs(d, exist_ok=True)
    docs_info = gen.neardup_documents(seed, f"{d}/docs.parquet", NEARDUP["documents"])
    docs = spark.read.parquet(f"{d}/docs.parquet")
    with tr.step("dedupe"):
        with tr.span("dedupe.minhash") as s:
            rows = near_dup_clusters(docs, "doc_id", "text", threshold=DEDUP_THRESHOLD,
                                     max_bucket=DEDUP_MAX_BUCKET).collect()
            s["rows_out"] = len(rows)
        with tr.span("dedupe.simhash") as s:
            sim = simhash_near_pairs(simhash(docs, "doc_id", "text")).collect()
            s["rows_out"] = len(sim)
    texts, family = docs_info["texts"], docs_info["family"]
    recall, problems = checks.verify_clusters(
        texts, family, {r["doc_id"]: r["cluster_id"] for r in rows}, DEDUP_THRESHOLD)
    found = {(r["id_a"], r["id_b"]) for r in sim if r["hamming"] == 0}
    first: dict = {}
    missing = 0
    for i, t in enumerate(texts):
        if family[i] >= 0:
            j = first.setdefault(t, i)
            missing += j != i and (j, i) not in found
    if missing:
        problems.append(f"{missing} exact duplicates missing from simhash pairs")
    # the yield's two counts, outside the timed span
    tables = tables_for_recall(DEDUP_THRESHOLD, 1e-6)
    candidates = minhash_band_candidates(docs, "doc_id", "text", 3, tables,
                                         max_bucket=DEDUP_MAX_BUCKET).count()
    verified = minhash_verified_pairs(docs, "doc_id", "text", threshold=DEDUP_THRESHOLD,
                                      max_bucket=DEDUP_MAX_BUCKET).count()
    facts = {**docs_info["props"], "dedup_recall": recall, "candidates": candidates,
             "verified_pairs": verified}
    return facts, problems


# traced-only phases per workload, (name, phase); both ride on tpch,
# whose build is the shorter of the two
EXTRAS = {"tpch": (("dedupe", dedupe_phase), ("ingest", ingest_phase)), "vocab_skew": ()}


# --------------------------------------------------------------------- main

def _session(run_dir: str):
    from code_index_spark.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    import tempfile

    tempfile.tempdir = None
    # the program's own session settings; only where files go and how
    # many finished jobs the status store keeps are the benchmark's
    # (defaultJavaOptions is prepended to get_spark's extraJavaOptions;
    # -UsePerfData keeps the JVM's hsperfdata file out of /tmp)
    spark = get_spark("perfbench", cores=CORES, extra_conf={
        "spark.driver.defaultJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _code_hash() -> str:
    """Hash of the program's sources: stored digests are compared only
    between runs of the same code."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "code_index_spark")
    for dirpath, dirs, files in os.walk(pkg):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(dirpath, f)
                h.update(os.path.relpath(p, pkg).encode() + b"\0")
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def _compare_digests(workload: str, seed: int, digests: dict, clean: bool) -> list[str]:
    """Digests must repeat for a seed across runs of the same code,
    traced or not (the traced build materializes each layer; the
    untraced one runs the production composition). The first run of a
    seed stores its digests only if its other checks passed."""
    path = os.path.join(WORK, "digests", _code_hash(), f"{workload}-{seed}.json")
    if os.path.exists(path):
        with open(path) as fh:
            prev = json.load(fh)
        return [f"{k} digest {v} != {prev[k]} from an earlier run of seed {seed}"
                for k, v in digests.items() if prev.get(k) != v]
    if clean:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(digests, fh)
    return []


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    traced = bool(args.trace)

    import code_index_spark  # noqa: F401  (the program under test must be present)

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    run_dir = os.path.join(WORK, "runs", run_id)
    shutil.rmtree(run_dir, ignore_errors=True)
    phase_s: dict[str, float] = {}
    last = [time.perf_counter()]

    def lap(name: str) -> None:
        now = time.perf_counter()
        phase_s[name] = round(now - last[0], 3)
        last[0] = now

    spark = _session(run_dir)
    lap("session")
    try:
        tr = spans.Tracer(spark, run_id, traced)
        setup = WORKLOADS[args.workload]
        # setup_s is the median of SETUP_REPS set-ups: the first, which
        # also loads the reader classes into the fresh JVM, is the
        # slowest, so the median is that of the warm ones
        setup_times = []
        for _ in range(SETUP_REPS):
            shutil.rmtree(os.path.join(run_dir, "inputs"), ignore_errors=True)
            t0 = time.perf_counter()
            inp = setup(spark, os.path.join(run_dir, "inputs"), args.seed)
            setup_times.append(time.perf_counter() - t0)
        lap("setup")

        # the build repeats until --seconds have passed (at least once),
        # each time from cold caches; kg_turns_per_s is the median
        out = os.path.join(run_dir, "graph")
        walls = []
        deadline = time.perf_counter() + args.seconds
        while not walls or time.perf_counter() < deadline:
            spark.catalog.clearCache()
            b = build_phase(spark, inp, tr, out, traced)
            walls.append(b["wall"])
        lap("build")
        quality, problems, digests = check_build(spark, inp, b, out)
        problems += _compare_digests(args.workload, args.seed, digests, not problems)
        lap("build_checks")
        extras: dict = {}
        if traced:
            problems += serve_phase(spark, inp, tr, b["triples"], args.seed)
            lap("serve")
            for name, phase in EXTRAS[args.workload]:
                extras[name], more = phase(spark, tr, os.path.join(run_dir, name), args.seed)
                problems += more
                lap(name)
        e2e = {
            "setup_s": statistics.median(setup_times),
            "kg_turns_per_s": inp.turns / statistics.median(walls),
            "link_recall": quality["link_recall"],
            "link_precision": quality["link_precision"],
        }
        props = {**inp.props, "link": quality, "builds": len(walls), "phase_s": phase_s,
                 "setup_s": [round(t, 3) for t in setup_times],
                 **extras}
        if traced:
            layer_spans = tr.spans
            ingest, dedupe = extras.get("ingest", {}), extras.get("dedupe", {})
            metrics = {k: (v, _layer_unit(k)) for k, v in
                       spans.layer_metrics(layer_spans, CORES).items()}
            ratios = {
                "link.yield": quality["linked_pairs"]
                / max(1, spans.shuffle_records(layer_spans, "link")),
                "materialize.edges_agg.collapse": _ratio(layer_spans, "materialize.edges_agg",
                                                         "materialize.edges"),
                "checkpoint.resume.useful_ratio": ingest.get("delta_turns", 0)
                / max(1, ingest.get("reextracted_turns", 0)),
                "dedupe.minhash.yield": dedupe.get("verified_pairs", 0)
                / max(1, dedupe.get("candidates", 0)),
            }
            metrics.update({k: (v, "ratio") for k, v in ratios.items()})
            metrics["traced.kg_turns_per_s"] = (e2e["kg_turns_per_s"], "1/s")
            metrics["spark.peak_rss_mb"] = (spans.jvm_peak_rss_mb(spark), "MB")
            tr.write(os.path.join(WORK, "traces", f"{run_id}.json"),
                     {"workload": args.workload, "seed": args.seed, "inputs": props,
                      "digests": digests, "end_to_end": e2e})
        else:
            metrics = {k: (v, E2E[k][0]) for k, v in e2e.items()}
        print(json.dumps({"inputs": props, "digests": digests, "problems": problems}),
              file=sys.stderr)
        # the builds, plus each traced phase's checks
        attempted = len(walls) + (1 + len(EXTRAS[args.workload]) if traced else 0)
        result = {
            "correct": not problems,
            "attempted": attempted,
            "failed": min(attempted, len(problems)),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        _stop(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


def _ratio(records: list[dict], num: str, den: str) -> float:
    n = sum(s.get("rows_out", 0) for s in records if s["name"] == num)
    d = sum(s.get("rows_out", 0) for s in records if s["name"] == den)
    return n / d if d else 0.0


def _layer_unit(name: str) -> str:
    leaf = name.rsplit(".", 1)[1]
    return {"wall_s": "s", "busy_s": "s", "gc_s": "s", "idle_core_s": "core-s",
            "jobs": "count", "rows_out": "rows", "shuffle_bytes": "B",
            "spill_bytes": "B", "failed_tasks": "count"}[leaf]


if __name__ == "__main__":
    sys.exit(main())
