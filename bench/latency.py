"""Search-path latency battery (round-4 VERDICT #6) — the analogue of
the reference's scripted query battery with latency stats
(tests/comprehensive/comprehensive_search_test.py, the source of
BASELINE.md's 55.68 ms average search latency).

Times each search-shaped driver query end to end — plan construction
plus execution plus result fetch, i.e. what one search request costs —
warm (one untimed run first), median of `trials` runs, at sf0.01 (the
search corpus scale; search latency is a small-working-set metric, not
a throughput metric).

Caveat stated up front and in BENCH.md: local[32] charges ~1-2 s of
fixed per-JOB overhead on tiny data (scheduling + hypervisor steal +
Python↔JVM round trips), so these numbers are not comparable to the
reference's in-process 55.68 ms at millisecond resolution — they bound
the ENGINE-side plan cost and show relative ordering across query
shapes. On a long-lived serving session the per-request floor is the
same job-scheduling constant.

Usage: python bench/latency.py [sf_dir] [trials]
Appends/replaces the '## Search-path latency battery' section of
BENCH.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from bench.harness import cores, report, timed  # noqa: E402

QUERIES = ["search_rank", "entity_search", "ann_topk",
           "lsh_bucketed_topk", "ivf_topk"]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    trials = int(sys.argv[2]) if len(sys.argv) > 2 else 5

    import __spark_entry__ as entrymod
    from code_index_spark.session import get_spark

    spark = get_spark("latency", cores=cores())
    qs = entrymod.queries()

    def latency(runs, n_rows) -> dict:
        return {"median_ms": round(1000 * runs.median, 1),
                "min_ms": round(1000 * runs.min, 1),
                "max_ms": round(1000 * max(runs.runs), 1), "n_rows": n_rows}

    results: dict[str, dict] = {}
    for name in QUERIES:
        fn = qs[name]
        # warm run first: scan cache, codegen, Arrow workers
        runs = timed(lambda: fn(spark, sf_dir).collect(), trials)
        results[name] = latency(runs, len(runs.out))
        print(json.dumps({"query": name, **results[name]}), flush=True)

    # --- indexed serving path (round-4 VERDICT #2): the corpus-side
    # TF-IDF state is built ONCE per corpus snapshot; a request is a
    # gram-keyed lookup + small aggregation over that index. This is
    # the deployment split the reference uses (persistent Qdrant index,
    # 55.68 ms queries) — measured here as index-build seconds (paid
    # once) + warm per-request latency over several query strings.
    from code_index_spark.operators.extract import extract_triples_sql
    from code_index_spark.operators.link import (
        build_search_index,
        search_index_topk,
    )
    from code_index_spark.sources.tpch import derived_transcripts

    t0 = time.perf_counter()
    index = build_search_index(
        extract_triples_sql(derived_transcripts(spark, sf_dir))
    )
    index_build_s = round(time.perf_counter() - t0, 2)
    qstrings = ["acme corp widget", "merge request", "data pipeline",
                "alpha beta gamma", "spark shuffle"]
    search_index_topk(index, qstrings[0]).collect()  # warm
    requests = iter([q for q in qstrings for _ in range(trials)])
    n_rows = []
    runs = timed(lambda: n_rows.append(
        len(search_index_topk(index, next(requests), 10).collect())),
        len(qstrings) * trials, warm=False)
    results["entity_search_indexed (warm index)"] = latency(runs, max(n_rows))
    print(json.dumps({"query": "entity_search_indexed (warm index)",
                      "index_build_s": index_build_s,
                      **results["entity_search_indexed (warm index)"]}),
          flush=True)

    section = (
        "## Search-path latency battery\n\n"
        f"(sf={sf_dir.rstrip('/').split('/')[-1]}, warm, median of {trials}.) "
        "Analogue of the reference's scripted search battery "
        "(comprehensive_search_test.py; BASELINE.md quotes 55.68 ms avg "
        "in-process). Each number is one full request — plan build + "
        "execution + fetch — on a warm session. Caveat: local mode "
        "charges ~1-2 s of fixed per-job overhead (scheduling, "
        "Python↔JVM round trips, hypervisor steal) that an in-process "
        "native engine does not pay, so compare SHAPES and deltas, not "
        "absolute ms against the reference; multi-job queries "
        "(checkpointed linking, KMeans probing) pay the constant per "
        "internal job. search_rank / entity_search additionally rebuild "
        "the corpus-side state (extraction → surfaces → tf-idf weights) "
        "inside the request because the driver query is self-contained; "
        "the `entity_search_indexed (warm index)` row is the SERVING "
        "split that removes exactly that rebuild — "
        f"link.build_search_index materializes the weighted-gram index "
        f"once ({index_build_s} s at this sf, paid per corpus snapshot), "
        "and each request is then a gram-keyed lookup + one small "
        "aggregation whose cost is independent of corpus size (median "
        "over 5 query strings x trials; identical results to "
        "entity_search, pinned by oracle + parity pytest).\n\n"
        "| query | median ms | min | max | rows |\n|---|---|---|---|---|\n"
        + "".join(
            f"| {n} | {r['median_ms']} | {r['min_ms']} | {r['max_ms']} |"
            f" {r['n_rows']} |\n"
            for n, r in results.items()
        )
    )
    report({"metric": "search_latency_battery", "sf_dir": sf_dir,
            "queries": {n: r["median_ms"] for n, r in results.items()}}, section)


if __name__ == "__main__":
    main()
