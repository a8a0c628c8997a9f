"""GC-flag bake-off for the session's driver JVM options (round-4
VERDICT #1): the ParallelGC+NewRatio=1 flags in session.py were
adopted from the sf1 (6M-turn) scaling measurement, where default G1
capped the catalyst extractor at 64k turns/s; the driver's sf0.1
BENCH_r03 then showed extract_triples 7.8s → 10.1s round over round
with an unchanged plan. This script isolates the flag at sf0.1: same
input, same widths, fresh JVM per config, workers warmed, median of
`trials` timed runs per config, both engine paths — each config is one
bench/scaling.py extraction level with the flags as the driver's
extraJavaOptions.

Usage: python bench/gc_bakeoff.py [sf_dir] [trials] [mult] [configs...]
(mult replicates the corpus as in bench/scaling.py — 10 × sf0.1 ≈ sf1 —
to re-validate a flag choice at the scale it was originally adopted
for). Prints one JSON line per config plus a verdict line; results are
narrated in BENCH.md.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from bench.harness import cores, fresh_jvm  # noqa: E402
from bench.scaling import extract_level  # noqa: E402

CONFIGS = {
    "parallel_newratio1": "-XX:+UseParallelGC -XX:NewRatio=1",
    "default_g1": "-XX:+UseG1GC",
    "parallel_only": "-XX:+UseParallelGC",
}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    trials = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    mult = int(sys.argv[3]) if len(sys.argv) > 3 else 1
    names = sys.argv[4:] or list(CONFIGS)
    results = {}
    for name in names:
        gc = CONFIGS[name]
        level = fresh_jvm(extract_level, cores(), sf_dir, trials, mult, False,
                          {"spark.driver.extraJavaOptions": gc})
        results[name] = {"gc": gc, "n_turns": level["n_turns"], **{
            p: {"median_sec": level[p]["median_sec"], "secs": level[p]["secs"]}
            for p in ("catalyst", "python")}}
        print(json.dumps({"config": name, "mult": mult, **results[name]}),
              flush=True)
    best = min(results, key=lambda k: results[k]["catalyst"]["median_sec"])
    print(json.dumps({"verdict_fastest_catalyst": best,
                      "sf_dir": sf_dir, "trials": trials, "mult": mult}))


if __name__ == "__main__":
    main()
