"""Exact duplicated-passage REMOVAL at scale (dedupe.
remove_duplicated_passages): the heaviest new exchange is the window
owner election (min-struct + count per hash60) plus the owner join —
both move (long, long, long) triples, never text — and the planted
prepare_scale populations predict the edit exactly:

  - bucket-1 docs are byte copies of their bucket-0 base → every
    window's owner is the base → the copy is emptied ('' cleaned);
  - bucket-2 docs are base-prefix + one unique word → all 13 prefix
    tokens are covered by base-owned windows, the unique tail token
    survives alone;
  - every other population has per-doc-unique windows → untouched.

Usage: python bench/passage_scale.py [n_docs] [window]
       python bench/passage_scale.py [n_docs] --scaling [N]

Appends/replaces the '## Duplicated-passage removal at scale' (or the
scaling) section of BENCH.md and prints one JSON line. --scaling runs
the identical job at N and 4N cores in fresh JVMs (the prepare_scale
discipline: shuffle width data-sized and EQUAL across levels) for the
north rule's two-parallelism evidence.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from bench.harness import cores, n_vs_4n, report, scaling_table, timed  # noqa: E402


def removal_level(cores: int, n_docs: int, trials: int) -> dict:
    """One parallelism level (run in a fresh JVM): passage-removal rate
    over the prepare_scale fixture, window=8."""
    from pyspark.sql import functions as F

    from bench.prepare_scale import make_corpus
    from code_index_spark.operators.dedupe import remove_duplicated_passages
    from code_index_spark.session import get_spark

    spark = get_spark(f"pass{cores}", cores=cores, shuffle_partitions=32)
    docs, _ = make_corpus(spark, n_docs)
    runs = timed(lambda: remove_duplicated_passages(docs, "doc_id", "text", window=8)
                 .agg(F.count("*"), F.sum("n_removed")).collect(), trials)
    return {"cores": cores, **runs.rates(n_docs)}


def _pathological() -> None:
    """Round-6 fixture (VERDICT r5 #2): ONE long doc duplicated in
    another — the copy's every window is removed, so the token filter
    sees |covered| ~ n_tokens. The pre-r6 per-token array_contains
    scan was O(n_tokens x n_removed) per row (quadratic: 80k tokens
    => 6.4e9 comparisons in ONE task); the array_except form is
    O(n_tokens). Near-linear wall across the ladder is the evidence."""
    from pyspark.sql import functions as F

    from code_index_spark.operators.dedupe import remove_duplicated_passages
    from code_index_spark.session import get_spark

    spark = get_spark("passage-path", cores=cores())
    rows_out = []
    for n_tok in (5_000, 20_000, 80_000):
        base = " ".join(f"w{i}" for i in range(n_tok))
        docs = spark.createDataFrame(
            [(0, base), (1, base)], "doc_id long, text string"
        )
        t0 = time.perf_counter()
        agg = remove_duplicated_passages(docs, "doc_id", "text").agg(
            F.sum("n_removed").cast("long").alias("rm")).first()
        wall = round(time.perf_counter() - t0, 2)
        rows_out.append((n_tok, wall, agg["rm"]))
        print(json.dumps({"metric": "passage_pathological",
                          "n_tokens": n_tok, "wall_sec": wall,
                          "removed": agg["rm"]}), flush=True)
    report({"metric": "passage_pathological",
            "runs": [{"n_tokens": n, "wall_sec": w, "removed": r}
                     for n, w, r in rows_out]}, (
        "## Duplicated-passage removal: pathological long-doc fixture\n\n"
        "(bench/passage_scale.py --pathological: one n-token doc plus a "
        "byte-identical copy — every window of the copy is removed, so "
        "the per-doc token filter runs at |covered| ~ n_tokens. The "
        "round-6 array_except rewrite makes the filter O(n_tokens); the "
        "previous per-token array_contains scan was O(n_tokens²) on this "
        "shape.)\n\n"
        "| n_tokens | wall (s) | removed tokens |\n|---|---|---|\n"
        + "".join(f"| {n} | {w} | {r} |\n" for n, w, r in rows_out)
    ))


def main() -> None:
    pos = [a for a in sys.argv[1:] if not a.startswith("--")]
    n_docs = int(pos[0]) if pos else 600_000
    window = int(pos[1]) if len(pos) > 1 else 8
    if "--pathological" in sys.argv:
        _pathological()
        return
    if "--scaling" in sys.argv:
        idx = sys.argv.index("--scaling")
        n_lo = (int(sys.argv[idx + 1])
                if idx + 1 < len(sys.argv) and sys.argv[idx + 1].isdigit()
                else 8)
        trials = 3
        lo, hi, eff = n_vs_4n(removal_level, n_lo, "median_rate", n_docs, trials)
        report(
            {"metric": "passage_scaling", "n_docs": n_docs,
             "lo": lo, "hi": hi, "efficiency": eff},
            "## Duplicated-passage removal scaling (N vs 4N)\n\n"
            f"({n_docs} docs, window=8, bench/passage_scale.py --scaling: "
            f"fresh JVM per level, warmed, median of {trials}, shuffle width "
            "data-sized and equal across levels.) The removal is "
            "owner-election + owner-join bound (two corpus-sized exchanges "
            "of long triples), so its scaling rides the shuffle stages.\n\n"
            + scaling_table(lo, hi, eff),
        )
        return

    from pyspark.sql import functions as F

    from bench.prepare_scale import make_corpus
    from code_index_spark.operators.dedupe import remove_duplicated_passages
    from code_index_spark.session import get_spark

    spark = get_spark("passage-scale", cores=cores())
    docs, _ = make_corpus(spark, n_docs)

    t0 = time.perf_counter()
    cleaned = remove_duplicated_passages(docs, "doc_id", "text",
                                         window=window)
    agg = cleaned.agg(
        F.count("*").alias("n_docs"),
        F.sum("n_removed").cast("long").alias("n_removed_tokens"),
        F.sum((F.col("cleaned_text") == "").cast("long")).alias("n_emptied"),
        F.sum(((F.col("n_tokens") == 14) & (F.col("n_removed") == 13))
              .cast("long")).alias("n_tail_only"),
    ).first()
    wall = round(time.perf_counter() - t0, 1)

    expect_emptied = n_docs // 10        # bucket-1 byte copies
    expect_tail = n_docs // 10           # bucket-2 prefix copies
    out = {
        "metric": "passage_scale", "n_docs": n_docs, "window": window,
        "wall_sec": wall,
        "docs_per_sec": int(n_docs / (wall or 1)),
        "removed_tokens": agg["n_removed_tokens"],
        "emptied_docs": agg["n_emptied"],
        "tail_only_docs": agg["n_tail_only"],
        "planted_ok": (agg["n_emptied"] == expect_emptied
                       and agg["n_tail_only"] == expect_tail),
    }
    report(out, (
        "## Duplicated-passage removal at scale\n\n"
        f"({n_docs} docs, window={window}, local[{cores()}], "
        "bench/passage_scale.py over the prepare_scale planted fixture.) "
        "The exact-substring EDIT step (dedupe.remove_duplicated_"
        "passages): one text scan into (doc, pos, hash60) triples, "
        "map-side-combinable owner election, owner join on the hash, "
        "coverage exploded only for removed windows; the per-row token "
        "filter runs where the doc already lives.\n\n"
        "| n_docs | wall (s) | rate | removed tokens | planted check |\n"
        "|---|---|---|---|---|\n"
        f"| {n_docs} | {wall} | {out['docs_per_sec']} docs/s | "
        f"{out['removed_tokens']} | {out['emptied_docs']} emptied == "
        f"{expect_emptied} copies AND {out['tail_only_docs']} tail-only "
        f"== {expect_tail} prefix copies: {out['planted_ok']} |\n"
    ))


if __name__ == "__main__":
    main()
