"""Cross-doc duplicated-window stats at scale: the one training-data
operator whose exchange is CORPUS-sized (every window hash crosses the
wire once, as an 8-byte long), measured on the prepare_scale fixture
where the planted populations predict the output exactly:

  - exact-dup docs (bucket 1) share EVERY window with their base doc
    → dup_window_frac = 1.0 for both the copy and its base;
  - near-dup docs (bucket 2) share all but the appended-word tail
    windows with their base;
  - every other population has per-doc-unique windows → frac 0.

Usage: python bench/dupwin_scale.py [n_docs] [window]
Appends/replaces the '## Duplicated-window stats at scale' section of
BENCH.md and prints one JSON line.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from bench.harness import cores, report  # noqa: E402


def main() -> None:
    pos = [a for a in sys.argv[1:] if not a.startswith("--")]
    n_docs = int(pos[0]) if pos else 600_000
    window = int(pos[1]) if len(pos) > 1 else 8

    from pyspark.sql import functions as F

    from bench.prepare_scale import make_corpus
    from code_index_spark.operators.dedupe import duplicated_window_stats
    from code_index_spark.session import get_spark

    spark = get_spark("dupwin-scale", cores=cores())
    docs, _ = make_corpus(spark, n_docs)

    t0 = time.perf_counter()
    stats = duplicated_window_stats(docs, "doc_id", "text", window=window)
    agg = stats.agg(
        F.count("*").alias("n_docs"),
        F.sum("n_windows").alias("n_windows"),
        F.sum("n_dup_windows").alias("n_dup_windows"),
        F.sum((F.col("dup_window_frac") >= 1.0).cast("long")).alias("n_full_dup"),
    ).first()
    wall = round(time.perf_counter() - t0, 1)

    # planted truth: buckets 1 (exact copies) and their bases (bucket 0)
    # are full duplicates of each other → 2 full-dup docs per 10-id
    # block = n/5 docs at frac 1.0
    expect_full = n_docs // 5
    out = {
        "metric": "dupwin_scale", "n_docs": n_docs, "window": window,
        "wall_sec": wall,
        "docs_per_sec": int(n_docs / (wall or 1)),
        "windows_hashed": agg["n_windows"],
        "dup_windows": agg["n_dup_windows"],
        "full_dup_docs": agg["n_full_dup"],
        "full_dup_expected": expect_full,
        "planted_ok": agg["n_full_dup"] == expect_full,
    }
    section = (
        "## Duplicated-window stats at scale\n\n"
        f"({n_docs} docs, window={window}, local[{cores()}], "
        "bench/dupwin_scale.py over the prepare_scale planted fixture.) "
        "The exact-substring dedup signal (operators/dedupe."
        "duplicated_window_stats): one text scan, positions collapsed "
        "map-side to (doc, hash60, count), cross-doc counts via a window "
        "function over the hash partition — the exchange moves 8-byte "
        "longs, never text.\n\n"
        "| n_docs | windows hashed | wall (s) | rate | planted check |\n"
        "|---|---|---|---|---|\n"
        f"| {n_docs} | {out['windows_hashed']} | {wall} | "
        f"{out['docs_per_sec']} docs/s | {out['full_dup_docs']} docs at "
        f"frac 1.0 == expected {expect_full} (exact-copy population + "
        f"bases): {out['planted_ok']} |\n"
    )
    report(out, section)


if __name__ == "__main__":
    main()
