"""Text-normalization throughput (clean.normalize_text): a 13-rule
regexp_replace chain, per-row codegen, zero shuffle — the measurement
is pure scan+project rate, the shape that fuses into whatever consumes
it at 100 TB.

The corpus is the prepare_scale fixture with the registry's messy
fixture expression (__spark_entry__._MESSY_SQL) applied first, so the
rules do real replacement work on ~¾ of rows (clean synthetic text
would measure the no-match fast path only).

Usage: python bench/clean_scale.py [n_docs] [--scaling N]
Appends/replaces the '## Text normalization at scale' section of
BENCH.md and prints one JSON line.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from bench.harness import cores, report  # noqa: E402


def _run(cores: int, n_docs: int):
    from pyspark.sql import functions as F

    import __spark_entry__ as entry
    from bench.prepare_scale import make_corpus
    from code_index_spark.operators.clean import normalize_text
    from code_index_spark.session import get_spark

    spark = get_spark(
        "clean-scale", cores=cores, shuffle_partitions=max(cores, 32)
    )
    docs, _ = make_corpus(spark, n_docs)
    messy = docs.select(
        "doc_id", F.expr(entry._MESSY_SQL).alias("messy")
    ).localCheckpoint(eager=True)
    t0 = time.perf_counter()
    agg = normalize_text(messy, "messy").agg(
        F.count("*").alias("n"),
        F.sum(F.col("changed").cast("long")).alias("n_changed"),
        F.sum("len_after").alias("chars_out"),
    ).first()
    wall = round(time.perf_counter() - t0, 1)
    spark.stop()
    return wall, agg


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    n_docs = int(args[0]) if args else 6_000_000
    scaling_n = None
    if "--scaling" in sys.argv:
        scaling_n = int(sys.argv[sys.argv.index("--scaling") + 1])

    wall, agg = _run(cores(), n_docs)

    eff = None
    walls = {}
    if scaling_n:
        for c in (scaling_n, 4 * scaling_n):
            walls[c], _ = _run(c, n_docs)
        eff = round(walls[scaling_n] / (4 * walls[4 * scaling_n]), 3)

    out = {
        "metric": "clean_scale",
        "n_docs": n_docs,
        "n_changed": int(agg["n_changed"]),
        "wall_sec": wall,
        "docs_per_sec": round(n_docs / wall, 1),
        "scaling_eff": eff,
        "cores": cores(),
    }
    lines = [
        "## Text normalization at scale",
        "",
        f"({n_docs} docs, {int(agg['n_changed'])} actually modified, "
        f"local[{cores()}], bench/clean_scale.py; messy fixture from the "
        "normalized_docs oracle applied first so the rule chain does "
        "real replacement work)",
        "",
        f"| normalize_text (13-rule codegen chain) | {wall}s = "
        f"{round(n_docs / wall / 1000, 1)}k docs/s |",
        "|---|---|",
    ]
    if eff is not None:
        lines.append(
            f"| scaling {scaling_n}→{4 * scaling_n} cores | "
            f"{walls[scaling_n]}s → {walls[4 * scaling_n]}s, "
            f"efficiency {eff} |"
        )
    report(out, "\n".join(lines))


if __name__ == "__main__":
    main()
