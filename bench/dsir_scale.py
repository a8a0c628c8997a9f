"""DSIR importance weighting at scale (textstats.dsir_weights): the
corpus is scanned twice (target side, raw side) into hashed-bigram
bucket longs, the K-row lambda table broadcasts, and the per-doc
weight aggregation is map-side partial — so the measured rate should
track the LM-scoring rate of bench/ppl_scale.py (same broadcast-join +
per-doc-agg shape), not the dedup-join rates.

Planted check on the prepare_scale fixture: bucket-1 docs are byte
copies of their bucket-0 base, so their hashed-feature multisets are
identical and their integer weights must match their base's EXACTLY —
a determinism check no float formulation would pass.

Usage: python bench/dsir_scale.py [n_docs]
Appends/replaces the '## DSIR importance weighting at scale' section
of BENCH.md and prints one JSON line.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from bench.harness import cores, report  # noqa: E402


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 6_000_000

    from pyspark.sql import functions as F

    from bench.prepare_scale import make_corpus
    from code_index_spark.operators.textstats import dsir_weights
    from code_index_spark.session import get_spark

    spark = get_spark("dsir-scale", cores=cores())
    docs, _ = make_corpus(spark, n_docs)
    target = docs.filter(F.col("doc_id") % 5 == 0)

    t0 = time.perf_counter()
    w = dsir_weights(docs, target, "doc_id", "text")
    agg = w.agg(
        F.count("*").alias("n_docs"),
        F.sum("n_grams").cast("long").alias("n_features"),
        F.min("weight_milli").alias("w_min"),
        F.max("weight_milli").alias("w_max"),
    ).first()
    wall = round(time.perf_counter() - t0, 1)

    # copy-consistency: bucket-1 docs (byte copies of doc_id-1) must
    # carry EXACTLY their base's integer weight
    copies = (
        w.filter(F.col("doc_id") % 10 == 1)
        .select((F.col("doc_id") - 1).alias("base_id"),
                F.col("weight_milli").alias("w_copy"))
        .join(w.select(F.col("doc_id").alias("base_id"),
                       F.col("weight_milli").alias("w_base")), "base_id")
    )
    n_mismatch = copies.filter(F.col("w_copy") != F.col("w_base")).count()

    out = {
        "metric": "dsir_scale", "n_docs": n_docs, "wall_sec": wall,
        "docs_per_sec": int(n_docs / (wall or 1)),
        "n_features": agg["n_features"],
        "weight_range_milli": [agg["w_min"], agg["w_max"]],
        "copy_weight_mismatches": n_mismatch,
        "planted_ok": n_mismatch == 0,
    }
    section = (
        "## DSIR importance weighting at scale\n\n"
        f"({n_docs} docs, 4096 hashed-bigram buckets, local[{cores()}], "
        "bench/dsir_scale.py over the prepare_scale planted fixture; "
        "target = the doc_id % 5 == 0 slice.) Corpus scanned twice "
        "into bucket longs, K-row lambda table broadcast, per-doc sums "
        "map-side partial — integer millinat weights end to end.\n\n"
        "| n_docs | features hashed | wall (s) | rate | planted check |\n"
        "|---|---|---|---|---|\n"
        f"| {n_docs} | {out['n_features']} | {wall} | "
        f"{out['docs_per_sec']} docs/s | byte-copy docs carry exactly "
        f"their base's integer weight: {out['copy_weight_mismatches']} "
        f"mismatches |\n"
    )
    report(out, section)


if __name__ == "__main__":
    main()
