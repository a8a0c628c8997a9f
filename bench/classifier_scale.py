"""Seed-classifier filtering at scale (textstats.seed_classifier):
both seed slices and the scoring corpus are scanned once each into
hashed unigram+bigram bucket longs, the K-row NB weight table
broadcasts, and the per-doc logit aggregation is map-side partial —
the same broadcast-join + per-doc-agg shape as bench/dsir_scale.py,
with one extra (cheap) seed-side scan for the negative class.

Planted checks on the prepare_scale fixture:
  - bucket-1 docs are byte copies of their bucket-0 base, so their
    integer logits must match the base's EXACTLY (the dsir copy
    discipline — no float formulation passes this);
  - the fixture's language split is separable at the marker-word
    level (English bodies carry the/and/of/to/in, bucket-4 docs carry
    le/et/la), so held-out docs of each class — doc_id % 3 != 0, never
    seen in training — must land on their class's side of the NB
    boundary. Boilerplate bucket 3 (no markers at all) is excluded:
    its logit is legitimately prior-dominated.

Usage: python bench/classifier_scale.py [n_docs]
       python bench/classifier_scale.py [n_docs] --scaling [N]

Appends/replaces the '## Seed-classifier filtering at scale' (or the
scaling) section of BENCH.md and prints one JSON line. --scaling runs
the identical job at N and 4N cores in fresh JVMs (the prepare_scale
discipline: shuffle width data-sized and EQUAL across levels) for the
north rule's two-parallelism evidence.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from bench.harness import cores, n_vs_4n, report, scaling_table, timed  # noqa: E402


def classify_level(cores: int, n_docs: int, trials: int) -> dict:
    """One parallelism level (run in a fresh JVM): seed-classifier
    scoring rate over the prepare_scale fixture."""
    from pyspark.sql import functions as F

    from bench.prepare_scale import make_corpus
    from code_index_spark.operators.textstats import seed_classifier
    from code_index_spark.session import get_spark

    spark = get_spark(f"clf{cores}", cores=cores, shuffle_partitions=32)
    docs, _ = make_corpus(spark, n_docs)
    bucket = F.col("doc_id") % 10
    seed = F.col("doc_id") % 3 == 0
    pos = docs.filter(seed & ~bucket.isin(3, 4))
    neg = docs.filter(seed & (bucket == 4))
    runs = timed(lambda: seed_classifier(docs, pos, neg, "doc_id", "text")
                 .agg(F.count("*"), F.sum(F.col("pred_pos").cast("long")))
                 .collect(), trials)
    return {"cores": cores, **runs.rates(n_docs)}


def main() -> None:
    pos_args = [a for a in sys.argv[1:] if not a.startswith("--")]
    n_docs = int(pos_args[0]) if pos_args else 6_000_000
    if "--scaling" in sys.argv:
        idx = sys.argv.index("--scaling")
        n_lo = (int(sys.argv[idx + 1])
                if idx + 1 < len(sys.argv) and sys.argv[idx + 1].isdigit()
                else 2)
        trials = 3
        lo, hi, eff = n_vs_4n(classify_level, n_lo, "median_rate", n_docs, trials)
        report(
            {"metric": "classifier_scaling", "n_docs": n_docs,
             "lo": lo, "hi": hi, "efficiency": eff},
            "## Seed-classifier scaling (N vs 4N)\n\n"
            f"({n_docs} docs, bench/classifier_scale.py --scaling: fresh "
            f"JVM per level, warmed, median of {trials}, shuffle width "
            "data-sized and equal across levels.) The stage mix is one "
            "corpus feature scan + map-side-partial per-doc agg against a "
            "broadcast K-row weight table — embarrassingly parallel except "
            "the K-row weight build.\n\n"
            + scaling_table(lo, hi, eff),
        )
        return

    from pyspark.sql import functions as F

    from bench.prepare_scale import make_corpus
    from code_index_spark.operators.textstats import seed_classifier
    from code_index_spark.session import get_spark

    spark = get_spark("classifier-scale", cores=cores())
    docs, _ = make_corpus(spark, n_docs)
    bucket = F.col("doc_id") % 10
    seed = F.col("doc_id") % 3 == 0
    pos_seed = docs.filter(seed & ~bucket.isin(3, 4))
    neg_seed = docs.filter(seed & (bucket == 4))

    t0 = time.perf_counter()
    scored = seed_classifier(docs, pos_seed, neg_seed, "doc_id", "text")
    agg = scored.agg(
        F.count("*").alias("n_docs"),
        F.sum("n_feats").cast("long").alias("n_features"),
        F.sum(F.col("pred_pos").cast("long")).alias("n_pos"),
    ).first()
    wall = round(time.perf_counter() - t0, 1)

    # byte-copy consistency: bucket-1 docs repeat doc_id-1's text
    copies = (
        scored.filter(F.col("doc_id") % 10 == 1)
        .select((F.col("doc_id") - 1).alias("base_id"),
                F.col("logit_milli").alias("l_copy"))
        .join(scored.select(F.col("doc_id").alias("base_id"),
                            F.col("logit_milli").alias("l_base")),
              "base_id")
    )
    n_copy_mismatch = copies.filter(
        F.col("l_copy") != F.col("l_base")).count()

    # held-out accuracy: never-seeded docs of each separable class
    held = scored.join(
        docs.select("doc_id",
                    bucket.alias("bkt"),
                    (~seed).alias("held")), "doc_id"
    ).filter("held")
    errs = held.agg(
        F.sum(F.when((F.col("bkt") == 4) & F.col("pred_pos"), 1)
               .otherwise(0)).alias("fr_as_pos"),
        F.sum(F.when(~F.col("bkt").isin(3, 4) & ~F.col("pred_pos"), 1)
               .otherwise(0)).alias("en_as_neg"),
        F.sum(F.when(F.col("bkt") == 4, 1).otherwise(0)).alias("n_fr"),
        F.sum(F.when(~F.col("bkt").isin(3, 4), 1).otherwise(0)).alias("n_en"),
    ).first()

    out = {
        "metric": "classifier_scale", "n_docs": n_docs, "wall_sec": wall,
        "docs_per_sec": int(n_docs / (wall or 1)),
        "n_features": agg["n_features"],
        "n_pred_pos": agg["n_pos"],
        "copy_logit_mismatches": n_copy_mismatch,
        "heldout_errors": {"fr_as_pos": errs["fr_as_pos"],
                           "en_as_neg": errs["en_as_neg"],
                           "n_fr": errs["n_fr"], "n_en": errs["n_en"]},
        "planted_ok": n_copy_mismatch == 0
        and errs["fr_as_pos"] == 0 and errs["en_as_neg"] == 0,
    }
    report(out, (
        "## Seed-classifier filtering at scale\n\n"
        f"({n_docs} docs, 4096 hashed unigram+bigram buckets, "
        f"local[{cores()}], bench/classifier_scale.py over the "
        "prepare_scale planted fixture; seeds = the doc_id % 3 == 0 "
        "slice split English-markers vs bucket-4 French-markers, so "
        "2/3 of scored docs are held out.) Seeds + corpus each scanned "
        "once into bucket longs, K-row NB weight table broadcast, "
        "per-doc logits map-side partial — integer millinats end to "
        "end.\n\n"
        "| n_docs | features hashed | wall (s) | rate | planted check |\n"
        "|---|---|---|---|---|\n"
        f"| {n_docs} | {out['n_features']} | {wall} | "
        f"{out['docs_per_sec']} docs/s | byte-copy logits exact: "
        f"{n_copy_mismatch} mismatches; held-out class errors "
        f"{errs['fr_as_pos']}/{errs['n_fr']} fr, "
        f"{errs['en_as_neg']}/{errs['n_en']} en |\n"
    ))


if __name__ == "__main__":
    main()
