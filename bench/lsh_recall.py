"""Measured recall of the >10⁶-surface entity-linking blocking path
(link_mentions' banded branch, functions.simjoin.minhash_join) at the
link_mentions cutover.

Why this exists: link_mentions routes to minhash banding exactly when
the vocabulary exceeds 10⁶ distinct surfaces (link.py
LSH_ABOVE_SURFACES) — the one regime where blocking recall cannot be
recovered by rescoring. Round 2 shipped a fixed k=5 OR-construction whose
measured miss rate was ~8% at jaccard 0.4; round 3 sizes k from a
target miss probability (functions.minhash.tables_for_recall). This
script MEASURES recall at the cutover scale instead of asserting it.

Method: synthesize n_base high-entropy surfaces (md5-token triples, so
unplanted cross-pair similarity is ~0 and candidate volume stays
linear), plant two variant classes with known construction:
  high  — pluralized surface (jaccard ~0.85)
  mid   — last token replaced (jaccard ~0.45-0.55, straddling the 0.4
          threshold where the recall bound is weakest)
Ground truth = planted pairs with EXACT gram jaccard >= 0.4, computed
pairwise (linear — no O(n²) join needed, and exact by construction).
Recall(k) = |truth ∩ candidates(k)| / |truth|, theory bound
1 - (1-s)^k at s=0.4.

Run:  python bench/lsh_recall.py [n_surfaces]   (default 1_200_000)
Appends nothing; prints a markdown table + one JSON line for BENCH.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from bench.harness import base36_token, cores  # noqa: E402


def main() -> None:
    n_total = int(sys.argv[1]) if len(sys.argv) > 1 else 1_200_000
    n_base = int(n_total * 0.8)

    from pyspark.sql import functions as F

    from code_index_spark.operators.link import char_ngrams, normalize_surface
    from code_index_spark.session import get_spark

    spark = get_spark("lsh-recall", cores=cores(), shuffle_partitions=64)

    base = (
        spark.range(n_base)
        .select("id", F.concat_ws(
            "_", base36_token("a"), base36_token("b"), base36_token("c")
        ).alias("surface"))
    )
    # planted variants: id%4==0 -> plural (high sim); id%4==1 -> last
    # token swapped (mid sim, straddles the 0.4 threshold)
    hi = base.filter(F.col("id") % 4 == 0).select(
        "id", F.col("surface").alias("surface_base"),
        F.concat(F.col("surface"), F.lit("s")).alias("surface_var"),
    )
    mid = base.filter(F.col("id") % 4 == 1).select(
        "id", F.col("surface").alias("surface_base"),
        F.concat_ws("_", base36_token("a"), base36_token("b"), base36_token("z"))
        .alias("surface_var"),
    )
    planted = hi.unionByName(mid)
    surfaces = (
        base.select("surface")
        .unionByName(planted.select(F.col("surface_var").alias("surface")))
        .withColumn("norm", normalize_surface(F.col("surface")))
        .withColumn("grams", char_ngrams(F.col("norm")))
        .localCheckpoint(eager=True)
    )
    n_surf = surfaces.count()

    # exact ground truth, pairwise (linear in planted pairs)
    g = lambda c: char_ngrams(normalize_surface(c))  # noqa: E731
    inter = F.size(F.array_intersect(g(F.col("surface_base")), g(F.col("surface_var"))))
    union = (
        F.size(g(F.col("surface_base"))) + F.size(g(F.col("surface_var"))) - inter
    )
    truth = (
        planted.withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= 0.4)
        .select(
            F.least("surface_base", "surface_var").alias("surface_a"),
            F.greatest("surface_base", "surface_var").alias("surface_b"),
            "jaccard",
        )
        .localCheckpoint(eager=True)
    )
    n_truth = truth.count()
    n_truth_mid = truth.filter(F.col("jaccard") < 0.6).count()

    from code_index_spark.functions.minhash import band_collision_pairs, minhash_bands
    from code_index_spark.functions.simjoin import minhash_join
    from code_index_spark.operators.link import LSH_MAX_BUCKET

    print(f"surfaces={n_surf} truth_pairs={n_truth} (mid-band {n_truth_mid})")
    print("| r x bands | theory recall @ s=0.4 | measured | mid-band | candidates | wall (s) |")
    print("|---|---|---|---|---|---|")
    results = []
    # r=1 rows show WHY the OR-only construction fails at this scale
    # (candidate volume) — only runnable at demo sizes, since at the
    # cutover their candidate volume is itself the quadratic failure;
    # r=2 shows the residual noise floor (measured 230M candidates at
    # 1.44M surfaces); r=3 is the production setting
    configs = ((2, 27), (3, 70)) if n_total > 150_000 else (
        (1, 5), (1, 10), (2, 27), (3, 70))
    for r, k in configs:
        t0 = time.perf_counter()
        sets = surfaces.select(F.col("surface").alias("id"), "grams")
        bands = minhash_bands(sets, "id", "grams", k, rows_per_band=r)
        # count, don't checkpoint: at demo sizes the r=1 raw candidate
        # set runs to tens of millions of rows and caching it is the
        # fastest way to OOM the measurement itself. max_bucket is the
        # banded link branch's stop-bucket cap.
        n_raw = band_collision_pairs(bands, max_bucket=LSH_MAX_BUCKET).count()
        cands = minhash_join(
            sets, 0.4, k, rows_per_band=r, max_bucket=LSH_MAX_BUCKET
        ).select(
            F.col("id_a").alias("surface_a"), F.col("id_b").alias("surface_b")
        ).localCheckpoint(eager=True)
        wall = round(time.perf_counter() - t0, 1)
        found = truth.join(cands, ["surface_a", "surface_b"], "left_semi")
        n_found = found.count()
        n_found_mid = found.filter(F.col("jaccard") < 0.6).count()
        rec = round(n_found / n_truth, 4)
        rec_mid = round(n_found_mid / max(n_truth_mid, 1), 4)
        theory = round(1 - (1 - 0.4 ** r) ** k, 4)
        results.append({"rows_per_band": r, "bands": k, "recall": rec,
                        "recall_mid": rec_mid, "candidates": n_raw,
                        "wall_sec": wall})
        print(f"| {r}x{k} | {theory} | {rec} | {rec_mid} | {n_raw} | {wall} |")
    print(json.dumps({
        "metric": "lsh_linking_recall", "n_surfaces": n_surf,
        "n_truth_pairs": n_truth, "configs": results,
    }))


if __name__ == "__main__":
    main()
