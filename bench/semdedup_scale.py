"""Semantic-dedup (embedding near-dup) throughput at scale.

semantic_dedupe's 100 TB shape: ONE checkpointed vector scan feeding
the sign-bucket pair join (a/b sides) and the per-doc cell rollup;
candidate volume is intra-bucket only, so `sign_coords` is the sizing
lever — 2^k cells must keep bucket sizes small enough that the exact
cosine rescore stays linear-ish (k=6 is the oracle/default shape for
small corpora; this bench runs k=18 ≈ 262k cells so 2M vectors average
~8 per cell).

Fixture: deterministic hash-derived vectors (dim 64, uniform [-1,1]),
generated ON THE EXECUTORS (no driver materialization). Every 10th id
is a planted near-copy of its block's first id: the first `sign_coords`
coordinates are copied EXACTLY (same cell by construction) and the
remaining ones get a ±1% hash perturbation (cosine ≈ 0.999), so the
expected semantic-dup count is exactly n/10 — the wall clock comes
with a built-in recall check. Random 64-dim pairs have cosine ~
N(0, 0.125); P(≥ 0.8) ≈ 1e-10, so planted structure dominates.

Usage: python bench/semdedup_scale.py [n_vecs] [--scaling N]
Appends/replaces the '## Semantic dedup at scale' section of BENCH.md
and prints one JSON line.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from bench.harness import cores, report  # noqa: E402

DIM = 64
SIGN_COORDS = 18
THRESHOLD = 0.8


def make_vectors(spark, n: int):
    """(vec_id, embedding) with planted near-copies, hash-derived so
    the table is reproducible and generated at session width."""
    from pyspark.sql import functions as F

    base_id = F.when(
        F.col("id") % 10 == 9, F.col("id") - 9
    ).otherwise(F.col("id"))

    def coord(i: int):
        c = (
            F.pmod(F.xxhash64(base_id, F.lit(i)), F.lit(2001)) - 1000
        ) / 1000.0
        if i >= SIGN_COORDS:
            # copies only: ±1% perturbation on the non-bucket coords
            c = c + F.when(
                F.col("id") % 10 == 9,
                (
                    F.pmod(F.xxhash64(F.col("id"), F.lit(1000 + i)),
                           F.lit(201)) - 100
                ) / 10000.0,
            ).otherwise(F.lit(0.0))
        return c

    width = spark.sparkContext.defaultParallelism * 2
    return (
        spark.range(0, n, 1, width)
        .select(
            F.col("id").alias("vec_id"),
            F.array(*[coord(i) for i in range(DIM)]).alias("embedding"),
        )
        .localCheckpoint(eager=True)  # generation out of the measured op
    )


def _run(cores: int, n: int):
    from pyspark.sql import functions as F

    from code_index_spark.operators.dedupe import semantic_dedupe
    from code_index_spark.session import get_spark

    spark = get_spark(
        "semdedup-scale", cores=cores, shuffle_partitions=max(cores, 32)
    )
    vecs = make_vectors(spark, n)
    t0 = time.perf_counter()
    agg = semantic_dedupe(
        vecs, "vec_id", "embedding",
        threshold=THRESHOLD, sign_coords=SIGN_COORDS,
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.col("is_semantic_dup").cast("long")).alias("n_dups"),
        F.sum("n_dup_neighbors").alias("n_neighbor_edges"),
    ).first()
    wall = round(time.perf_counter() - t0, 1)
    spark.stop()
    return wall, agg


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    n = int(args[0]) if args else 2_000_000
    scaling_n = None
    if "--scaling" in sys.argv:
        scaling_n = int(sys.argv[sys.argv.index("--scaling") + 1])

    wall, agg = _run(cores(), n)
    planted = n // 10

    eff = None
    walls = {}
    if scaling_n:
        for c in (scaling_n, 4 * scaling_n):
            walls[c], _ = _run(c, n)
        eff = round(walls[scaling_n] / (4 * walls[4 * scaling_n]), 3)

    out = {
        "metric": "semdedup_scale",
        "n_vecs": n,
        "dim": DIM,
        "sign_coords": SIGN_COORDS,
        "n_dups": int(agg["n_dups"]),
        "planted": planted,
        "n_neighbor_edges": int(agg["n_neighbor_edges"]),
        "wall_sec": wall,
        "vecs_per_sec": round(n / wall, 1),
        "scaling_eff": eff,
        "cores": cores(),
    }
    lines = [
        "## Semantic dedup at scale",
        "",
        f"({n} vectors dim {DIM}, sign_coords {SIGN_COORDS} "
        f"(2^{SIGN_COORDS} cells), threshold {THRESHOLD}, local[{cores()}], "
        "bench/semdedup_scale.py; every 10th vector a planted near-copy "
        "(cell-exact by construction, cosine ≈ 0.999) so the wall comes "
        "with a recall check)",
        "",
        "| measure | value |",
        "|---|---|",
        f"| semantic_dedupe (1 checkpointed scan + bucket pair join + "
        f"rollup) | {wall}s = {round(n / wall / 1000, 1)}k vecs/s |",
        f"| planted recall | {int(agg['n_dups'])} dups flagged / "
        f"{planted} planted |",
        f"| neighbor edges scored | {int(agg['n_neighbor_edges'])} |",
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
