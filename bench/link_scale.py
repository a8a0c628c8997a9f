"""End-to-end entity linking PAST the LSH cutover (round-4 VERDICT #4):
one run at >10⁶ distinct surfaces through the composed at-scale path

    link_mentions' banded branch (r=3/b=70 AND-OR banding, stop-bucket
      cap, then the in-place Jaccard + TF-IDF cosine verify)
      → connected_components (star loop — the >10⁶-edge branch)

The banded branch runs at any size here (LSH_ABOVE_SURFACES is set to
0 in this process). bench/lsh_recall.py measured the BLOCKING stage in
isolation; this composes both stages on one input and reports wall,
pair / edge / component counts, plus an end-to-end cluster-quality
check (planted variant families must land in one component).

Fixture (same discipline as lsh_recall.py): high-entropy base36
md5-token surfaces so unplanted similarity is ~0; every id%3==0 base
gets TWO planted variants (plural / 'es' suffix — a 3-surface family,
3 qualifying pairs) and every id%3==1 base gets a mid-similarity
variant straddling the 0.4 threshold. Sized so the pair graph into CC
exceeds the 10⁶-edge driver-union-find cutover and the distributed
star loop actually runs.

Usage: python bench/link_scale.py [n_base]   (default 1_000_000)
Appends/replaces the '## End-to-end linking past the LSH cutover'
section of BENCH.md and prints one JSON line.

Exact-path mode, BELOW the cutover:

    python bench/link_scale.py --exact [--control DIR] [--runs N]

times linked_pairs_exact alone on the four perfbench vocab_skew
link-scaling inputs (5.8k / 7.2k / 11.0k / 11.9k distinct surfaces:
chat transcripts from perfbench/gen.py → extract_triples_sql →
mention_surfaces, checkpointed before timing) at local[4] with the
session defaults. With --control DIR, the linked_pairs_exact of the
checkout at DIR runs in the same JVM, interleaved call by call with
this checkout's (the order alternates per run, after one untimed
warm-up call of each), and the pair sets, Jaccard and cosine of the
two are compared. Writes BENCH_link_exact.json (min and median per
size) and prints it.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from bench.harness import ROOT, base36_token, cores, report  # noqa: E402


# perfbench/baseline.json "link_scaling": (turns, person families,
# tickets, seed) of the four vocab_skew inputs
EXACT_SIZES = ((6000, 2600, 400, 11), (5000, 3600, 500, 405),
               (8000, 5600, 800, 12), (9000, 6000, 800, 11))


def _control_link_module(root: str):
    """operators.link of the checkout at `root`, imported as a separate
    package so both versions run in one session."""
    import importlib
    import importlib.util

    alias = "control_code_index_spark"
    pkg = os.path.join(root, "code_index_spark")
    spec = importlib.util.spec_from_file_location(
        alias, os.path.join(pkg, "__init__.py"), submodule_search_locations=[pkg])
    mod = importlib.util.module_from_spec(spec)
    sys.modules[alias] = mod
    spec.loader.exec_module(mod)
    return importlib.import_module(f"{alias}.operators.link")


def exact_main(control: str | None, runs: int) -> None:
    import statistics
    import tempfile

    import pyspark

    sys.path.insert(0, os.path.join(ROOT, "perfbench"))
    import gen

    from code_index_spark.operators import link
    from code_index_spark.operators.extract import extract_triples_sql
    from code_index_spark.session import get_spark

    spark = get_spark("link-scale-exact", cores=4)
    impls = {"change": link.linked_pairs_exact}
    if control:
        impls["control"] = _control_link_module(control).linked_pairs_exact

    def pairs(df):
        return {(r["surface_a"], r["surface_b"]): (r["jaccard"], r["cosine"])
                for r in df.collect()}

    with tempfile.TemporaryDirectory() as tmp:
        inputs = []
        for turns, families, tickets, seed in EXACT_SIZES:
            path = os.path.join(tmp, f"chat_{seed}_{turns}.parquet")
            gen.chat_transcripts(seed, path, turns, families, tickets)
            surfaces = link.mention_surfaces(
                extract_triples_sql(spark.read.parquet(path))
            ).localCheckpoint(eager=True)
            inputs.append(((turns, families, tickets, seed), surfaces, surfaces.count()))

        _, warm, n_warm = inputs[0]
        for fn in impls.values():
            fn(warm, n_warm).localCheckpoint(eager=True)

        result = []
        for (turns, families, tickets, seed), surfaces, n in inputs:
            walls = {name: [] for name in impls}
            out = {}
            for r in range(runs):
                order = list(impls) if r % 2 == 0 else list(impls)[::-1]
                for name in order:
                    t0 = time.perf_counter()
                    linked = impls[name](surfaces, n).localCheckpoint(eager=True)
                    walls[name].append(round(time.perf_counter() - t0, 3))
                    out.setdefault(name, linked)
            row = {"turns": turns, "families": families, "tickets": tickets,
                   "seed": seed, "distinct_surfaces": n}
            for name, w in walls.items():
                row[name] = {"wall_s": w, "min_s": min(w),
                             "median_s": round(statistics.median(w), 3)}
            got = pairs(out["change"])
            row["pairs"] = len(got)
            if control:
                want = pairs(out["control"])
                common = got.keys() & want.keys()
                row["same_pairs"] = got.keys() == want.keys()
                row["jaccard_bit_equal"] = all(got[k][0] == want[k][0] for k in common)
                row["max_cosine_diff"] = max(
                    (abs(got[k][1] - want[k][1]) for k in common), default=0.0)
                row["median_speedup"] = round(
                    row["control"]["median_s"] / row["change"]["median_s"], 2)
            print(json.dumps(row), flush=True)
            result.append(row)

    doc = {
        "metric": "linked_pairs_exact wall, localCheckpoint(eager) of the pairs",
        "cores": 4, "spark_version": pyspark.__version__, "runs": runs,
        "interleaved": bool(control), "sizes": result,
    }
    with open(os.path.join(ROOT, "BENCH_link_exact.json"), "w") as fh:
        json.dump(doc, fh, indent=1)
        fh.write("\n")


def main() -> None:
    if "--exact" in sys.argv:
        argv = sys.argv[1:]
        control = argv[argv.index("--control") + 1] if "--control" in argv else None
        runs = int(argv[argv.index("--runs") + 1]) if "--runs" in argv else 3
        exact_main(control, runs)
        return
    n_base = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000

    from pyspark.sql import functions as F

    from code_index_spark.operators import link
    from code_index_spark.operators.canon import connected_components
    from code_index_spark.operators.link import char_ngrams, normalize_surface
    from code_index_spark.session import get_spark

    spark = get_spark("link-scale", cores=cores(), shuffle_partitions=64)

    base = spark.range(n_base).select(
        "id",
        F.concat_ws("_", base36_token("a"), base36_token("b"), base36_token("c"))
        .alias("surface"),
    )
    fam = base.filter(F.col("id") % 3 == 0)
    v1 = fam.select("id", F.concat(F.col("surface"), F.lit("s")).alias("surface"))
    v2 = fam.select("id", F.concat(F.col("surface"), F.lit("es")).alias("surface"))
    mid = base.filter(F.col("id") % 3 == 1).select(
        "id",
        F.concat_ws("_", base36_token("a"), base36_token("b"), base36_token("z"))
        .alias("surface"),
    )
    surfaces = (
        base.select("surface")
        .unionByName(v1.select("surface"))
        .unionByName(v2.select("surface"))
        .unionByName(mid.select("surface"))
        .withColumn("norm", normalize_surface(F.col("surface")))
        .withColumn("grams", char_ngrams(F.col("norm")))
        .localCheckpoint(eager=True)
    )
    n_surf = surfaces.count()
    # planted 3-surface families for the end-to-end quality check
    families = (
        fam.select("id", F.col("surface").alias("s0"))
        .join(v1.select("id", F.col("surface").alias("s1")), "id")
        .join(v2.select("id", F.col("surface").alias("s2")), "id")
        .localCheckpoint(eager=True)
    )
    n_fam = families.count()
    print(f"surfaces={n_surf} planted_families={n_fam}", flush=True)

    out = {"metric": "link_scale_end_to_end", "n_surfaces": n_surf,
           "n_families": n_fam}

    link.LSH_ABOVE_SURFACES = 0
    t0 = time.perf_counter()
    linked = link.link_mentions(None, surfaces=surfaces).select(
        "surface_a", "surface_b"
    ).localCheckpoint(eager=True)
    out["n_linked_pairs"] = linked.count()
    out["wall_link_sec"] = round(time.perf_counter() - t0, 1)
    print(json.dumps({k: out[k] for k in ("n_linked_pairs", "wall_link_sec")}),
          flush=True)

    t0 = time.perf_counter()
    comps = connected_components(linked).localCheckpoint(eager=True)
    out["n_labeled_surfaces"] = comps.count()
    out["n_components"] = comps.select("component").distinct().count()
    out["wall_cc_sec"] = round(time.perf_counter() - t0, 1)
    out["cc_path"] = (
        "star_loop" if out["n_linked_pairs"] > 1_000_000 else "driver_union_find"
    )
    print(json.dumps({k: out[k] for k in
                      ("n_labeled_surfaces", "n_components", "wall_cc_sec",
                       "cc_path")}), flush=True)

    # end-to-end quality: all three surfaces of a planted family share
    # one component label
    lab = comps
    joined = (
        families
        .join(lab.withColumnRenamed("surface", "s0")
              .withColumnRenamed("component", "c0"), "s0", "left")
        .join(lab.withColumnRenamed("surface", "s1")
              .withColumnRenamed("component", "c1"), "s1", "left")
        .join(lab.withColumnRenamed("surface", "s2")
              .withColumnRenamed("component", "c2"), "s2", "left")
    )
    ok = joined.filter(
        (F.col("c0") == F.col("c1")) & (F.col("c1") == F.col("c2"))
    ).count()
    out["family_cluster_rate"] = round(ok / max(n_fam, 1), 4)
    out["wall_total_sec"] = round(out["wall_link_sec"] + out["wall_cc_sec"], 1)

    section = (
        "## End-to-end linking past the LSH cutover\n\n"
        f"({n_surf} surfaces, local[{cores()}].) "
        "The at-scale stages COMPOSED on one >10⁶-surface input "
        "(bench/link_scale.py; bench/lsh_recall.py measured blocking in "
        "isolation). Production settings throughout: r=3/b=70 AND-OR "
        "banding sized by bands_for_recall(0.4, 1%), stop-bucket cap "
        "1000, then the in-place Jaccard + cosine verify, cosine ≥ 0.5, "
        "CC via the "
        f"{'distributed star loop' if out['cc_path'] == 'star_loop' else 'driver union-find'} "
        f"({out['n_linked_pairs']} edges vs the 10⁶ cutover).\n\n"
        "| stage | wall (s) | output |\n|---|---|---|\n"
        f"| link_mentions, banded (blocking + verify, cosine ≥ 0.5) | "
        f"{out['wall_link_sec']} | {out['n_linked_pairs']} linked pairs |\n"
        f"| connected_components ({out['cc_path']}) | {out['wall_cc_sec']} | "
        f"{out['n_labeled_surfaces']} labeled surfaces, "
        f"{out['n_components']} components |\n"
        f"| **total** | **{out['wall_total_sec']}** | |\n\n"
        f"End-to-end cluster quality: {out['family_cluster_rate']:.2%} of "
        f"{n_fam} planted 3-surface variant families resolve to a single "
        "component (blocking recall × verify acceptance × CC, composed "
        "— not a per-stage proxy).\n"
    )
    report(out, section)


if __name__ == "__main__":
    main()
