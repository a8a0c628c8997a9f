"""Round-6 stage decomposition probes.

Reproduces the measurements OPTIMIZATION_r06.md cites, each as a
checkpoint or count timing of one sub-plan so the computation is
timed without the real sink:

  shingle   — dedupe._shingled materialization (the duplicated-filter
              fix: was 4.4s single-task at sf0.1, now ~0.6s at width)
  minhash   — grams / bands / candidates phase walls, then the whole
              simjoin.minhash_join (bands + candidates + verify)
  extract   — full Catalyst extraction vs a regex-only probe (the
              floor argument: sizes of regexp_extract_all per rule,
              no structs/flatten/explode)
  edges     — full edge build over plans.pipeline.build_graph's
              materialized stages (the keyed-scan and per-turn-collect
              sub-probes' r06 readings are in OPTIMIZATION_r06.md)

Usage: python bench/profile_stages.py [sf_dir] [probe ...]
       (default sf0.1 and all probes; run solo, numbers are walls)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from bench.harness import cores  # noqa: E402


def main() -> None:
    args = sys.argv[1:]
    sf_dir = args[0] if args and not args[0].isalpha() else "/root/testdata/sf0.1"
    probes = set(a for a in args if a.isalpha()) or {
        "shingle", "minhash", "extract", "edges"}

    from pyspark.sql import functions as F

    from code_index_spark.session import get_spark

    spark = get_spark("profile-stages", cores=cores())
    sc = spark.sparkContext
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    docs.count()

    if "shingle" in probes or "minhash" in probes:
        from code_index_spark.functions.minhash import (
            band_collision_pairs, minhash_bands, tables_for_recall,
        )
        from code_index_spark.functions.simjoin import minhash_join
        from code_index_spark.operators.dedupe import _shingled

        for trial in range(2):
            sc.setJobDescription("probe: shingle checkpoint")
            t0 = time.perf_counter()
            grams = _shingled(docs, "doc_id", "text", 3).localCheckpoint(eager=True)
            print(f"shingle_ckpt trial{trial}: {time.perf_counter()-t0:.2f}s",
                  flush=True)
            if "minhash" not in probes:
                continue
            k = tables_for_recall(0.7, 1e-6)
            sc.setJobDescription("probe: minhash bands checkpoint")
            t0 = time.perf_counter()
            bands = minhash_bands(grams, "id", "grams", k).localCheckpoint(eager=True)
            print(f"bands_ckpt trial{trial}: {time.perf_counter()-t0:.2f}s (k={k})",
                  flush=True)
            sc.setJobDescription("probe: band collision pairs")
            t0 = time.perf_counter()
            cands = band_collision_pairs(bands, truncate_lineage=False) \
                .localCheckpoint(eager=True)
            nc = cands.count()
            print(f"cands trial{trial}: {time.perf_counter()-t0:.2f}s "
                  f"({nc} candidates)", flush=True)
            sc.setJobDescription("probe: minhash_join")
            t0 = time.perf_counter()
            n = minhash_join(grams, 0.7, k).count()
            print(f"minhash_join trial{trial}: {time.perf_counter()-t0:.2f}s "
                  f"({n} pairs; bands + candidates + verify)", flush=True)

    if "extract" in probes or "edges" in probes:
        from code_index_spark.operators.extract import extract_triples_sql
        from code_index_spark.rules import ALL, RULES
        from code_index_spark.sources.tpch import derived_transcripts

        transcripts = derived_transcripts(spark, sf_dir).persist()
        transcripts.count()
        if "extract" in probes:
            base = transcripts.select("conv_id", "turn_idx", "role", "text")
            exprs = []
            for r in RULES:
                # the (?d) prefix extract.rule_matches() adds
                m = F.size(F.regexp_extract_all("text", F.lit("(?d)" + r.pattern),
                                                F.lit(r.group)))
                if set(r.roles) != set(ALL):
                    m = F.when(F.col("role").isin(*r.roles), m).otherwise(F.lit(0))
                exprs.append(m)
            tot = exprs[0]
            for e in exprs[1:]:
                tot = tot + e
            for trial in range(2):
                sc.setJobDescription("probe: full catalyst extraction")
                t0 = time.perf_counter()
                n = extract_triples_sql(transcripts).count()
                full = time.perf_counter() - t0
                sc.setJobDescription("probe: regex-only floor")
                t0 = time.perf_counter()
                s = base.select(tot.alias("s")).agg(F.sum("s")).first()[0]
                floor = time.perf_counter() - t0
                print(f"extract trial{trial}: full {full:.2f}s ({n}) vs "
                      f"regex-only {floor:.2f}s ({s}) — "
                      f"floor share {floor/full:.0%}", flush=True)
        if "edges" in probes:
            from code_index_spark.plans.pipeline import build_graph

            edges = build_graph(transcripts)["edges"]
            for trial in range(2):
                sc.setJobDescription("probe: edges full")
                t0 = time.perf_counter()
                n = edges.count()
                print(f"edges full trial{trial}: "
                      f"{time.perf_counter()-t0:.2f}s ({n} edges)", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
