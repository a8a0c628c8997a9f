"""Composed curation pipeline at scale (round-4 VERDICT #5): the
end-to-end corpus filter — exact dedupe → minhash near-dup → quality →
language — run on a synthesized corpus 100×+ the sf0.1 documents table,
with per-stage walls and the end-to-end docs/s rate.

Fixture (deterministic, pure Spark SQL — no driver-side data): 10-way
id bucketing plants known populations so the output distribution is a
correctness check as well as a timing run:
  id%10==0,5..9  keep docs — unique md5-token bodies threaded with
                 English stopwords (quality 1.0, lang en)
  id%10==1       EXACT duplicate of doc id-1's text
  id%10==2       NEAR duplicate of doc id-2 (one word appended:
                 word-3-gram jaccard ≈ (W-2)/(W-1) ≈ 0.92 ≥ 0.8)
  id%10==3       low-quality (punctuation soup, 3 words — each doc's
                 punctuation carries its OWN token so no gram is
                 shared across docs: an earlier fixture used a
                 constant "!!! ??? ,,." prefix, which made the 10%
                 low-quality population a single boilerplate CLIQUE
                 sharing one gram — ~B/2 docs per band bucket, 150.8M
                 candidate pairs at 100k docs, OOM at 600k. That
                 hazard is now a planted-clique pytest + the
                 max_bucket cap; the BENCHMARK corpus keeps the
                 populations independent so each stage's wall
                 measures its own work)
  id%10==4       French marker text (quality 0.8 — passes the quality
                 gate so the label priority routes it to non_en)
Expected label mix: 60% keep / 10% each otherwise (near-dup bases are
keeps, so reject reasons can't collide with their survivors). Verified
near-dup pairs = 3 per 10-id block — (base, exact-copy) at j=1.0 plus
(base, near) and (exact-copy, near) at j≈0.92 — i.e. n_docs·3/10.

Usage: python bench/curate_scale.py [n_docs] [--clique]
Appends/replaces the '## Composed curation at scale' section of
BENCH.md and prints one JSON line.

--clique replants the low-quality population as a BOILERPLATE CLIQUE
(the pre-fix fixture: every doc shares the constant gram
"!!! ??? ,,.") and runs the pipeline in its production configuration
(near_dup_max_bucket=1000). Uncapped, that clique floods the
candidate join — measured 150.8M candidate pairs at 100k docs from 9
OR-bands, OOM at 600k — so this mode is the end-to-end proof that the
stop-bucket cap makes the composed pipeline complete, with the SAME
label mix (clique pairs rescore at j≈1/3 < 0.8, so capping their
buckets cannot change any label).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from bench.harness import base36_token, cores, report  # noqa: E402


def main() -> None:
    clique = "--clique" in sys.argv
    pos = [a for a in sys.argv[1:] if not a.startswith("--")]
    n_docs = int(pos[0]) if pos else 600_000

    from pyspark.sql import functions as F

    from code_index_spark.operators.curate import curation_summary
    from code_index_spark.operators.dedupe import (
        exact_duplicates,
        minhash_verified_pairs,
    )
    from code_index_spark.operators.textstats import lang_id, quality_features
    from code_index_spark.session import get_spark

    spark = get_spark("curate-scale", cores=cores())

    def body(id_expr):
        # 13 words: English stopwords interleaved with high-entropy
        # base36 tokens — quality 1.0, lang en, near-zero cross-doc
        # gram overlap (CLAUDE.md: base36, not hex, for gram entropy)
        parts = [F.lit("the"), base36_token("a", id_expr), F.lit("and"),
                 base36_token("b", id_expr), F.lit("of"), base36_token("c", id_expr),
                 base36_token("d", id_expr), F.lit("to"), base36_token("e", id_expr),
                 base36_token("f", id_expr), F.lit("in"), base36_token("g", id_expr),
                 base36_token("h", id_expr)]
        return F.concat_ws(" ", *parts)

    bucket = F.col("id") % 10
    text = (
        F.when(bucket == 1, body(F.col("id") - 1))
        .when(bucket == 2, F.concat(body(F.col("id") - 2), F.lit(" "),
                                    base36_token("x")))
        .when(bucket == 3,
              F.concat(F.lit("!!! ??? ,,. "), base36_token("j")) if clique
              else F.concat_ws(
                  " ",
                  F.concat(F.lit("!!"), base36_token("i")),
                  F.concat(F.lit("??"), base36_token("j")),
                  F.concat(F.lit(",,."), base36_token("jj"))))
        .when(bucket == 4, F.concat_ws(
            " ", F.lit("le"), base36_token("k"), F.lit("et"),
            base36_token("m"), F.lit("la"), base36_token("n"),
            base36_token("p"), base36_token("q")))
        .otherwise(body(F.col("id")))
    )
    docs = (
        spark.range(n_docs)
        .select(F.col("id").alias("doc_id"), text.alias("text"))
        .localCheckpoint(eager=True)  # fixture cost excluded from walls
    )
    cap = 1000 if clique else None
    out = {"metric": "curate_scale_clique" if clique else "curate_scale",
           "n_docs": n_docs, "clique_mode": clique,
           "near_dup_max_bucket": cap}

    t0 = time.perf_counter()
    out["n_exact_groups"] = exact_duplicates(docs, "doc_id", "text").count()
    out["wall_exact_sec"] = round(time.perf_counter() - t0, 1)

    t0 = time.perf_counter()
    out["n_near_pairs"] = minhash_verified_pairs(
        docs, "doc_id", "text", threshold=0.8, max_bucket=cap
    ).count()
    out["wall_near_sec"] = round(time.perf_counter() - t0, 1)

    if clique:
        # candidate volume under the cap: the uncapped twin is the
        # measured 150.8M pairs at 100k docs (OOM at this scale)
        from code_index_spark.operators.dedupe import minhash_band_candidates

        t0 = time.perf_counter()
        out["n_candidates_capped"] = minhash_band_candidates(
            docs, "doc_id", "text", max_bucket=cap, num_hash_tables=9
        ).count()
        out["wall_candidates_sec"] = round(time.perf_counter() - t0, 1)

    t0 = time.perf_counter()
    out["n_low_quality"] = (
        quality_features(docs, "text").filter(F.col("quality_score") < 0.7).count()
    )
    out["wall_quality_sec"] = round(time.perf_counter() - t0, 1)

    t0 = time.perf_counter()
    out["n_non_en"] = (
        lang_id(docs, "text").filter(F.col("pred_lang") != "en").count()
    )
    out["wall_lang_sec"] = round(time.perf_counter() - t0, 1)
    print(json.dumps(out), flush=True)

    # composed operator end to end (recomputes every stage — what one
    # curation job pays)
    t0 = time.perf_counter()
    summary = {r["reason"]: r["n_docs"]
               for r in curation_summary(docs, near_dup_max_bucket=cap).collect()}
    out["wall_composed_sec"] = round(time.perf_counter() - t0, 1)
    out["docs_per_sec_composed"] = int(n_docs / (out["wall_composed_sec"] or 1))
    out["labels"] = summary

    # planted-population check: the label mix must match the fixture
    expect = {"keep": 0.6, "exact_dup": 0.1, "near_dup": 0.1,
              "low_quality": 0.1, "non_en": 0.1}
    out["label_mix_ok"] = all(
        abs(summary.get(k, 0) / n_docs - v) < 0.005 for k, v in expect.items()
    )

    title = (
        "## Boilerplate-clique curation (stop-bucket cap end-to-end)"
        if clique else "## Composed curation at scale"
    )
    if clique:
        intro = (
            f"({n_docs} docs, local[{cores()}], bench/curate_scale.py "
            "--clique.) Same planted corpus, but the 10% low-quality "
            "population is replanted as a BOILERPLATE CLIQUE — every doc "
            'shares the constant gram "!!! ??? ,,." — the real-corpus '
            "hazard (templated short docs) that floods r=1 OR-banding: "
            "the shared gram wins ~half the min-hashes, so ~B/2 of the "
            "clique lands in ONE bucket per band. Measured uncapped: "
            "150.8M candidate pairs at 100k docs (9 bands), OOM at "
            "600k. This run is the production configuration — "
            "near_dup_max_bucket=1000 stop-bucket removal — end to end. "
            "Capping is label-exact here because clique pairs rescore "
            "at jaccard ≈ 1/3 < 0.8 (the planted-clique pytest asserts "
            "capped == uncapped verified output on a tractable size).\n\n"
        )
        cand_row = (
            f"| minhash_band_candidates (capped) | "
            f"{out['wall_candidates_sec']} | "
            f"{out['n_candidates_capped']} candidates (uncapped twin: "
            "~5.4B extrapolated, OOM) |\n"
        )
    else:
        intro = (
            f"({n_docs} docs, local[{cores()}], bench/curate_scale.py.) "
            "The full training-data filter (exact dedupe → minhash-verified "
            "near-dup → quality → language) on a synthesized corpus with "
            "PLANTED populations — 10% exact dups, 10% one-word-appended "
            "near-dups (gram jaccard ≈ 0.92), 10% punctuation soup, 10% "
            "French — so the label mix is a correctness check, not just a "
            "wall clock (the oracle-checked driver rows pin the same "
            "composition at sf0.01). Verified pairs = 3 per 10-id block "
            "(base↔copy at j=1.0, base↔near and copy↔near at j≈0.92) "
            "= n·3/10.\n\n"
        )
        cand_row = ""
    section = (
        f"{title}\n\n{intro}"
        "| stage | wall (s) | output |\n|---|---|---|\n"
        f"| exact_duplicates | {out['wall_exact_sec']} | "
        f"{out['n_exact_groups']} dup groups |\n"
        f"| minhash_verified_pairs (s≥0.8) | {out['wall_near_sec']} | "
        f"{out['n_near_pairs']} verified pairs |\n"
        f"{cand_row}"
        f"| quality_features < 0.7 | {out['wall_quality_sec']} | "
        f"{out['n_low_quality']} low-quality |\n"
        f"| lang_id ≠ en | {out['wall_lang_sec']} | "
        f"{out['n_non_en']} non-English |\n"
        f"| **curation_summary (composed)** | **{out['wall_composed_sec']}** | "
        f"{out['docs_per_sec_composed']} docs/s; labels {summary} |\n\n"
        f"Planted label mix reproduced: {out['label_mix_ok']} "
        "(each reason within 0.5% of its planted rate). Stage walls are "
        "single-run and first-touch (the composed line benefits from a "
        "warm JVM/code cache, which is why it can undercut the "
        "standalone near-dup stage); the corpus crosses the wire only "
        "in the two dedup stages — quality/lang are per-row codegen "
        "riding the same scan.\n"
    )
    report(out, section)


if __name__ == "__main__":
    main()
