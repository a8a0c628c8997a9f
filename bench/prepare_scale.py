"""Composed corpus PREPARATION at scale: the full pretraining pass —
curation (exact dedupe → minhash near-dup → quality → language) →
benchmark decontamination → PII scrub → deterministic split — run
end-to-end (operators/prepare.py) on a synthesized corpus with planted
populations, so the output label mix is a correctness check as well as
a timing run.

Fixture = bench/curate_scale.py's 10-way id bucketing with two buckets
repurposed for the prepare-only stages:
  id%10==0,7,8,9  keep — unique base36-token bodies threaded with
                  English stopwords (quality 1.0, lang en)
  id%10==1        EXACT duplicate of doc id-1
  id%10==2        NEAR duplicate of doc id-2 (one word appended)
  id%10==3        low-quality punctuation soup (per-doc-unique grams)
  id%10==4        French marker text → non_en
  id%10==5        CONTAMINATED — the doc embeds the 8-word window of
                  ITS OWN eval-suite doc (eval id = id/10), so every
                  contaminated doc shares grams with the eval set but
                  no two TRAIN docs share a gram — the planted overlap
                  cannot create a boilerplate clique in the near-dup
                  blocking stage (CLAUDE.md: a constant shared gram is
                  a clique bomb under r=1 banding)
  id%10==6        keep + PII — a per-doc-unique email appended (one
                  word, so again zero constant cross-doc grams)
Eval suite: n/10 docs of 8 unique words each — bounded by construction
(the decontaminate broadcast-side assumption, here 1/10 corpus scale).

Expected label mix: 50% keep / 10% each of exact_dup, near_dup,
low_quality, non_en, contaminated; n_pii_docs = n/10 (bucket 6, all
labeled keep); splits ≈ 90/5/5 within every reason (hash_split is
reason-independent).

Usage: python bench/prepare_scale.py [n_docs]
       python bench/prepare_scale.py [n_docs] --scaling [N]
Appends/replaces the '## Composed corpus preparation at scale' (or,
with --scaling, '## Composed corpus preparation scaling') section of
BENCH.md and prints one JSON line.

--scaling N runs the identical composed job at N and 4N cores (fresh
JVM per level, same synthesized input, shuffle width data-sized and
EQUAL across levels — the bench/scaling.py discipline) and reports
docs/s at both plus efficiency = (rate_4N / rate_N) / 4: the
north-rule two-cluster-size evidence for the corpus-preparation
deliverable. Default N=8 (8 vs 32, the same levels as the sf1 graph
runs).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from bench.harness import cores, n_vs_4n, report, scaling_table, timed  # noqa: E402


def make_corpus(spark, n_docs: int):
    """(docs, eval) with the planted populations documented above,
    both localCheckpoint-ed so fixture cost stays out of the walls."""
    from pyspark.sql import functions as F

    n_eval = n_docs // 10

    def tok(tag, id_expr):
        return F.lower(F.conv(
            F.substring(F.md5(F.concat(F.lit(tag), id_expr.cast("string"))), 1, 12),
            16, 36,
        ))

    def eval_window(ev_id):
        # the 8-word eval-doc body, shared verbatim by train doc 10*ev_id+5
        return F.concat_ws(
            " ", *[tok(f"ev{i}", ev_id) for i in range(8)]
        )

    def body(id_expr):
        parts = [F.lit("the"), tok("a", id_expr), F.lit("and"),
                 tok("b", id_expr), F.lit("of"), tok("c", id_expr),
                 tok("d", id_expr), F.lit("to"), tok("e", id_expr),
                 tok("f", id_expr), F.lit("in"), tok("g", id_expr),
                 tok("h", id_expr)]
        return F.concat_ws(" ", *parts)

    bucket = F.col("id") % 10
    text = (
        F.when(bucket == 1, body(F.col("id") - 1))
        .when(bucket == 2, F.concat(body(F.col("id") - 2), F.lit(" "),
                                    tok("x", F.col("id"))))
        .when(bucket == 3, F.concat_ws(
            " ",
            F.concat(F.lit("!!"), tok("i", F.col("id"))),
            F.concat(F.lit("??"), tok("j", F.col("id"))),
            F.concat(F.lit(",,."), tok("jj", F.col("id")))))
        .when(bucket == 4, F.concat_ws(
            " ", F.lit("le"), tok("k", F.col("id")), F.lit("et"),
            tok("m", F.col("id")), F.lit("la"), tok("n", F.col("id")),
            tok("p", F.col("id")), tok("q", F.col("id"))))
        .when(bucket == 5, F.concat_ws(
            " ", F.lit("the"), tok("a", F.col("id")), F.lit("and"),
            eval_window(F.floor(F.col("id") / 10).cast("long")), F.lit("of"),
            tok("b", F.col("id"))))
        .when(bucket == 6, F.concat_ws(
            " ", body(F.col("id")),
            F.concat(F.lit("user"), F.col("id").cast("string"),
                     F.lit("@example.com"))))
        .otherwise(body(F.col("id")))
    )
    docs = (
        spark.range(n_docs)
        .select(F.col("id").alias("doc_id"), text.alias("text"))
        .localCheckpoint(eager=True)  # fixture cost excluded from walls
    )
    ev = (
        spark.range(n_eval)
        .select(F.col("id").alias("doc_id"),
                eval_window(F.col("id")).alias("text"))
        .localCheckpoint(eager=True)
    )
    return docs, ev


def prepare_level(cores: int, n_docs: int, trials: int) -> dict:
    """One parallelism level (run in a fresh JVM): composed prepare
    rate, warmed on a 2000-doc slice."""
    from code_index_spark.operators.prepare import prepare_summary
    from code_index_spark.session import get_spark

    # width sized to the DATA and held equal across levels (the
    # bench/scaling.py discipline: isolate cores, not partition counts)
    spark = get_spark(f"prep{cores}", cores=cores, shuffle_partitions=32)
    docs, ev = make_corpus(spark, n_docs)
    prepare_summary(docs.limit(2000), ev.limit(200), decontam_gram_n=8).collect()
    runs = timed(lambda: prepare_summary(docs, ev, decontam_gram_n=8).collect(),
                 trials, warm=False)
    return {"cores": cores, **runs.rates(n_docs)}


def main() -> None:
    pos = [a for a in sys.argv[1:] if not a.startswith("--")]
    n_docs = int(pos[0]) if pos else 600_000
    n_eval = n_docs // 10
    if "--scaling" in sys.argv:
        idx = sys.argv.index("--scaling")
        n_lo = (int(sys.argv[idx + 1])
                if idx + 1 < len(sys.argv) and sys.argv[idx + 1].isdigit()
                else 8)
        trials = 3
        lo, hi, eff = n_vs_4n(prepare_level, n_lo, "median_rate", n_docs, trials)
        report(
            {"metric": "prepare_scaling", "n_docs": n_docs,
             "lo": lo, "hi": hi, "efficiency": eff},
            "## Composed corpus preparation scaling (N vs 4N)\n\n"
            f"({n_docs} docs + {n_docs // 10}-doc eval suite, "
            "bench/prepare_scale.py --scaling: fresh JVM per level, warmed, "
            f"median of {trials}, shuffle width data-sized and equal across "
            "levels.) Two-parallelism evidence for the composed "
            "corpus-preparation deliverable (north rule): the pipeline is "
            "dedup-join-bound, so its scaling rides the exchange stages, "
            "not the per-row codegen scan.\n\n"
            + scaling_table(lo, hi, eff),
        )
        return

    from code_index_spark.operators.prepare import prepare_summary
    from code_index_spark.session import get_spark

    spark = get_spark("prepare-scale", cores=cores())
    docs, ev = make_corpus(spark, n_docs)

    t0 = time.perf_counter()
    rows = prepare_summary(docs, ev, decontam_gram_n=8).collect()
    wall = round(time.perf_counter() - t0, 1)

    by_reason: dict[str, int] = {}
    n_pii = 0
    for r in rows:
        by_reason[r["reason"]] = by_reason.get(r["reason"], 0) + r["n_docs"]
        n_pii += r["n_pii_docs"]
    out = {
        "metric": "prepare_scale", "n_docs": n_docs, "n_eval": n_eval,
        "wall_composed_sec": wall,
        "docs_per_sec_composed": int(n_docs / (wall or 1)),
        "labels": by_reason, "n_pii_docs": n_pii,
        "n_summary_rows": len(rows),
    }
    expect = {"keep": 0.5, "exact_dup": 0.1, "near_dup": 0.1,
              "low_quality": 0.1, "non_en": 0.1, "contaminated": 0.1}
    out["label_mix_ok"] = all(
        abs(by_reason.get(k, 0) / n_docs - v) < 0.005 for k, v in expect.items()
    ) and abs(n_pii / n_docs - 0.1) < 0.005
    report(out, (
        "## Composed corpus preparation at scale\n\n"
        f"({n_docs} docs + {n_eval}-doc eval suite, local[{cores()}], "
        "bench/prepare_scale.py.) The FULL pretraining pass — curation → "
        "8-gram decontamination → PII scrub → hash split — as the single "
        "composed operator (operators/prepare.py, driver rows "
        "`corpus_prepare_labels`/`corpus_prepare_summary`), on a corpus "
        "with six planted populations (10% each: exact dups, near-dups, "
        "punctuation soup, French, eval-contaminated, PII-bearing keeps). "
        "Planted contamination shares grams only train→eval, never "
        "train→train, so the prepare-only stages cannot perturb the "
        "near-dup blocking they ride alongside.\n\n"
        "| run | wall (s) | rate | labels |\n|---|---|---|---|\n"
        f"| prepare_summary (composed end-to-end) | {wall} | "
        f"{out['docs_per_sec_composed']} docs/s | {by_reason}; "
        f"{n_pii} PII docs |\n\n"
        f"Planted label mix reproduced: {out['label_mix_ok']} (each reason "
        "and the PII count within 0.5% of its planted rate; "
        f"{len(rows)} (reason, split) summary rows). The corpus crosses "
        "the wire only in the dedup stages; decontamination broadcasts "
        "the eval gram set and the per-row signals (quality, lang, PII, "
        "split bucket) fuse into one codegen scan — the composed wall "
        "tracks bench/curate_scale.py's plus the decontam join, not a "
        "re-scan per stage.\n"
    ))


if __name__ == "__main__":
    main()
