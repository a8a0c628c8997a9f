"""Incremental corpus preparation (streaming) at scale: drive the REAL
Structured Streaming query (streaming/prepare_stream.py) over the
prepare_scale planted fixture split into micro-batches, then run the
nightly compaction, and check the final label mix against the planted
populations.

What this measures (the incremental-pipeline scale claims):
  1. per-batch wall stays FLAT as the accumulated hash registry grows
     — the stream's cost is proportional to the batch sliver plus a
     batch×registry hash join, never to the accumulated corpus (the
     module's core claim; a per-batch cost that grew with corpus size
     would make the stream pointless vs re-running batch prepare);
  2. the compaction pays the full-corpus near-dup pass ONCE per
     compaction window — the same pass batch prepare_corpus pays on
     EVERY run — and upgrades stream labels to the exact batch output.

Per-batch walls come from the streaming query's own progress events
(durationMs.triggerExecution), so scheduling/commit overhead is
included — this is the end-to-end number, not a code-path proxy.

Fixture: bench/prepare_scale.make_corpus (six planted populations,
10% each: exact dups, near dups, punctuation soup, French,
eval-contaminated, PII keeps). Batches are contiguous id ranges, so
the stream-parity precondition (ids arrive in batch order) holds and
the planted exact-dup pairs land within a batch; the registry join
runs against the full accumulated registry every batch regardless.

Usage: python bench/prepare_stream_scale.py [n_docs] [n_batches]
       python bench/prepare_stream_scale.py [n_docs] [n_batches] --scaling [N]
Appends/replaces the '## Incremental preparation (streaming) at
scale' (or the scaling) section of BENCH.md and prints one JSON line.
--scaling runs the identical stream at N and 4N cores in fresh JVMs
(warm trial discarded, second trial reported; shuffle width data-sized
and EQUAL across levels) — the north-rule two-parallelism evidence for
the streaming-preparation deliverable.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from bench.harness import n_vs_4n, report, scaling_table, timed  # noqa: E402


def write_batches(docs, n_docs: int, n_batches: int, in_dir: str) -> None:
    """One parquet file per micro-batch of contiguous doc_ids, written
    in batch order (the file source picks files oldest-mtime-first);
    fixture cost stays outside the measured stream."""
    from pyspark.sql import functions as F

    per = n_docs // n_batches
    for b in range(n_batches):
        (docs.filter((F.col("doc_id") >= b * per)
                     & (F.col("doc_id") < (b + 1) * per))
         .coalesce(1).write.mode("append").parquet(in_dir))
        time.sleep(1.05)  # distinct mtimes → deterministic batch order


def stream_level(cores: int, n_docs: int, n_batches: int) -> dict:
    """One parallelism level (run in a fresh JVM): two full stream runs
    over the same batches; the first warms the JVM, the second is
    reported."""
    from bench.prepare_scale import make_corpus
    from code_index_spark.session import get_spark
    from code_index_spark.streaming.prepare_stream import start_incremental_prepare

    spark = get_spark(f"prepstream{cores}", cores=cores, shuffle_partitions=32)
    docs, ev = make_corpus(spark, n_docs)
    work = tempfile.mkdtemp(prefix=f"prepstream{cores}_")
    in_dir = os.path.join(work, "in")
    write_batches(docs, n_docs, n_batches, in_dir)

    def run():
        run_dir = tempfile.mkdtemp(dir=work)
        start_incremental_prepare(
            spark, in_dir, os.path.join(run_dir, "state"),
            os.path.join(run_dir, "ck"), ev, "doc_id long, text string",
            decontam_gram_n=8,
        ).awaitTermination()

    runs = timed(run, 2, warm=False).runs
    shutil.rmtree(work, ignore_errors=True)
    return {"cores": cores, "warm_rate": round(n_docs / runs[1]),
            "rates": [round(n_docs / s) for s in runs]}


def main() -> None:
    pos = [a for a in sys.argv[1:] if not a.startswith("--")]
    n_docs = int(pos[0]) if pos else 2_000_000
    n_batches = int(pos[1]) if len(pos) > 1 else 10
    if "--scaling" in sys.argv:
        idx = sys.argv.index("--scaling")
        n_lo = (int(sys.argv[idx + 1])
                if idx + 1 < len(sys.argv) and sys.argv[idx + 1].isdigit()
                else 2)
        lo, hi, eff = n_vs_4n(stream_level, n_lo, "warm_rate", n_docs, n_batches)
        report(
            {"metric": "prepare_stream_scaling", "n_docs": n_docs,
             "n_batches": n_batches, "lo": lo, "hi": hi, "efficiency": eff},
            "## Incremental preparation scaling (N vs 4N)\n\n"
            f"({n_docs} docs in {n_batches} micro-batches, "
            "bench/prepare_stream_scale.py --scaling: fresh JVM per level, "
            "first full stream run discarded as warmup, second reported; "
            "shuffle width data-sized and equal across levels.) The "
            "measured unit is the WHOLE stream — per-row signal codegen + "
            "registry join + state writes + streaming commit overhead — "
            "so the efficiency carries the per-batch fixed costs the batch "
            "twin amortizes (see the composed-preparation scaling section "
            "for the F + W/N decomposition of exactly this effect).\n\n"
            + scaling_table(lo, hi, eff, "docs/sec (warm)", "warm_rate"),
        )
        return
    per = n_docs // n_batches
    assert per % 10 == 0, "batch size must be a decade multiple (fixture)"

    from pyspark.sql import functions as F

    from bench.prepare_scale import make_corpus
    from code_index_spark.session import get_spark
    from code_index_spark.streaming.prepare_stream import (
        compact_labels,
        start_incremental_prepare,
    )

    # 16MB broadcast cap for the compaction leg: at 2M docs AQE's
    # runtime re-plan sees the near-dup rescore's per-doc gram-size
    # table at ~30MB WIRE size (< the session's 64MB default) and
    # converts the join to broadcast — whose HEAP form is ~10× the
    # wire size, built in a local-mode driver that also co-hosts every
    # executor storage block. 16MB keeps genuinely small broadcasts
    # (reject sets, winners) and stops corpus-scale-derived ones.
    spark = get_spark(
        "prepstream", cores=32, shuffle_partitions=32,
        extra_conf={"spark.sql.autoBroadcastJoinThreshold":
                    str(16 * 1024 * 1024)},
    )
    docs, ev = make_corpus(spark, n_docs)

    work = tempfile.mkdtemp(prefix="prepstream_")
    in_dir = os.path.join(work, "in")
    state_dir = os.path.join(work, "state")
    ck_dir = os.path.join(work, "ck")
    write_batches(docs, n_docs, n_batches, in_dir)

    t0 = time.perf_counter()
    q = start_incremental_prepare(
        spark, in_dir, state_dir, ck_dir, ev,
        "doc_id long, text string", decontam_gram_n=8,
    )
    q.awaitTermination()
    stream_wall = time.perf_counter() - t0
    batch_walls = [
        p["durationMs"]["triggerExecution"] / 1000.0
        for p in q.recentProgress if p["numInputRows"] > 0
    ]

    t0 = time.perf_counter()
    compacted = compact_labels(spark, state_dir, docs)
    mix = {r["reason"]: r["n"] for r in compacted.groupBy("reason")
           .agg(F.count("*").alias("n")).collect()}
    n_pii = compacted.filter("has_pii").count()
    compact_wall = time.perf_counter() - t0

    tenth = n_docs // 10
    expected = {"exact_dup": tenth, "near_dup": tenth,
                "low_quality": tenth, "non_en": tenth,
                "contaminated": tenth, "keep": n_docs // 2}
    mix_ok = mix == expected and n_pii == tenth
    flatness = round(batch_walls[-1] / batch_walls[0], 2) if batch_walls else None
    out = {
        "metric": "prepare_stream_scale", "n_docs": n_docs,
        "n_batches": n_batches,
        "stream_wall_sec": round(stream_wall, 1),
        "batch_walls_sec": [round(w, 1) for w in batch_walls],
        "last_over_first": flatness,
        "stream_docs_per_sec": round(n_docs / stream_wall),
        "compact_wall_sec": round(compact_wall, 1),
        "planted_mix_ok": mix_ok,
    }
    shutil.rmtree(work, ignore_errors=True)

    walls_str = ", ".join(f"{w:.1f}" for w in batch_walls)
    report(out, (
        "## Incremental preparation (streaming) at scale\n\n"
        f"({n_docs} docs in {n_batches} micro-batches of {per}, "
        "local[32], bench/prepare_stream_scale.py over the "
        "prepare_scale planted fixture; per-batch walls are the "
        "streaming query's own durationMs.triggerExecution, so "
        "scheduling + state-commit overhead is included.) The stream "
        "labels each batch with the fused per-row signals + the "
        "accumulated-registry exact-dup join; the nightly compaction "
        "(compact_labels) then pays the full-corpus near-dup pass "
        "once and upgrades the labels — the pass batch prepare_corpus "
        "pays on every run.\n\n"
        "| quantity | value |\n|---|---|\n"
        f"| stream wall (all batches) | {stream_wall:.1f} s "
        f"({out['stream_docs_per_sec']} docs/s) |\n"
        f"| per-batch walls | {walls_str} s |\n"
        f"| last/first batch wall | {flatness} — flat ⇒ per-batch cost "
        "tracks the sliver, not the accumulated corpus |\n"
        f"| compaction wall (near-dup over all {n_docs}) | "
        f"{compact_wall:.1f} s |\n"
        f"| planted mix after compaction | {'exact' if mix_ok else f'MISMATCH {mix} pii={n_pii}'} "
        f"({tenth} per reject family, {n_docs // 2} keep, {tenth} PII) |\n"
    ))


if __name__ == "__main__":
    main()
