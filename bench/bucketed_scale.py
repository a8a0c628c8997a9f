"""Bucketed-store join at scale: measure what the persisted
co-located layout (sources/bucketed.py) actually buys — the delta
between a zero-Exchange bucketed join and the same join off plain
parquet paying both shuffles — and the write-time premium it costs,
so the decision rule ("bucket a table joined by MANY downstream
runs") comes with a measured break-even consumer count instead of a
guess.

Setup: a docs table (doc_id, payload) and a labels table
(doc_id, reason), both n rows, joined on doc_id with broadcast
disabled (the realistic both-sides-large case — a broadcastable side
never needs bucketing). Both tables are written twice: plain parquet
and bucketed(64); each join variant runs `trials` times on a warm
session, median reported.

break_even = (bucketed_write - plain_write) / (plain_join - bucketed_join)
— the number of downstream joins after which the bucketed layout is
net cheaper. Fractional/negative values mean the write premium repays
within the first consumer.

Usage: python bench/bucketed_scale.py [n_rows] [n_buckets]
Appends/replaces the '## Bucketed co-located join at scale' section of
BENCH.md and prints one JSON line.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from bench.harness import report, timed  # noqa: E402


def main() -> None:
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 6_000_000
    n_buckets = int(sys.argv[2]) if len(sys.argv) > 2 else 64
    trials = 3

    from pyspark.sql import functions as F

    from code_index_spark.session import get_spark
    from code_index_spark.sources.bucketed import read_bucketed, write_bucketed

    spark = get_spark("bucketed", cores=32, shuffle_partitions=64)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    work = tempfile.mkdtemp(prefix="bucketed_")

    docs = spark.range(n_rows).select(
        F.col("id").alias("doc_id"),
        F.md5(F.col("id").cast("string")).alias("payload"),
    )
    labels = spark.range(n_rows).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 5 == 0, "drop").otherwise("keep").alias("reason"),
    )

    # ---- writes: plain parquet vs bucketed table (the premium)
    t0 = time.perf_counter()
    docs.write.mode("overwrite").parquet(os.path.join(work, "p_docs"))
    labels.write.mode("overwrite").parquet(os.path.join(work, "p_labels"))
    plain_write = time.perf_counter() - t0

    t0 = time.perf_counter()
    write_bucketed(docs, "bb_docs", "doc_id", n_buckets,
                   path=os.path.join(work, "b_docs"))
    write_bucketed(labels, "bb_labels", "doc_id", n_buckets,
                   path=os.path.join(work, "b_labels"))
    bucketed_write = time.perf_counter() - t0

    agg = [F.count("*").alias("n"),
           F.sum(F.when(F.col("reason") == "keep", 1).otherwise(0))
           .cast("long").alias("n_keep")]

    def run_plain() -> tuple:
        j = (spark.read.parquet(os.path.join(work, "p_docs"))
             .join(spark.read.parquet(os.path.join(work, "p_labels")),
                   "doc_id"))
        return tuple(j.agg(*agg).collect()[0])

    def run_bucketed() -> tuple:
        j = read_bucketed(spark, "bb_docs").join(
            read_bucketed(spark, "bb_labels"), "doc_id")
        return tuple(j.agg(*agg).collect()[0])

    # plan sanity: the bucketed join really is exchange-free
    plan = (read_bucketed(spark, "bb_docs")
            .join(read_bucketed(spark, "bb_labels"), "doc_id")
            ._jdf.queryExecution().executedPlan().toString())
    zero_exchange = "Exchange" not in plan

    r_plain = run_plain()      # warm
    r_bucketed = run_bucketed()
    parity = r_plain == r_bucketed and r_plain[0] == n_rows
    pj = timed(run_plain, trials, warm=False).median
    bj = timed(run_bucketed, trials, warm=False).median
    premium = bucketed_write - plain_write
    saving = pj - bj
    break_even = round(premium / saving, 1) if saving > 0 else None
    out = {
        "metric": "bucketed_scale", "n_rows": n_rows,
        "n_buckets": n_buckets, "zero_exchange": zero_exchange,
        "parity": parity,
        "plain_write_sec": round(plain_write, 1),
        "bucketed_write_sec": round(bucketed_write, 1),
        "plain_join_sec": round(pj, 2), "bucketed_join_sec": round(bj, 2),
        "break_even_joins": break_even,
    }
    spark.sql("DROP TABLE IF EXISTS bb_docs")
    spark.sql("DROP TABLE IF EXISTS bb_labels")
    shutil.rmtree(work, ignore_errors=True)

    section = (
        "## Bucketed co-located join at scale\n\n"
        f"({n_rows} rows per side, {n_buckets} buckets, local[32], "
        "broadcast disabled, median of 3 warm joins, "
        "bench/bucketed_scale.py.) The persisted co-located layout "
        "(sources/bucketed.py): the bucketed join runs with ZERO "
        f"Exchange nodes (plan-checked: {zero_exchange}), the plain-"
        "parquet control shuffles both sides per run.\n\n"
        "| quantity | plain parquet | bucketed |\n|---|---|---|\n"
        f"| write (both tables) | {plain_write:.1f} s | "
        f"{bucketed_write:.1f} s |\n"
        f"| join+agg (median of {trials}) | {pj:.2f} s | {bj:.2f} s |\n\n"
        f"Results identical across layouts: {parity}. Write premium "
        f"{premium:.1f} s, per-join saving {saving:.2f} s ⇒ "
        f"**break-even at {break_even} downstream joins** — the "
        "measured version of the module's decision rule (bucket the "
        "many-consumer tables; one-shot consumers don't qualify).\n"
    )
    report(out, section)


if __name__ == "__main__":
    main()
