"""spark-submit entry: corpus near-dup sweep over a documents table.

  spark-submit --py-files code_index_spark.zip jobs/dedupe_corpus.py \
      --input /data/documents --output /data/dup_pairs \
      [--strategy verified|exact|minhash|simhash|clusters|passages] \
      [--threshold 0.8] [--window 8]

Writes the duplicate-pair table as parquet and prints a one-line JSON
summary. `verified` (default) = MinHash-LSH blocking + exact raw-
shingle Jaccard rescore — the 100 TB shape (`minhash` is the same
operator under its older name); `exact` = byte-identity
groups; `simhash` = Hamming-banded 60-bit signatures; `clusters` =
verified pairs closed into min-id-labeled components (one row per
doc); `passages` = Lee-et-al exact-substring removal — writes the
CLEANED corpus (doc_id, cleaned_text + edit stats), not a pair table.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv=None) -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True, help="documents parquet dir")
    p.add_argument("--output", required=True, help="pair table parquet dir")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--text-col", default="text")
    p.add_argument("--strategy", default="verified",
                   choices=["verified", "exact", "minhash", "simhash",
                            "clusters", "passages"])
    p.add_argument("--threshold", type=float, default=0.8,
                   help="jaccard threshold (verified/minhash)")
    p.add_argument("--max-hamming", type=int, default=6, help="simhash radius")
    p.add_argument("--window", type=int, default=8,
                   help="word-window size (passages)")
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    from code_index_spark.operators.dedupe import (
        exact_duplicates,
        minhash_verified_pairs,
        near_dup_clusters,
        remove_duplicated_passages,
        simhash,
        simhash_near_pairs,
    )

    spark = SparkSession.builder.appName("kgp-dedupe").getOrCreate()
    docs = spark.read.parquet(args.input)
    if args.strategy in ("verified", "minhash"):
        pairs = minhash_verified_pairs(
            docs, args.id_col, args.text_col, threshold=args.threshold
        )
    elif args.strategy == "exact":
        pairs = exact_duplicates(docs, args.id_col, args.text_col)
    elif args.strategy == "simhash":
        pairs = simhash_near_pairs(
            simhash(docs, args.id_col, args.text_col), args.max_hamming
        )
    elif args.strategy == "clusters":
        pairs = near_dup_clusters(
            docs, args.id_col, args.text_col, threshold=args.threshold
        )
    else:
        pairs = remove_duplicated_passages(
            docs, args.id_col, args.text_col, window=args.window
        )
    pairs.write.mode("overwrite").parquet(args.output)
    n = spark.read.parquet(args.output).count()
    json.dump({"strategy": args.strategy, "rows": n, "output": args.output},
              sys.stdout)
    print()


if __name__ == "__main__":
    main()
