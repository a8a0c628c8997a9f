"""spark-submit entry: stages 2-4, triples → entity linking →
canonicalization → vertices/edges tables.

  spark-submit --py-files code_index_spark.zip jobs/build_graph.py \
      --triples /data/triples --output /data/graph [--min-cosine 0.5]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# local runs without --py-files: make the repo root importable
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv=None) -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--triples", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--min-cosine", type=float, default=0.5)
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    from code_index_spark.plans.pipeline import build_graph

    spark = SparkSession.builder.appName("kgp-build-graph").getOrCreate()
    triples = spark.read.parquet(args.triples).persist()
    g = build_graph(None, min_cosine=args.min_cosine, triples=triples)
    g["vertices"].write.mode("overwrite").parquet(f"{args.output}/vertices")
    g["edges"].write.mode("overwrite").partitionBy("pred").parquet(f"{args.output}/edges")
    json.dump(
        {
            "vertices": spark.read.parquet(f"{args.output}/vertices").count(),
            "edges": spark.read.parquet(f"{args.output}/edges").count(),
        },
        sys.stdout,
    )
    print()


if __name__ == "__main__":
    main()
