"""SparkSession factory with scale-oriented defaults.

Tuned for local[N] testing but with every knob chosen as it would be on
a 1000-executor cluster: AQE on (runtime re-plan + skew-join splitting),
Arrow batching for pandas UDFs, partition counts sized to cores.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import DataType


def get_spark(
    app_name: str = "code-index-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    cores: parallelism for local mode (defaults to $SPARK_GRAFT_CPUS or all).
    shuffle_partitions: defaults to max(cores, 32) — on a real cluster this
    would be ~2-3x total executor cores; AQE coalesces the excess.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 32)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        # --- shuffle / AQE: the scale levers ---
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # --- Arrow: pandas UDFs ship columnar batches, never rows ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "16384")
        # --- scan sizing ---
        # 32 MB splits by default (round 6): the testdata corpora are
        # SINGLE parquet files (11 MB at sf0.1, ~110 MB at a 10x scale
        # factor), and a 128 MB split turns every scan — and the map
        # side of every first shuffle — into ONE task regardless of
        # core count. 32 MB keeps a single-file input scanning at
        # multi-core width as soon as the file (and its row-group
        # layout) allows, while still packing small files
        # (openCostInBytes unchanged). Parameterised: a production
        # cluster reading many large files should raise this back to
        # 128m-1g (guide §6) via SPARK_GRAFT_MAX_PARTITION_BYTES.
        .config("spark.sql.files.maxPartitionBytes",
                os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "32m"))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # throughput GC: at 32 in-JVM task threads the default G1 caps
        # codegen'd string-heavy stages (measured: catalyst extraction
        # 64k → 122k+ turns/s at 6M turns under ParallelGC —
        # allocation-rate-bound, not CPU-bound). Plain ParallelGC, no
        # NewRatio override: the round-3 -XX:NewRatio=1 (huge young
        # gen) measured STRICTLY worse in the round-4 bake-off
        # (bench/gc_bakeoff.py, BENCH.md) — catalyst 7.1→5.8s at sf0.1
        # and 64.4→49.1s at sf1, and it tripled the Arrow/Python path
        # at sf0.1 (14.2s vs 4.8s). On a real cluster this is
        # spark.executor.extraJavaOptions.
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def empty_frame(spark: SparkSession, ddl: str) -> DataFrame:
    """An empty DataFrame of the DDL schema `ddl`, planned as a zero-row
    Range under typed NULL columns: `createDataFrame([], ddl)` plans as
    a PythonRDD, so reading it would start Python worker tasks."""
    return spark.range(0).select(*[
        F.lit(None).cast(f.dataType).alias(f.name)
        for f in DataType.fromDDL(ddl).fields
    ])
