"""Event-time windowed aggregation with watermarking — the streaming
operators the reference lacks (SURVEY.md §2.10), provided as
first-class components: late transcript appends are bounded by a
watermark on `ts`, and triple/mention throughput is aggregated into
tumbling event-time windows.

At 10^12-turn scale this is the monitoring plane of the pipeline: the
windowed counts per predicate are the live analogue of the per-bucket
lineage metrics (A8), and the watermark bounds state so the query runs
indefinitely with O(windows-in-flight) memory per key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.extract import rule_matches
from ..schema import TRANSCRIPTS


def windowed_triple_counts(
    transcripts_stream: DataFrame,
    window_duration: str = "1 hour",
    watermark_delay: str = "30 minutes",
) -> DataFrame:
    """streaming transcripts → per-window, per-predicate triple counts.

    Works on both batch and streaming DataFrames (same code path —
    Structured Streaming's unified model). The event time rides beside
    the Catalyst rule matches, so no join brings it back."""
    return (
        transcripts_stream.select("ts", rule_matches().alias("m"))
        .select("ts", "m.pred")
        .withWatermark("ts", watermark_delay)
        .groupBy(F.window("ts", window_duration).alias("win"), "pred")
        .agg(F.count("*").alias("n_triples"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "pred",
            "n_triples",
        )
    )


def start_windowed_metrics(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    window_duration: str = "1 hour",
    watermark_delay: str = "30 minutes",
):
    """File-stream → watermarked windowed counts → parquet (append mode:
    only finalized windows — past the watermark — are emitted)."""
    stream = (
        spark.readStream.schema(TRANSCRIPTS)
        .option("maxFilesPerTrigger", 8)
        .parquet(input_dir)
    )
    counts = windowed_triple_counts(stream, window_duration, watermark_delay)
    return (
        counts.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .format("parquet")
        .option("path", output_dir)
        .start()
    )
