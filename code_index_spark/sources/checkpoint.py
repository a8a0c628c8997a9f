"""Checkpoint / lineage store — idempotent resume (S11/J3/A8 in
SURVEY.md §2; reference: the per-file md5 skip-cache, cache.py:134-197 +
file_processing_helpers.py:10-24, generalized to per-partition state).

Model: conversations hash-bucket into `n_buckets` partitions
(pmod(xxhash64(conv_id), n)). Per bucket we record
(partition_id, content_hash, triple_count, status, updated_at) where
content_hash = bit_xor of xxhash64(conv_id, turn_idx,
text) over every turn in the bucket — order-independent, so it is
stable under any scan order, and any changed/added/removed turn flips it.

Resume = anti-join: buckets whose (partition_id, content_hash) already
sit in the checkpoint table with status='done' are skipped; everything
else is (re)processed and its triples partition overwritten
(dynamic partition overwrite ⇒ exactly-once per bucket, since triple
ids are deterministic).

On Iceberg this becomes `MERGE INTO checkpoints` + snapshot-isolated
partition overwrites of the triples table; on local parquet we emulate
MERGE with read-union-rewrite keeping the newest row per partition_id
(single tiny table — driver-side is fine at any scale since rows =
bucket count, not data size).
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window, functions as F

DEFAULT_BUCKETS = 64


def with_partition_id(df: DataFrame, n_buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    return df.withColumn(
        "partition_id", F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int")
    )


def bucket_hashes(transcripts: DataFrame, n_buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    """(partition_id, content_hash, n_turns) per bucket — the resume key.

    content_hash = bit_xor of per-turn xxhash64 — commutative, no overflow, no sort
    or window is needed (one partial-aggregated shuffle, no skew: hash
    buckets are uniform by construction).
    """
    return (
        with_partition_id(transcripts, n_buckets)
        .select(
            "partition_id",
            F.xxhash64("conv_id", "turn_idx", "text").alias("h"),
        )
        .groupBy("partition_id")
        # mix the row count into the hash: a pure XOR cancels an even
        # number of identical duplicate rows, count-mixing doesn't
        .agg(
            F.xxhash64(F.expr("bit_xor(h)"), F.count("*")).alias("content_hash"),
            F.count("*").alias("n_turns"),
        )
    )


class CheckpointStore:
    """Parquet-backed checkpoint table with MERGE-like upsert."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def read(self) -> DataFrame:
        if os.path.exists(self.path):
            return self.spark.read.parquet(self.path)
        return _ckpt_rows(self.spark, [], [], [])

    def upsert(self, rows: DataFrame) -> None:
        """Keep the newest row per partition_id (MERGE INTO emulation)."""
        merged = (
            self.read()
            .unionByName(rows)
            .withColumn(
                "_rk",
                F.row_number().over(
                    Window.partitionBy("partition_id").orderBy(F.desc("updated_at"))
                ),
            )
            .filter(F.col("_rk") == 1)
            .drop("_rk")
        )
        tmp = tempfile.mkdtemp(prefix="ckpt-")
        merged.coalesce(1).write.mode("overwrite").parquet(tmp)
        if os.path.exists(self.path):
            shutil.rmtree(self.path)
        shutil.move(tmp, self.path)

    def pending_buckets(self, transcripts: DataFrame, n_buckets: int = DEFAULT_BUCKETS) -> DataFrame:
        """Buckets needing (re)processing: current hash not marked done."""
        current = bucket_hashes(transcripts, n_buckets)
        done = self.read().filter(F.col("status") == "done").select(
            "partition_id", "content_hash"
        )
        return current.join(
            done, ["partition_id", "content_hash"], "left_anti"
        ).select("partition_id", "content_hash", "n_turns")

    def delete(self, partition_ids: list[int]) -> None:
        """Drop checkpoint rows for buckets that no longer exist."""
        if not partition_ids:
            return
        remaining = self.read().filter(~F.col("partition_id").isin(partition_ids))
        tmp = tempfile.mkdtemp(prefix="ckpt-")
        remaining.coalesce(1).write.mode("overwrite").parquet(tmp)
        if os.path.exists(self.path):
            shutil.rmtree(self.path)
        shutil.move(tmp, self.path)


def run_with_resume(
    spark: SparkSession,
    transcripts: DataFrame,
    triples_path: str,
    ckpt: CheckpointStore,
    extract_fn,
    n_buckets: int = DEFAULT_BUCKETS,
    reconcile_missing: bool = False,
) -> dict:
    """Extract triples for pending buckets only; overwrite just those
    partitions of the triples table; mark buckets done with lineage
    metrics (triple_count — north_rule's per-partition metric).

    `transcripts` may be an incremental slice: buckets absent from the
    input are never touched by default. Pass ``reconcile_missing=True``
    ONLY when `transcripts` is the complete corpus — then a bucket that
    vanished entirely (all conversations removed) is reconciled: its
    triples partition directory and checkpoint row are dropped. With an
    incremental slice that flag would destroy every other bucket's data,
    which is why it is opt-in and off by default.

    Exactly-once holds in the *shrinking* cases too: a pending bucket
    whose new content yields zero triples gets its stale partition
    directory deleted explicitly (dynamic partition overwrite alone
    never touches a partition absent from the write).
    """
    # one scan: current per-bucket hashes (≤ n_buckets rows)
    cur_rows = bucket_hashes(transcripts, n_buckets).collect()
    done = {
        r["partition_id"]: r["content_hash"]
        for r in ckpt.read().filter(F.col("status") == "done").collect()
    }
    cur_ids = {r["partition_id"] for r in cur_rows}
    # reconcile vanished buckets (full-corpus callers only): done but
    # no longer in the data
    gone_ids = sorted(set(done) - cur_ids) if reconcile_missing else []
    for pid in gone_ids:
        _drop_partition_dir(triples_path, pid)
    ckpt.delete(gone_ids)
    pend_rows = [
        r for r in cur_rows if done.get(r["partition_id"]) != r["content_hash"]
    ]
    if not pend_rows:
        return {"processed_buckets": 0, "triples_written": 0,
                "reconciled_buckets": len(gone_ids)}
    pend_ids = [r["partition_id"] for r in pend_rows]
    hash_by_pid = {r["partition_id"]: r["content_hash"] for r in pend_rows}

    todo = with_partition_id(transcripts, n_buckets).filter(
        F.col("partition_id").isin(pend_ids)
    )
    triples = extract_fn(todo).withColumn(
        "partition_id", F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int")
    )
    # drop every pending bucket's stale partition BEFORE the write: a
    # dynamic-partition overwrite never touches a partition absent
    # from the new data, so a bucket that now yields zero triples
    # would otherwise keep its previous rows forever. Crash-safe:
    # these buckets are only marked done after the write succeeds, so
    # a crash in between just reprocesses them on resume.
    for pid in pend_ids:
        _drop_partition_dir(triples_path, pid)
    (
        # writer-scoped dynamic overwrite (round 6, VERDICT r5 #1):
        # the option overrides spark.sql.sources.partitionOverwriteMode
        # for THIS write only — no session-conf set/restore to race a
        # concurrent writer's finally block
        triples.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("partition_id")
        .parquet(triples_path)
    )
    counts = {
        r["partition_id"]: r["cnt"]
        for r in spark.read.parquet(triples_path)
        .filter(F.col("partition_id").isin(pend_ids))
        .groupBy("partition_id")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    ckpt.upsert(_ckpt_rows(
        spark, pend_ids, [hash_by_pid[p] for p in pend_ids],
        [counts.get(p, 0) for p in pend_ids],
    ))
    return {
        "processed_buckets": len(pend_ids),
        "triples_written": sum(counts.values()),
        "reconciled_buckets": len(gone_ids),
    }


def _ckpt_rows(spark: SparkSession, pids, hashes, triple_counts) -> DataFrame:
    """Checkpoint rows marked done now. Built from an Arrow table — a
    JVM-side local relation; a Python list would run as a Python RDD."""
    return spark.createDataFrame(pa.table({
        "partition_id": pa.array(pids, pa.int32()),
        "content_hash": pa.array(hashes, pa.int64()),
        "triple_count": pa.array(triple_counts, pa.int64()),
        "status": pa.array(["done"] * len(pids), pa.string()),
    })).withColumn("updated_at", F.current_timestamp())


def _drop_partition_dir(triples_path: str, pid: int) -> None:
    """Remove one hive-style partition directory (Iceberg analogue:
    DELETE FROM triples WHERE partition_id = pid, snapshot-isolated)."""
    shutil.rmtree(
        os.path.join(triples_path, f"partition_id={pid}"), ignore_errors=True
    )
