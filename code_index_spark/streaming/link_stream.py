"""Incremental entity linking via Structured Streaming — the streaming
twin of operators/link.link_mentions. The stream keeps state and
calls the batch operator; it carries no linking algorithm of its own.

The state is the merged surface vocabulary (distinct mention surfaces
+ counts + grams), one immutable snapshot per applied micro-batch
under `state_dir/surfaces/v=<batch_id>/`. A batch adds its surfaces'
mention counts onto the previous snapshot and writes its own version.
Pairs are not state: `linked_pairs_view` runs link_mentions over the
current snapshot, so the streamed pairs equal the batch pairs over the
same corpus by construction, at every vocabulary size (the exact
prefix join up to LSH_ABOVE_SURFACES, minhash banding beyond it).

Replay safety (round-4 ADVICE): foreachBatch is at-least-once, so a
batch can re-run after its state write succeeded but before the
checkpoint commit. The count merge is not naturally idempotent, so the
snapshot for batch N is always derived from the latest snapshot with
version < N and written to its own `v=N` directory: a replay of batch
N re-reads the same pre-batch snapshot and rewrites `v=N` with
identical content instead of double-adding mention counts. Snapshots
older than the current batch's base are pruned after the write (only
the last uncommitted batch can ever replay). Shared machinery:
streaming/state.py.

At 100 TB: the per-batch work is the batch's own extraction plus a
vocab-sized merge; the state stays orders of magnitude smaller than
the corpus (reference analogue: the incremental file-hash skip cache
+ Qdrant upsert, cache.py / vector_store.py:337-376, re-expressed as
streaming state)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.extract import extract_triples_sql
from ..operators.link import link_mentions, mention_surfaces
from ..schema import TRANSCRIPTS
from .state import guard_batch_id, prune_below_base, read_latest_snapshot

_SURFACES_DDL = (
    "surface string, mention_count bigint, norm string, grams array<string>"
)


def _read_surfaces(
    spark: SparkSession, surf_root: str, below: int | None = None
) -> DataFrame:
    """Latest surfaces snapshot — optionally the latest with version
    strictly below `below` (the replay-safe base for applying batch
    `below`). flat_fallback covers the pre-versioning layout (parquet
    files directly under surfaces/) as the base for the first versioned
    batch — the write path deletes the flat files once a versioned base
    exists."""
    return read_latest_snapshot(
        spark, surf_root, _SURFACES_DDL, below=below, flat_fallback=True
    )


def _apply_batch(
    spark: SparkSession, state_dir: str, batch_df: DataFrame, batch_id: int
) -> None:
    """Apply one micro-batch to the surfaces state, idempotently: the
    merge base is the latest snapshot with version < batch_id, so
    re-applying the same batch rewrites the identical `v=batch_id`
    snapshot instead of double-adding its mention counts."""
    surf_root = os.path.join(state_dir, "surfaces")
    guard_batch_id(surf_root, batch_id)
    batch_surf = mention_surfaces(extract_triples_sql(batch_df))
    old = _read_surfaces(spark, surf_root, below=batch_id)
    # merge counts; carry norm/grams from whichever side has them
    merged = (
        old.select("surface", F.col("mention_count").alias("c_old"),
                   "norm", "grams")
        .join(
            batch_surf.select(
                "surface", F.col("mention_count").alias("c_new"),
                F.col("norm").alias("norm_b"), F.col("grams").alias("grams_b"),
            ),
            "surface", "full_outer",
        )
        .select(
            "surface",
            (F.coalesce("c_old", F.lit(0)) + F.coalesce("c_new", F.lit(0)))
            .alias("mention_count"),
            F.coalesce("norm", "norm_b").alias("norm"),
            F.coalesce("grams", "grams_b").alias("grams"),
        )
    )
    merged.write.mode("overwrite").parquet(
        os.path.join(surf_root, f"v={batch_id}")
    )
    # the base this batch read survives the prune (a replay re-reads
    # it); older versions and superseded flat-layout files go
    prune_below_base(surf_root, batch_id, drop_flat=True)


def start_incremental_linking(
    spark: SparkSession,
    input_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    trigger_once: bool = True,
):
    """Stream transcript parquet appends → incrementally maintained
    surfaces state. Returns the StreamingQuery; read the result with
    `linked_pairs_view`."""
    stream = (
        spark.readStream.schema(TRANSCRIPTS)
        .option("maxFilesPerTrigger", 8)
        .parquet(input_dir)
    )

    def process_batch(batch_df, batch_id: int) -> None:
        _apply_batch(spark, state_dir, batch_df, batch_id)

    writer = stream.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def surfaces_state_view(spark: SparkSession, state_dir: str) -> DataFrame:
    """Current merged surface vocabulary (the latest applied-batch
    snapshot) — the public reader for the versioned surfaces state."""
    return _read_surfaces(spark, os.path.join(state_dir, "surfaces"))


def linked_pairs_view(
    spark: SparkSession, state_dir: str, min_cosine: float = 0.5
) -> DataFrame:
    """Current linked pairs: the batch link_mentions over the current
    surfaces snapshot (checkpointed, as link_mentions expects)."""
    surfaces = surfaces_state_view(spark, state_dir).localCheckpoint(eager=True)
    return link_mentions(None, min_cosine=min_cosine, surfaces=surfaces)
