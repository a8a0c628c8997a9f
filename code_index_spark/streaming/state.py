"""Versioned snapshot/delta state for foreachBatch streams — the
shared replay-safety machinery (factored from link_stream and
prepare_stream, which had evolved verbatim-parallel copies of it).

The at-least-once discipline: foreachBatch can re-run a batch after
its state writes succeeded but before the checkpoint commit, so every
state write is keyed by batch id (`v=<batch_id>/` dir) and derived
only from versions strictly below it — a replay recomputes and
rewrites identical content instead of double-applying. Only the
LATEST applied batch can ever replay (earlier ones are committed), so
snapshot-style state prunes everything below the replay base after a
successful write, while delta-style state keeps all versions and
folds them during compaction.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession

from ..session import empty_frame


def snapshot_versions(root: str) -> list[int]:
    """Applied-batch versions (`v=<id>` dirs) under a state root,
    ascending."""
    if not os.path.isdir(root):
        return []
    out = []
    for name in os.listdir(root):
        if name.startswith("v="):
            try:
                out.append(int(name[2:]))
            except ValueError:
                continue
    return sorted(out)


def guard_batch_id(root: str, batch_id: int) -> None:
    """Fail fast on batch-id REGRESSION: a wiped/repointed streaming
    checkpoint restarts ids at 0 while the state dir still holds later
    versions — without this check the batch would merge against an
    empty/wrong base and silently corrupt accumulated state.
    batch_id == latest is a legitimate replay; batch_id > latest is a
    new batch."""
    versions = snapshot_versions(root)
    if versions and batch_id < versions[-1]:
        raise ValueError(
            f"batch_id {batch_id} < latest applied version "
            f"{versions[-1]} under {root}: the streaming checkpoint "
            "has restarted behind the state dir (wiped/repointed "
            "checkpoint?). Refusing to corrupt state — restore the "
            "matching checkpoint or start a fresh state dir."
        )


def read_latest_snapshot(
    spark: SparkSession,
    root: str,
    ddl: str,
    below: int | None = None,
    flat_fallback: bool = False,
) -> DataFrame:
    """Latest snapshot — optionally the latest strictly below `below`
    (the replay-safe merge base for applying batch `below`).
    flat_fallback reads pre-versioning parquet files directly under
    `root` as the base (the link_stream migration path)."""
    versions = snapshot_versions(root)
    if below is not None:
        versions = [v for v in versions if v < below]
    if versions:
        return spark.read.schema(ddl).parquet(
            os.path.join(root, f"v={versions[-1]}")
        )
    if flat_fallback and os.path.isdir(root) and any(
        n.endswith(".parquet") for n in os.listdir(root)
    ):
        return spark.read.schema(ddl).parquet(root)
    return empty_frame(spark, ddl)


def read_deltas(
    spark: SparkSession,
    root: str,
    ddl: str,
    below: int | None = None,
) -> DataFrame:
    """Union of ALL delta versions (optionally strictly below `below`)
    — for state kept as per-batch deltas rather than full snapshots
    (per-batch write cost proportional to the sliver, never to the
    accumulated state). Fold with fold_deltas when dir count grows."""
    versions = snapshot_versions(root)
    if below is not None:
        versions = [v for v in versions if v < below]
    if not versions:
        return empty_frame(spark, ddl)
    return spark.read.schema(ddl).parquet(
        *[os.path.join(root, f"v={v}") for v in versions]
    )


def prune_below_base(root: str, batch_id: int, drop_flat: bool = False) -> None:
    """Snapshot-style cleanup after a successful `v=batch_id` write:
    drop versions older than the replay base (the newest v < batch_id —
    only the latest uncommitted batch can replay). drop_flat also
    removes pre-versioning flat-layout files once a versioned base
    exists."""
    base = [v for v in snapshot_versions(root) if v < batch_id]
    for v in base[:-1]:
        shutil.rmtree(os.path.join(root, f"v={v}"), ignore_errors=True)
    if drop_flat and base:
        for name in os.listdir(root):
            p = os.path.join(root, name)
            if os.path.isfile(p):
                os.remove(p)


def fold_deltas(spark: SparkSession, root: str, ddl: str) -> None:
    """Compact delta-style state: fold every version STRICTLY BELOW the
    latest into the second-latest dir (never the latest — it is the one
    version a replay may rewrite, and folding accumulated state into it
    would be destroyed by that rewrite). Run while the stream is
    stopped (e.g. from the post-drain compaction job)."""
    versions = snapshot_versions(root)
    if len(versions) <= 2:
        return
    keep_latest = versions[-1]
    fold_into = versions[-2]
    folded = read_deltas(spark, root, ddl, below=keep_latest)
    # materialize before overwriting one of the dirs being read
    folded = folded.localCheckpoint(eager=True)
    folded.write.mode("overwrite").parquet(
        os.path.join(root, f"v={fold_into}"))
    folded.unpersist()
    for v in versions[:-2]:
        shutil.rmtree(os.path.join(root, f"v={v}"), ignore_errors=True)
