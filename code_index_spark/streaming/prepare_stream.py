"""Incremental corpus preparation via Structured Streaming — the
streaming twin of operators/prepare.prepare_corpus, for crawl
snapshots that arrive continuously, where each new batch must be
labeled against EVERYTHING already ingested. The stream keeps state
and calls the batch operator: each micro-batch is labeled by
operators/prepare.batch_labels against the accumulated exact-dup
registry, and near-dup detection is deferred to compact_labels
(operators/prepare.compact_prepared_labels over the accumulated
corpus) — minhash banding against the full corpus is not proportional
to a micro-batch sliver. The stream's labels therefore never say
'near_dup'. The exact-dup survivor is first-seen-batch, then min-id:
the batch operator's global min-id whenever ids arrive in batch order,
which the parity test pins.

The state is per-batch deltas under `state_dir/`, keyed by batch id
(the shared replay discipline in streaming/state.py — foreachBatch is
at-least-once, so a replayed batch rewrites its own version with
identical content; a batch-id REGRESSION — wiped checkpoint over a
kept state dir — raises instead of corrupting):
- `hashes/v=<batch_id>/` — this batch's NEW (text_hash, keep_id)
  registry rows; the registry is the union of the deltas, so per-batch
  write cost is proportional to the sliver, never to the accumulated
  registry. `fold_state` compacts old deltas (run it from the
  post-drain compaction job).
- `labels/v=<batch_id>/` — this batch's (doc_id, reason, split,
  has_pii, doc_chars); overwritten in place on replay.
Read caveat: the state dirs are written BEFORE the streaming
checkpoint commits the batch, so a reader that races a crashing
stream can see one uncommitted (or mid-write) version; the intended
read pattern is drain-then-read (trigger availableNow, awaitTermination,
then the views — what jobs/prepare_stream_job.py does).

At 100 TB: the hash registry is (32-char hash + long) per UNIQUE doc —
orders of magnitude smaller than the corpus — and the per-batch work
is one batch-sized scan plus a batch×registry hash equi-join (AQE
broadcasts the batch sliver). Reference analogue: the per-file
hash-skip cache (cache.py:134-197) re-expressed as streaming state,
upgraded from skip-unchanged to corpus-wide content dedup.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.decontam import eval_gram_set
from ..operators.prepare import (
    REGISTRY_DDL,
    batch_labels,
    compact_prepared_labels,
)
from .state import fold_deltas, guard_batch_id, read_deltas

_LABELS_DDL = (
    "doc_id bigint, reason string, split string, has_pii boolean,"
    " doc_chars int"
)


def _apply_batch(
    spark: SparkSession,
    state_dir: str,
    batch_df: DataFrame,
    batch_id: int,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    min_quality: float,
    keep_lang: str,
    decontam_gram_n: int,
    decontam_min_matches: int,
    fractions: dict[str, float] | None,
    split_salt: str,
    eval_grams: DataFrame | None = None,
) -> None:
    hash_root = os.path.join(state_dir, "hashes")
    label_root = os.path.join(state_dir, "labels")
    guard_batch_id(hash_root, batch_id)
    old = read_deltas(spark, hash_root, REGISTRY_DDL, below=batch_id)
    labels, winners = batch_labels(
        batch_df, old, eval_df, id_col, text_col, min_quality,
        keep_lang, decontam_gram_n, decontam_min_matches, fractions,
        split_salt, eval_grams,
    )
    # the registry DELTA: hashes first seen in this batch (NULL text
    # hashes join nothing and are never registry rows). Writing only
    # the delta keeps per-batch write cost sliver-proportional; the
    # accumulated registry is the read-time union of the deltas.
    new_hashes = (
        winners.filter(F.col("text_hash").isNotNull())
        .join(old.select("text_hash"), "text_hash", "left_anti")
        .select("text_hash", F.col("batch_keep").alias("keep_id"))
    )
    labels.write.mode("overwrite").parquet(
        os.path.join(label_root, f"v={batch_id}"))
    new_hashes.write.mode("overwrite").parquet(
        os.path.join(hash_root, f"v={batch_id}"))


class _ReleaseOnTermination:
    """StreamingQueryListener releasing the per-stream eval-gram
    checkpoint when its query terminates (without this, a long-lived
    session starting one stream per ingest window pins one
    eval-suite-sized block set per invocation — the same storage
    starvation the registry unpersist fixes per batch)."""

    def __init__(self, spark: SparkSession, query_id, df: DataFrame):
        self._spark, self._qid, self._df = spark, str(query_id), df

    def release(self) -> None:
        try:
            self._df.unpersist()
        except Exception:
            pass
        try:
            self._spark.streams.removeListener(self._listener)
        except Exception:
            pass

    def attach(self):
        from pyspark.sql.streaming.listener import StreamingQueryListener

        outer = self

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                pass

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                if str(event.id) == outer._qid:
                    outer.release()

        self._listener = _L()
        self._spark.streams.addListener(self._listener)
        return self


def start_incremental_prepare(
    spark: SparkSession,
    input_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    eval_df: DataFrame,
    schema: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_quality: float = 0.7,
    keep_lang: str = "en",
    decontam_gram_n: int = 8,
    decontam_min_matches: int = 1,
    fractions: dict[str, float] | None = None,
    split_salt: str = "split-v1",
    max_files_per_trigger: int = 1,
    trigger_once: bool = True,
):
    """Stream document parquet appends → incrementally maintained
    (labels, hash registry) preparation state. Returns the
    StreamingQuery; read the result with `prepared_labels_view`
    AFTER the query terminates (drain-then-read — see the module
    docstring's uncommitted-read caveat)."""
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )
    # the eval gram set is per-STREAM state, not per-batch work: build
    # it once, eagerly, and reuse across every micro-batch — otherwise
    # each batch re-explodes the full eval suite to rebuild the
    # decontamination broadcast (a per-batch cost proportional to the
    # eval suite, measured dominant in bench/prepare_stream_scale.py).
    # localCheckpoint caveat (the functions/minhash.py discipline): on
    # a real cluster an executor loss makes the NEXT batch fail rather
    # than recompute — acceptable because the stream restarts from its
    # checkpoint and rebuilds this table on startup. Released when the
    # query terminates (listener below).
    ev_grams = eval_gram_set(
        eval_df.select(F.col(text_col).alias(text_col)),
        text_col, decontam_gram_n,
    ).localCheckpoint(eager=True)

    def process_batch(batch_df, batch_id: int) -> None:
        _apply_batch(
            spark, state_dir, batch_df, batch_id, eval_df, id_col,
            text_col, min_quality, keep_lang, decontam_gram_n,
            decontam_min_matches, fractions, split_salt,
            eval_grams=ev_grams,
        )

    writer = stream.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    query = writer.start()
    releaser = _ReleaseOnTermination(spark, query.id, ev_grams).attach()
    if not query.isActive:
        # terminated before the listener attached (tiny availableNow
        # drains): no event will fire — release now (idempotent)
        releaser.release()
    return query


def prepared_labels_view(spark: SparkSession, state_dir: str) -> DataFrame:
    """All per-doc labels across applied batches. Each doc appears in
    exactly one batch's labels dir (a replay overwrites the same dir).
    Drain-then-read: while a stream is mid-batch this can include one
    uncommitted version (module docstring caveat)."""
    return read_deltas(spark, os.path.join(state_dir, "labels"), _LABELS_DDL)


def hash_state_view(spark: SparkSession, state_dir: str) -> DataFrame:
    """Current accumulated exact-dup registry (union of the per-batch
    deltas)."""
    return read_deltas(
        spark, os.path.join(state_dir, "hashes"), REGISTRY_DDL
    )


def fold_state(spark: SparkSession, state_dir: str) -> None:
    """Compact BOTH delta-style state families — the hash registry and
    the per-batch labels (each doc's label row lives in exactly one
    version dir, so fold_deltas' union-preserving fold applies to both;
    only the replay-sensitive latest version stays separate). Without
    this a long stream accumulates one dir + file set per micro-batch
    and every view read lists/opens O(batches) paths; folded, reads
    stay O(1) dirs regardless of stream age. Run while the stream is
    stopped — jobs/prepare_stream_job.py calls it from the compact
    branch."""
    fold_deltas(spark, os.path.join(state_dir, "hashes"), REGISTRY_DDL)
    fold_deltas(spark, os.path.join(state_dir, "labels"), _LABELS_DDL)


def compact_labels(
    spark: SparkSession,
    state_dir: str,
    docs_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    near_dup_threshold: float = 0.8,
    near_dup_max_bucket: int | None = None,
) -> DataFrame:
    """The nightly compaction the module docstring defers near-dup to:
    run the batch near-dup stage over the accumulated corpus
    (`docs_df` — everything ingested so far, e.g. the streamed input
    dir read as a batch table) and upgrade the stream's labels. The
    result is row-identical to prepare_corpus over the same corpus
    under the stream-parity precondition (ids in batch order); see
    operators/prepare.compact_prepared_labels for the rule."""
    return compact_prepared_labels(
        docs_df, prepared_labels_view(spark, state_dir),
        id_col, text_col, near_dup_threshold, near_dup_max_bucket,
    )
