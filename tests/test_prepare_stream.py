"""Streaming corpus-preparation twin (streaming/prepare_stream.py):
labels must (a) match the batch prepare_corpus over the same
accumulated corpus (on a near-dup-free corpus — the stream defers
near-dup to compaction), (b) catch exact dups ACROSS micro-batches via
the accumulated hash registry, (c) survive restart without relabeling,
and (d) be replay-idempotent (foreachBatch is at-least-once)."""

from pyspark.sql import functions as F

from code_index_spark.operators.prepare import prepare_corpus
from code_index_spark.streaming.prepare_stream import (
    _apply_batch,
    hash_state_view,
    prepared_labels_view,
    start_incremental_prepare,
)

_SCHEMA = "doc_id long, text string"
_GOOD = "the quick brown fox and the lazy dog of the meadow in town"
_PII = ("ping the code and test the data of the trade in main then"
        " email me at user@example.org now")
_ES = "el la de el la de uno dos tres cuatro cinco seis"


def _label_rows(df):
    return sorted(
        (r["doc_id"], r["reason"], r["split"], r["has_pii"],
         r["doc_chars"]) for r in df.collect()
    )


def test_incremental_prepare_matches_batch_and_survives_restart(
    spark, tmp_path
):
    batch1 = [(0, _GOOD), (3, "x"), (5, "alpha beta gamma")]
    batch2 = [(10, _GOOD),   # cross-batch exact dup of 0
              (11, _ES),     # non_en
              (12, _PII),    # keep, has_pii
              (13, _PII)]    # within-batch exact dup of 12
    ev = spark.createDataFrame(
        [(100, "alpha beta gamma delta")], _SCHEMA)

    in_dir = str(tmp_path / "in")
    state_dir = str(tmp_path / "state")
    ck_dir = str(tmp_path / "ck")

    def run():
        start_incremental_prepare(
            spark, in_dir, state_dir, ck_dir, ev, _SCHEMA,
            decontam_gram_n=3,
        ).awaitTermination(180)

    spark.createDataFrame(batch1, _SCHEMA).coalesce(1).write.mode(
        "overwrite").parquet(in_dir)
    run()
    first = {r["doc_id"]: r["reason"]
             for r in prepared_labels_view(spark, state_dir).collect()}
    assert first == {0: "keep", 3: "low_quality", 5: "contaminated"}

    # restart with NO new input: checkpoint skips everything
    run()
    assert _label_rows(prepared_labels_view(spark, state_dir)) == \
        _label_rows(prepared_labels_view(spark, state_dir))
    assert {r["doc_id"]: r["reason"]
            for r in prepared_labels_view(spark, state_dir).collect()} \
        == first

    # second snapshot arrives: cross-batch and within-batch dups caught
    spark.createDataFrame(batch2, _SCHEMA).coalesce(1).write.mode(
        "append").parquet(in_dir)
    run()
    labels = {r["doc_id"]: r["reason"]
              for r in prepared_labels_view(spark, state_dir).collect()}
    assert labels == {0: "keep", 3: "low_quality", 5: "contaminated",
                      10: "exact_dup", 11: "non_en", 12: "keep",
                      13: "exact_dup"}

    # batch parity over the accumulated corpus (no near-dups in it,
    # ids arrive in batch order → identical survivors and labels)
    full = spark.createDataFrame(batch1 + batch2, _SCHEMA)
    batch = prepare_corpus(full, ev, decontam_gram_n=3)
    assert _label_rows(prepared_labels_view(spark, state_dir)) == \
        _label_rows(batch)

    # registry holds one row per unique text, min-id survivor
    reg = {r["text_hash"]: r["keep_id"]
           for r in hash_state_view(spark, state_dir).collect()}
    assert len(reg) == 5 and sorted(reg.values()) == [0, 3, 5, 11, 12]


def test_compaction_closes_deferred_near_dup(spark, tmp_path):
    """Stream batches containing a CROSS-BATCH near-dup (the case the
    per-batch stream cannot see), then run the nightly compaction:
    compacted labels must equal batch prepare_corpus over the full
    accumulated corpus — including the near_dup row — and all other
    labels must be unchanged."""
    from code_index_spark.streaming.prepare_stream import compact_labels

    near = _GOOD + " tonight"  # word-3-gram jaccard 11/12 vs _GOOD
    batch1 = [(0, _GOOD), (3, "x")]
    batch2 = [(20, near),        # cross-batch near-dup of 0
              (21, _ES),         # non_en
              (22, _GOOD)]       # cross-batch exact dup of 0
    ev = spark.createDataFrame([(100, "alpha beta gamma delta")], _SCHEMA)

    in_dir = str(tmp_path / "in")
    state_dir = str(tmp_path / "state")
    ck_dir = str(tmp_path / "ck")

    def run():
        start_incremental_prepare(
            spark, in_dir, state_dir, ck_dir, ev, _SCHEMA,
            decontam_gram_n=3,
        ).awaitTermination(180)

    spark.createDataFrame(batch1, _SCHEMA).coalesce(1).write.mode(
        "overwrite").parquet(in_dir)
    run()
    spark.createDataFrame(batch2, _SCHEMA).coalesce(1).write.mode(
        "append").parquet(in_dir)
    run()

    # the stream alone labels the near-dup 'keep' (deferred by design)
    streamed = {r["doc_id"]: r["reason"]
                for r in prepared_labels_view(spark, state_dir).collect()}
    assert streamed[20] == "keep" and streamed[22] == "exact_dup"

    full = spark.createDataFrame(batch1 + batch2, _SCHEMA)
    compacted = compact_labels(spark, state_dir, full)
    assert {r["doc_id"]: r["reason"]
            for r in compacted.collect()}[20] == "near_dup"
    batch = prepare_corpus(full, ev, decontam_gram_n=3)
    assert _label_rows(compacted) == _label_rows(batch)


def test_prepare_stream_replay_idempotent(spark, tmp_path):
    """Re-applying the SAME batch_id (at-least-once replay after a
    crash between the state writes and the checkpoint commit) rewrites
    identical state instead of double-applying."""
    state_dir = str(tmp_path / "state")
    ev = spark.createDataFrame([(100, "alpha beta gamma delta")], _SCHEMA)
    b0 = spark.createDataFrame([(0, _GOOD), (1, _GOOD)], _SCHEMA)
    b1 = spark.createDataFrame([(2, _GOOD), (3, _PII)], _SCHEMA)

    def apply(df, bid):
        _apply_batch(spark, state_dir, df, bid, ev, "doc_id", "text",
                     0.7, "en", 3, 1, None, "split-v1")

    apply(b0, 0)
    apply(b1, 1)
    labels_once = _label_rows(prepared_labels_view(spark, state_dir))
    reg_once = sorted(map(tuple, hash_state_view(spark, state_dir).collect()))
    assert {r[0]: r[1] for r in labels_once}[2] == "exact_dup"

    apply(b1, 1)  # replay
    assert _label_rows(prepared_labels_view(spark, state_dir)) == labels_once
    assert sorted(map(tuple,
                      hash_state_view(spark, state_dir).collect())) == reg_once


def test_null_text_docs_get_label_rows(spark, tmp_path):
    """md5(NULL) equi-joins with nothing: NULL-text docs must still get
    a label row (never a dup — matching the batch operator's equally
    null-rejecting reject-set joins), never a registry row."""
    state_dir = str(tmp_path / "state")
    ev = spark.createDataFrame([(100, "alpha beta gamma delta")], _SCHEMA)
    b0 = spark.createDataFrame([(0, _GOOD), (1, None), (2, None)], _SCHEMA)

    _apply_batch(spark, state_dir, b0, 0, ev, "doc_id", "text",
                 0.7, "en", 3, 1, None, "split-v1")
    labels = {r["doc_id"]: r["reason"]
              for r in prepared_labels_view(spark, state_dir).collect()}
    assert set(labels) == {0, 1, 2}             # nobody dropped
    assert labels[1] == labels[2] != "exact_dup"  # NULLs never dups
    reg = hash_state_view(spark, state_dir).collect()
    assert all(r["text_hash"] is not None for r in reg) and len(reg) == 1

    # batch parity including the NULL rows holds AFTER compaction (the
    # two NULL docs share the single '' word-gram, so the batch
    # near-dup stage pairs them at jaccard 1.0 — a deferred-to-
    # compaction effect, like any near-dup; see dedupe._shingled)
    from code_index_spark.operators.prepare import prepare_corpus
    from code_index_spark.streaming.prepare_stream import compact_labels

    batch = prepare_corpus(b0, ev, decontam_gram_n=3)
    assert _label_rows(compact_labels(spark, state_dir, b0)) == \
        _label_rows(batch)


def test_batch_id_regression_raises(spark, tmp_path):
    """A wiped/repointed checkpoint restarting batch ids at 0 over a
    kept state dir must ERROR, not merge against the wrong base."""
    import pytest as _pytest

    state_dir = str(tmp_path / "state")
    ev = spark.createDataFrame([(100, "alpha beta gamma delta")], _SCHEMA)

    def apply(df, bid):
        _apply_batch(spark, state_dir, df, bid, ev, "doc_id", "text",
                     0.7, "en", 3, 1, None, "split-v1")

    apply(spark.createDataFrame([(0, _GOOD)], _SCHEMA), 5)
    with _pytest.raises(ValueError, match="restarted behind"):
        apply(spark.createDataFrame([(9, _PII)], _SCHEMA), 0)
    apply(spark.createDataFrame([(9, _PII)], _SCHEMA), 5)  # replay ok
    apply(spark.createDataFrame([(10, _ES)], _SCHEMA), 6)  # forward ok


def test_fold_registry_preserves_content_and_replay(spark, tmp_path):
    """fold_state compacts all but the replay-sensitive latest registry
    delta; registry content is unchanged and a replay of the latest
    batch after folding still rewrites identical state."""
    import os as _os

    from code_index_spark.streaming.prepare_stream import fold_state

    state_dir = str(tmp_path / "state")
    ev = spark.createDataFrame([(100, "alpha beta gamma delta")], _SCHEMA)

    def apply(df, bid):
        _apply_batch(spark, state_dir, df, bid, ev, "doc_id", "text",
                     0.7, "en", 3, 1, None, "split-v1")

    b2 = spark.createDataFrame([(4, _ES), (5, _GOOD)], _SCHEMA)
    apply(spark.createDataFrame([(0, _GOOD)], _SCHEMA), 0)
    apply(spark.createDataFrame([(2, _PII)], _SCHEMA), 1)
    apply(b2, 2)
    before = sorted(map(tuple, hash_state_view(spark, state_dir).collect()))

    fold_state(spark, state_dir)
    hash_root = _os.path.join(state_dir, "hashes")
    assert sorted(_os.listdir(hash_root)) == ["v=1", "v=2"]
    assert sorted(map(tuple,
                      hash_state_view(spark, state_dir).collect())) == before

    apply(b2, 2)  # replay of the latest batch, post-fold
    assert sorted(map(tuple,
                      hash_state_view(spark, state_dir).collect())) == before


def test_fold_state_also_folds_labels(spark, tmp_path):
    """fold_state bounds BOTH state families: after three batches the
    labels sit in two dirs (folded + replay-sensitive latest) and the
    labels view is row-identical; a latest-batch replay still lands in
    its own dir."""
    import os as _os

    from code_index_spark.streaming.prepare_stream import (
        fold_state,
        prepared_labels_view,
    )

    state_dir = str(tmp_path / "state")
    ev = spark.createDataFrame([(100, "alpha beta gamma delta")], _SCHEMA)

    def apply(df, bid):
        _apply_batch(spark, state_dir, df, bid, ev, "doc_id", "text",
                     0.7, "en", 3, 1, None, "split-v1")

    b2 = spark.createDataFrame([(4, _ES), (5, _GOOD)], _SCHEMA)
    apply(spark.createDataFrame([(0, _GOOD)], _SCHEMA), 0)
    apply(spark.createDataFrame([(2, _PII)], _SCHEMA), 1)
    apply(b2, 2)
    before = sorted(map(tuple,
                        prepared_labels_view(spark, state_dir).collect()))

    fold_state(spark, state_dir)
    for family in ("hashes", "labels"):
        assert sorted(_os.listdir(_os.path.join(state_dir, family))) == [
            "v=1", "v=2"]
    assert sorted(map(tuple, prepared_labels_view(
        spark, state_dir).collect())) == before

    apply(b2, 2)  # latest-batch replay, post-fold
    assert sorted(map(tuple, prepared_labels_view(
        spark, state_dir).collect())) == before
