"""Streaming entity-linking twin (streaming/link_stream.py): the
incrementally maintained surfaces snapshot must (a) survive restart
without re-applying a batch and (b) give EXACTLY the batch
link_mentions result over the same accumulated corpus — the pairs view
runs link_mentions over the snapshot."""

import os

import pytest
from pyspark.sql import functions as F

from code_index_spark.operators.extract import extract_triples_sql
from code_index_spark.operators.link import link_mentions
from code_index_spark.schema import TRANSCRIPTS
from code_index_spark.streaming.link_stream import (
    _apply_batch,
    linked_pairs_view,
    start_incremental_linking,
    surfaces_state_view,
)


def _pairs_set(df):
    return {
        (r["surface_a"], r["surface_b"], round(r["jaccard"], 4),
         round(r["cosine"], 4))
        for r in df.collect()
    }


def test_incremental_linking_matches_batch_and_survives_restart(
    spark, tmp_path, synth_corpus
):
    pdf, _ = synth_corpus
    convs = sorted(pdf["conv_id"].unique())
    half = set(convs[: len(convs) // 2])
    first = pdf[pdf["conv_id"].isin(half)]
    second = pdf[~pdf["conv_id"].isin(half)]
    assert len(first) and len(second)

    in_dir = str(tmp_path / "in")
    state_dir = str(tmp_path / "state")
    ck_dir = str(tmp_path / "ck")
    spark.createDataFrame(first, schema=TRANSCRIPTS).write.mode(
        "overwrite"
    ).parquet(in_dir)

    start_incremental_linking(spark, in_dir, state_dir, ck_dir).awaitTermination(180)
    # the state is the surfaces snapshot alone
    assert os.listdir(state_dir) == ["surfaces"]
    after_first = _pairs_set(linked_pairs_view(spark, state_dir))
    versions_1 = sorted(os.listdir(os.path.join(state_dir, "surfaces")))

    # restart with NO new input: checkpoint skips everything — no new
    # surfaces version is written and the result is unchanged
    start_incremental_linking(spark, in_dir, state_dir, ck_dir).awaitTermination(180)
    assert sorted(os.listdir(os.path.join(state_dir, "surfaces"))) == versions_1
    assert _pairs_set(linked_pairs_view(spark, state_dir)) == after_first

    # append the second half; its batch merges onto the snapshot
    spark.createDataFrame(second, schema=TRANSCRIPTS).write.mode(
        "append"
    ).parquet(in_dir)
    start_incremental_linking(spark, in_dir, state_dir, ck_dir).awaitTermination(180)

    streamed = _pairs_set(linked_pairs_view(spark, state_dir))

    # batch parity over the full corpus
    full = spark.createDataFrame(pdf, schema=TRANSCRIPTS)
    batch = _pairs_set(link_mentions(extract_triples_sql(full)))
    assert streamed == batch
    assert batch, "parity check is vacuous on an empty pair set"

    # the surface state must equal the batch vocabulary (counts merged)
    from code_index_spark.operators.link import mention_surfaces

    got = {
        (r["surface"], r["mention_count"])
        for r in surfaces_state_view(spark, state_dir)
        .select("surface", "mention_count").collect()
    }
    want = {
        (r["surface"], r["mention_count"])
        for r in mention_surfaces(extract_triples_sql(full))
        .select("surface", "mention_count").collect()
    }
    assert got == want


def test_batch_replay_is_idempotent(spark, tmp_path, synth_corpus):
    """at-least-once replay: re-applying the SAME batch id after its
    state writes already succeeded must not double-merge mention counts
    (round-4 ADVICE) — the merge base is the pre-batch snapshot, not
    the batch's own output."""
    pdf, _ = synth_corpus
    state_dir = str(tmp_path / "state")
    full = spark.createDataFrame(pdf, schema=TRANSCRIPTS)

    _apply_batch(spark, state_dir, full, 0)
    first = {
        (r["surface"], r["mention_count"])
        for r in surfaces_state_view(spark, state_dir).collect()
    }
    view_first = _pairs_set(linked_pairs_view(spark, state_dir))

    # crash-between-write-and-commit: the identical batch replays
    _apply_batch(spark, state_dir, full, 0)
    replayed = {
        (r["surface"], r["mention_count"])
        for r in surfaces_state_view(spark, state_dir).collect()
    }
    assert replayed == first  # counts NOT doubled
    assert _pairs_set(linked_pairs_view(spark, state_dir)) == view_first


def test_flat_surfaces_layout_migrates(spark, tmp_path, synth_corpus):
    """State written by the pre-versioning code (parquet directly under
    surfaces/, no v=<batch> dirs) must be read as the base snapshot —
    not silently treated as empty, which would reset accumulated
    mention counts — and be cleaned up once a versioned base exists."""
    import shutil

    pdf, _ = synth_corpus
    convs = sorted(pdf["conv_id"].unique())
    half = set(convs[: len(convs) // 2])
    first = spark.createDataFrame(pdf[pdf["conv_id"].isin(half)],
                                  schema=TRANSCRIPTS)
    second = spark.createDataFrame(pdf[~pdf["conv_id"].isin(half)],
                                   schema=TRANSCRIPTS)

    # reference: both batches through the current versioned layout
    ref_dir = str(tmp_path / "ref")
    _apply_batch(spark, ref_dir, first, 0)
    _apply_batch(spark, ref_dir, second, 1)
    want = {
        (r["surface"], r["mention_count"])
        for r in surfaces_state_view(spark, ref_dir).collect()
    }

    # simulate the old layout: demote batch 0's snapshot to flat files
    mig_dir = str(tmp_path / "mig")
    _apply_batch(spark, mig_dir, first, 0)
    surf = os.path.join(mig_dir, "surfaces")
    v0 = os.path.join(surf, "v=0")
    for name in os.listdir(v0):
        shutil.move(os.path.join(v0, name), os.path.join(surf, name))
    os.rmdir(v0)

    base = {
        (r["surface"], r["mention_count"])
        for r in surfaces_state_view(spark, mig_dir).collect()
    }
    assert base  # flat layout readable, not empty

    _apply_batch(spark, mig_dir, second, 1)
    got = {
        (r["surface"], r["mention_count"])
        for r in surfaces_state_view(spark, mig_dir).collect()
    }
    assert got == want  # counts accumulated on the flat base

    # next batch sees a versioned base -> flat files cleaned up
    _apply_batch(spark, mig_dir, second.limit(0), 2)
    assert not [n for n in os.listdir(surf)
                if os.path.isfile(os.path.join(surf, n))]
    assert got == {
        (r["surface"], r["mention_count"])
        for r in surfaces_state_view(spark, mig_dir).collect()
    }
