"""Segmentation semantics vs the reference spec (chunking.py:25-95,
utils.py:19-69): greedy 1000-char line packing, ×1.15 tolerance,
min 50 chars, lossless splitting, 1-based split indices."""

from pyspark.sql import functions as F

from code_index_spark.operators.segment import chunk_turn, segment, split_to_limit
from code_index_spark.schema import TRANSCRIPTS
from code_index_spark.synth import synthesize


def test_split_lossless_and_bounded():
    content = "\n".join(f"line {i} " + "y" * (i % 97) for i in range(400))
    parts = split_to_limit(content, 1000)
    assert all(len(p) <= 1000 for p in parts)
    assert "\n".join(parts) == content  # line-boundary splits preserve text


def test_hard_split_monster_line():
    giant = "z" * 9001
    parts = split_to_limit(giant, 1000)
    assert len(parts) == 10 and "".join(parts) == giant


def test_min_chars_drop():
    assert chunk_turn("short") == []
    assert len(chunk_turn("a" * 50)) == 1


def test_split_metadata():
    text = "\n".join("w" * 80 for _ in range(40))  # ~3240 chars
    segs = chunk_turn(text)
    split = [s for s in segs if s["split_total"]]
    assert split, "oversized chunk must split"
    for s in split:
        assert s["split_index"] >= 1
        assert s["parent_block_id"].startswith("chunk_")
        assert s["segment_hash"].endswith(f"_part{s['split_index']}")


def test_segment_dataframe(spark, synth_corpus):
    transcripts_pdf, _ = synth_corpus
    tdf = spark.createDataFrame(transcripts_pdf, schema=TRANSCRIPTS)
    segs = segment(tdf)
    row = segs.agg(
        F.count("*").alias("n"),
        F.max(F.length("content")).alias("maxlen"),
        F.min(F.length(F.trim(F.col("content")))).alias("minlen"),
    ).first()
    assert row["n"] > 0
    assert row["maxlen"] <= 1000
    # empty/whitespace turns yield no segments; no CHUNK under min chars
    # unless it is a split tail part (typed kv/window segments may be short)
    tails = segs.filter(
        (F.col("seg_type") == "chunk")
        & (F.length(F.trim("content")) < 50)
        & F.col("split_index").isNull()
    ).count()
    assert tails == 0


def test_kv_sections_routed():
    from code_index_spark.operators.segment import kv_sections, segment_turn

    text = "prose intro line\nstatus=ok\nqty=42\nmode=fast\ntrailing prose"
    secs = kv_sections(text)
    assert len(secs) == 1
    assert secs[0]["seg_type"] == "kv_section"
    assert secs[0]["content"] == "status=ok\nqty=42\nmode=fast"
    assert (secs[0]["start_line"], secs[0]["end_line"]) == (2, 4)
    assert secs[0]["segment_hash"].endswith("_kv")
    # a single isolated kv line is not a section
    assert kv_sections("one=1\nprose here") == []
    # hybrid cascade: chunks + kv sections together
    big = ("x" * 60 + "\n") + "a=1\nb=2\n" + ("y" * 60)
    types = {s["seg_type"] for s in segment_turn(big)}
    assert types == {"chunk", "kv_section"}


def test_paragraph_segments_for_prose():
    from code_index_spark.operators.segment import (
        content_type_py,
        paragraphs,
        segment_turn,
    )

    p1 = "The merge completed without conflicts and the build stayed green."
    p2 = "Afterwards the deploy pipeline promoted the artifact to staging."
    text = f"{p1}\n\n{p2}"
    assert content_type_py(text) == "prose"
    segs = paragraphs(text)
    assert [(s["seg_type"], s["start_line"], s["end_line"], s["content"])
            for s in segs] == [
        ("paragraph", 1, 1, p1),
        ("paragraph", 3, 3, p2),
    ]
    assert segs[0]["segment_hash"].endswith("1_para")
    # the cascade routes prose to paragraphs (no generic chunks emitted)
    assert {s["seg_type"] for s in segment_turn(text)} == {"paragraph"}
    # non-prose content keeps the generic chunker
    code = "```\n" + "x = 1\n" * 20 + "```"
    assert content_type_py(code) == "code"
    assert {s["seg_type"] for s in segment_turn(code)} == {"chunk"}
    # a long paragraph splits losslessly with chunk-style metadata
    big = " ".join(["word"] * 500)  # ~2500 chars, one paragraph
    parts = paragraphs(big)
    assert all(p["seg_type"] == "paragraph" for p in parts)
    assert parts[0]["split_total"] == len(parts) > 1
    assert parts[0]["parent_block_id"].startswith("para_")
    assert "".join(p["content"] for p in parts) == big
    # sub-min paragraphs drop; the cascade then falls back to chunks
    tiny_paras = "aa\n\nbb\n\n" + "c" * 60
    assert len(paragraphs(tiny_paras)) == 1  # only the 60-char block


def test_line_window_split_not_truncated():
    """X8 no-drop: an over-long fallback window is split into parts, not
    truncated, and the parts jointly carry every byte."""
    from code_index_spark.operators.segment import line_windows, segment_turn

    # single pathological line: mostly whitespace so the chunker drops it
    monster = " " * 2990 + "abc"
    assert chunk_turn(monster) == []
    segs = segment_turn(monster)
    assert all(s["seg_type"] == "line_window" for s in segs)
    assert all(len(s["content"]) <= 1000 for s in segs)
    assert "".join(s["content"] for s in segs) == monster
    assert segs[0]["split_total"] == len(segs) == 3
    assert all((s["start_line"], s["end_line"]) == (1, 1) for s in segs)
    ws = line_windows(monster)
    assert ws[0]["parent_block_id"].startswith("win_")


def test_line_window_fallback_no_drop():
    from code_index_spark.operators.segment import line_windows, segment_turn

    # short text: chunker drops it (< 50 chars) but the cascade keeps it
    short = "tiny line one\ntiny two"
    assert chunk_turn(short) == []
    segs = segment_turn(short)
    assert [s["seg_type"] for s in segs] == ["line_window"]
    assert segs[0]["content"] == short
    # window boundaries: 12 lines → windows of 5, 5, 2
    text = "\n".join(f"l{i}" for i in range(12))
    ws = line_windows(text)
    assert [(w["start_line"], w["end_line"]) for w in ws] == [(1, 5), (6, 10), (11, 12)]
    # whitespace-only text still yields nothing anywhere in the cascade
    assert segment_turn("   \n  ") == []


def _golden_corpus() -> list:
    """Fixed segmentation inputs: a synthetic conversation set plus the
    edge cases every emitter path must keep (empty input, monster lines,
    split kv runs, split paragraphs, kv lines inside a code fence)."""
    pdf, _ = synthesize(60, seed=7, long_conv_turns=300)
    prose = " ".join(
        f"Sentence {i} explains how the merge kept the build green." for i in range(30)
    )
    return list(pdf["text"]) + [
        None,
        "",
        "  \n\t \n   ",
        "q" * 9000,
        " " * 2990 + "abc",
        "\n".join(f"key_{i}=value_{i:04d}_padding" for i in range(60)),
        "\n".join("w" * 80 for _ in range(40)),
        f"{prose}\n\n{prose[:400]}\n\nshort\n\n{prose[:700]}",
        "```\n" + "\n".join(f"k{i}=v{i}" for i in range(400)) + "\n```",
    ]


def test_segment_rows_golden():
    """Every row segment_turn emits for the fixed corpus, hashed: any
    change to a boundary, split, id or hash suffix changes the digest."""
    import hashlib
    import json

    from code_index_spark.operators.segment import segment_turn

    h = hashlib.sha256()
    for text in _golden_corpus():
        h.update(json.dumps(segment_turn(text), sort_keys=True).encode())
    assert h.hexdigest() == (
        "329d78030f7a82a015a6aa940a660abd7ab3dd54474ffa2a520e366e6efa6cf4"
    )
