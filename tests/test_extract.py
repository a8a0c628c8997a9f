"""Triple-extraction parity: P/R ≥ 0.95 vs planted ground truth
(the BASELINE.json north_rule gate), plus the reference's no-drop
edge-case battery (FIXTURES.md §6)."""

import pandas as pd
import pytest

from code_index_spark.operators.extract import extract_triples, extract_turn
from code_index_spark.schema import TRANSCRIPTS
from code_index_spark.synth import synthesize


def _key_set(pdf: pd.DataFrame) -> set[tuple]:
    return set(
        zip(pdf.conv_id, pdf.turn_idx, pdf.pred, pdf.obj,
            pdf.span_start, pdf.span_end, pdf.rule_id)
    )


def test_extraction_pr_vs_planted_oracle(spark, synth_corpus):
    transcripts_pdf, expected_pdf = synth_corpus
    tdf = spark.createDataFrame(transcripts_pdf, schema=TRANSCRIPTS)
    got = extract_triples(tdf).toPandas()
    got_set = _key_set(got)
    exp_set = _key_set(expected_pdf)
    tp = len(got_set & exp_set)
    precision = tp / max(len(got_set), 1)
    recall = tp / max(len(exp_set), 1)
    assert precision >= 0.95, f"precision {precision}"
    assert recall >= 0.95, f"recall {recall}"
    # subj discipline: subj == conv_id#turn_idx for every row
    assert (got.subj == got.conv_id + "#" + got.turn_idx.astype(str)).all()


def test_sql_extraction_matches_python_path(spark, synth_corpus):
    """The pure-Catalyst extractor must emit the identical triple
    multiset as the mapInPandas path (minus span offsets)."""
    from collections import Counter

    from code_index_spark.operators.extract import extract_triples_sql

    transcripts_pdf, _ = synth_corpus
    tdf = spark.createDataFrame(transcripts_pdf, schema=TRANSCRIPTS)
    key = lambda pdf: Counter(
        zip(pdf.conv_id, pdf.turn_idx, pdf.subj, pdf.pred, pdf.obj,
            pdf.rule_id, pdf.confidence)
    )
    py = key(extract_triples(tdf).toPandas())
    sql = key(extract_triples_sql(tdf).toPandas())
    assert py == sql


def test_extraction_deterministic(spark, synth_corpus):
    transcripts_pdf, _ = synth_corpus
    tdf = spark.createDataFrame(transcripts_pdf, schema=TRANSCRIPTS)
    a = extract_triples(tdf).toPandas().sort_values(
        ["conv_id", "turn_idx", "span_start", "rule_id"]).reset_index(drop=True)
    b = extract_triples(tdf).toPandas().sort_values(
        ["conv_id", "turn_idx", "span_start", "rule_id"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


@pytest.mark.parametrize(
    "text",
    ["", "   \n\t ", "x" * 9000, None, "odd mixed bytes \u0001", "if", "@ab"],
)
def test_no_drop_edge_cases(text):
    # reference invariant: any input yields ≥0 triples, never an error
    # (tree_sitter_coordinator.py:55-118 fallback cascade)
    out = extract_turn(text, "assistant")
    assert isinstance(out, list)


def test_exact_span_semantics():
    # reference: identifier = text[start_byte:end_byte]
    # (relationship_extractor.py:115)
    text = 'deploy Acme Corp ran refresh_index() set "x y" ok'
    for pred, obj, s, e, rid, conf in extract_turn(text, "user"):
        assert text[s:e] == obj


def test_tool_kv_rule_only_for_tool_role():
    text = "status=ok\nrows_read=5"
    tool_preds = [r[4] for r in extract_turn(text, "tool")]
    user_preds = [r[4] for r in extract_turn(text, "user")]
    assert "data.kv" in tool_preds
    assert "data.kv" not in user_preds


def test_sql_extraction_matches_python_on_java_line_terminators(spark):
    """Java regex treats \\r, \\u0085, \\u2028 and \\u2029 as line ends
    for ^ $ . unless UNIX_LINES is on; Python re (and the oracle's RE2)
    end lines only at \\n. The two extractors must agree on such turns."""
    import datetime
    import itertools
    from collections import Counter

    from code_index_spark.operators.extract import extract_triples_sql

    texts = [
        "x\rqty=5", "x\u2028qty=5", "x\u2029qty=5", "x\u0085qty=5",
        "status=ok\r\nqty=5", "status=ok\nqty=5\u2028rows=2",
        "see \"a\rb\" and `c\u2028d` here",
    ]
    ts = datetime.datetime(2026, 1, 1)
    rows = [("c", i, role, t, "exec", ts) for i, (t, role) in
            enumerate(itertools.product(texts, ("tool", "assistant")))]
    tdf = spark.createDataFrame(rows, schema=TRANSCRIPTS)
    key = lambda pdf: Counter(
        zip(pdf.conv_id, pdf.turn_idx, pdf.subj, pdf.pred, pdf.obj,
            pdf.rule_id, pdf.confidence)
    )
    py = key(extract_triples(tdf).toPandas())
    assert py == key(extract_triples_sql(tdf).toPandas())
    # non-vacuous: the \n-separated kv lines do match
    assert any(k[3] == "data" for k in py)
