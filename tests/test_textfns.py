"""Scalar helpers: glob translation fidelity vs fnmatch, content-type
classifier edge cases."""

import fnmatch
import re

import pytest
from pyspark.sql import functions as F

from code_index_spark.functions.textfns import content_type, glob_to_rlike


@pytest.mark.parametrize(
    "pattern",
    ["*.py", "conv-*", "a?c", "data[0-9]*", "[!x]tail", "plain", "a.b*", "x[y"],
)
def test_glob_matches_fnmatch_semantics(pattern):
    candidates = [
        "conv-001", "a.py", "abc", "axc", "a.b.c", "data7x", "datax",
        "ytail", "xtail", "plain", "x[y", "a_py",
    ]
    rx = re.compile(glob_to_rlike(pattern))
    for c in candidates:
        assert bool(rx.fullmatch(c) or rx.match(c) and rx.match(c).group() == c) == \
            fnmatch.fnmatchcase(c, pattern), (pattern, c)


def test_content_type_classes(spark):
    rows = [
        (0, ""),
        (1, "   \n "),
        (2, "status=ok\nrows=5"),
        (3, "look at ```def f(): pass``` here"),
        (4, "see https://a.example and https://b.example plus more"),
        (5, "just a plain sentence about results"),
        (6, None),
        # non-ASCII whitespace: Java/RE2 \s is ASCII-only, so a turn of
        # NBSP / LINE SEPARATOR chars is NOT 'empty' — the Python twin
        # must agree (re.ASCII; it silently diverged before round 4)
        (7, " "),
        (8, "    "),
        # Java line terminators: ^ $ treat \r \u2028 … as line ends in
        # Java (without UNIX_LINES) but not in Python re or RE2
        (9, "\u2028"),
        (10, " \u2028"),
        (11, "x\ra=b"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {r["id"]: r["ct"] for r in
           df.select("id", content_type(F.col("text")).alias("ct")).collect()}
    assert got == {0: "empty", 1: "empty", 2: "kv", 3: "code",
                   4: "url_heavy", 5: "prose", 6: "empty",
                   7: "prose", 8: "prose", 9: "prose", 10: "prose",
                   11: "prose"}
    # the Python twin used inside Arrow segmentation batches must agree
    # with the Column version on every class
    from code_index_spark.operators.segment import content_type_py

    assert {i: content_type_py(t) for i, t in rows} == got


def _old_windows(text, n: int, whole_text: bool):
    """The transform(sequence, slice) window builder the word_grams
    callers used before: whole_text floors the window count at one (a
    text of fewer than n words is one whole-text window), otherwise a
    text without a full window has none."""
    words = F.split(F.trim(text), r"\s+")
    if whole_text:
        idx = F.sequence(F.lit(1), F.greatest(F.size(words) - (n - 1), F.lit(1)))
        return F.transform(idx, lambda i: F.concat_ws(" ", F.slice(words, i, n)))
    n_words = F.when(F.length(F.trim(text)) == 0, 0).otherwise(F.size(words))
    n_win = F.greatest(n_words - (n - 1), F.lit(0))
    return F.when(
        n_win > 0,
        F.transform(F.sequence(F.lit(1), n_win),
                    lambda i: F.concat_ws(" ", F.slice(words, i, n))),
    ).otherwise(F.array().cast("array<string>"))


@pytest.mark.parametrize("whole_text", [True, False], ids=["whole_text", "no_window"])
@pytest.mark.parametrize("n", [1, 2, 3, 8])
def test_word_windows_short_text_rules(spark, n, whole_text):
    """Every word-window builder over textfns.word_grams agrees with the
    old transform(sequence, slice) form on the texts where the
    short-text rules decide: dedupe.word_ngrams and textstats.fingerprint
    give a text of fewer than n words one whole-text window, dedupe's
    hashed passage windows give it none. A NULL text has no windows:
    word_ngrams gives NULL (the old form gave [''], which no caller
    read: the shingle build drops NULL texts first), the hashed windows
    give [] and the fingerprint is NULL, as before."""
    from code_index_spark.functions.textfns import hash60
    from code_index_spark.operators.dedupe import _hashed_windows, word_ngrams
    from code_index_spark.operators.textstats import fingerprint

    words = [f"w{i}" for i in range(n + 1)]
    texts = [
        "",
        "   ",
        "\tled by a tab",
        "\nled by a newline",
        "one",
        " ".join(words[:n]),
        " ".join(words),
        "  spaced   out\twords  ",
        "naïve café — ünïcödé 文字 テキスト",
        None,
    ]
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    text = F.col("text")
    old = _old_windows(text, n, whole_text)
    if whole_text:
        # the old fingerprint's sequence(1, NULL) was NULL for NULL text
        old = F.when(text.isNotNull(), old)
        got = df.select(
            "doc_id",
            word_ngrams(text, n).alias("new"),
            F.array_distinct(old).alias("old"),
        ).collect()
        fps = {r["id"]: r["fingerprint"] for r in fingerprint(df, "doc_id", "text", n).collect()}
        old_fps = df.select(
            "doc_id",
            F.when(F.length(F.trim(text)) == 0, F.lit(0).cast("long"))
            .otherwise(F.array_min(F.transform(old, hash60))).alias("fp"),
        ).collect()
        assert fps == {r["doc_id"]: r["fp"] for r in old_fps}
    else:
        _, _, hashes = _hashed_windows("text", n)
        got = df.select(
            "doc_id", hashes.alias("new"), F.transform(old, hash60).alias("old"),
        ).collect()
    for r in got:
        assert r["new"] == r["old"], (texts[r["doc_id"]], r["new"], r["old"])
    # the inputs exercise both sides of each rule
    sizes = [len(r["new"]) for r in got if r["new"] is not None]
    assert max(sizes) > 1 and (1 if whole_text else 0) in sizes
