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
